"""One-call corpus curation: the composed pipeline a training-data user
actually runs, built entirely from this package's operators.

``curate(docs)`` chains, in the order real pipelines apply them:

1. exact dedup (content-hash groups, keep min id) — ``dedup.dedup_exact``;
2. near-dup removal (minhash-LSH candidates, exact-Jaccard verify, drop the
   higher id of each verified pair) — ``dedup.jaccard_pairs``;
3. quality gate (Gopher rule flags) — ``text.quality_flags``;
4. repetition gate (duplicate-word / top-bigram caps) —
   ``text.repetition_stats``;
5. PII gate (drop flagged docs when ``drop_pii``) — ``text.pii_counts``;
6. optional decontamination against a probe/benchmark corpus —
   ``text.contamination``.

Returns ``(kept_docs, attrition)`` where ``attrition`` is a small report
DataFrame ``(stage, n_in, n_out, n_dropped)`` — the per-stage funnel every
curation run is judged by.  Every gate is evaluated as one boolean column
of a narrow per-doc flags frame, so ALL stage counts come from a single
conditional aggregation (one job) and only (id, flags) is ever cached.

Scale: every stage is the underlying operator's plan (bucketed equi-joins
for near-dup, broadcast probe grams for decontamination, map-side
everything else); the composition adds only doc-id anti-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tikv_data_compare_spark.operators import dedup as dd
from tikv_data_compare_spark.operators import text as tx


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_jaccard_c: int = 8000,
    max_dup_word_frac_c: int = 7000,
    max_top_bigram_frac_c: int = 1800,
    drop_pii: bool = False,
    redact_pii: bool = False,
    probes: DataFrame | None = None,
    max_contamination_hits: int = 0,
    decontam_span: int | None = None,
    decontam_bloom_m_bits: int | None = None,
    decontam_max_fp_df: int | None = None,
    decontam_algo: str | None = None,
    self_dedup_span: int | None = None,
    self_dedup_trim_span: int | None = None,
    self_dedup_trim_snap: str = "none",
    decontam_fuzzy_jaccard_c: int | None = None,
    keep_langs: list[str] | None = None,
    max_lm_nll_c: int | None = None,
    lm_train: DataFrame | None = None,
    dsir_target: DataFrame | None = None,
    min_dsir_logw_c: int = 0,
    dsir_top_frac: float | None = None,
    dsir_n_buckets: int = 4096,
    quality_seed: DataFrame | None = None,
    quality_crawl: DataFrame | None = None,
    min_quality_c: int | None = None,
    quality_n_buckets: int = 2048,
    quality_algo: str = "md5i64",
    c4_rules: bool = False,
    c4_min_kept_lines: int = 3,
    blocked_sources: list[str] | None = None,
    source_col: str = "source",
    algo: str = "md5i64",
) -> tuple[DataFrame, DataFrame]:
    """Run the full curation chain; see module docstring.

    Thresholds are scaled ×10000 like every engine fraction.  Stages run in
    the order of the arguments below; a doc missing from a screening
    stage's output (e.g. NULL text) keeps, while a doc that a quality stage
    cannot confirm drops.

    ``drop_pii`` adds a ``pii`` stage.  ``redact_pii`` instead masks PII
    spans in the survivors' text with typed placeholders
    (``text.pii_redact``); it is a transform after the last gate, so the
    attrition funnel is unchanged.

    ``probes`` adds a decontamination stage: docs with more than
    ``max_contamination_hits`` shared n-grams drop (``text.contamination``).
    With ``decontam_span`` the stage is EXACT instead
    (``text.decontaminate_substring``): any doc sharing a verbatim span of
    at least that many characters with a probe drops.
    ``decontam_bloom_m_bits`` passes that operator's Bloom prefilter for
    corpus-sized probe sets (same result).

    ``decontam_fuzzy_jaccard_c`` adds a ``decontamination_fuzzy`` stage
    (``text.decontaminate_fuzzy``): docs whose shingle-set Jaccard with any
    probe reaches the threshold drop.  It runs in addition to the verbatim
    stage.

    ``self_dedup_span`` adds a ``self_dedup_span`` stage, the
    corpus-internal ExactSubstr pass of Lee et al. 2021
    (``text.self_dedup_kept``): any doc sharing a verbatim span of at least
    that many chars with a SMALLER-id doc drops.  ``self_dedup_trim_span``
    is its span-surgical sibling (``text.self_dedup_trim``), a transform
    rather than a gate: survivors keep their row with every such span cut
    out of their text, the reference being the full input corpus.  It runs
    before PII redaction.  ``self_dedup_trim_snap="word"`` widens each cut
    to whitespace so no word is partly removed.

    The span stages share one persisted winnow frame per distinct span.
    ``decontam_max_fp_df`` is their hot-fingerprint threshold: the
    verdicts are identical at any value, but on template-heavy corpora the
    uncapped candidate joins are quadratic, so set it from the corpus's
    fingerprint-frequency histogram.  ``decontam_algo`` is their winnow
    hash (default ``xxhash64``; ``md5i64`` is DuckDB-replayable); the span
    verdicts do not depend on it.

    ``algo`` is the near-dup stage's shingle hash: ``md5i64`` (default,
    DuckDB-oracle checkable) or ``xxhash64``.  The near-dup kept set
    depends on it (a different, equally valid LSH family).

    ``keep_langs`` adds a ``language`` stage: only docs whose predicted
    language (``text.lang_id``) is listed survive.  ``max_lm_nll_c`` adds
    a ``fluency`` stage (CCNet-style): docs whose mean bigram cost
    (``text.ngram_lm_score``, ×1e6) exceeds the cap drop, as do docs with
    fewer than 2 words; ``lm_train`` trains the model on a clean reference
    corpus instead of the input.

    ``dsir_target`` adds a ``dsir_quality`` stage: each doc's DSIR
    importance weight against the target corpus
    (``sampling.dsir_weights``, ×1e6 log units).  ``dsir_top_frac=q``
    keeps the top ``ceil(q·n)`` scored docs (ties by id); otherwise
    ``min_dsir_logw_c`` is an absolute threshold.  Zero-feature docs drop.

    ``quality_seed`` adds a ``quality_classifier`` stage
    (``sampling.quality_classifier``): an integer-frozen hashed-n-gram
    classifier of seed versus crawl (default crawl: the input itself).
    Docs keep when their mean log-odds clears the trained boundary, or
    ``min_quality_c`` (×1e6) when given.  ``quality_algo`` is its feature
    hash; the kept set depends on it, so ``md5i64`` (DuckDB-checkable)
    stays the default and ``xxhash64`` is the faster explicit choice.

    ``c4_rules`` adds a ``boilerplate`` stage (``text.c4_flags``): docs
    with 'lorem ipsum', a curly brace, or fewer than ``c4_min_kept_lines``
    clean lines drop.  ``blocked_sources`` adds a ``url_blocklist`` stage:
    docs whose ``source_col`` is listed drop (NULL source keeps).

    Returns ``(kept, attrition)``.  ``kept`` is **persisted** (already
    materialized); call ``kept.unpersist()`` when done with it.  Every
    other frame curate persists is released before returning; on an
    exception everything, ``kept`` included, is released before it
    propagates.  Broadcasts and checkpoints made by the gates belong to
    the frames that read them and go with those frames.  Argument errors
    raise ``ValueError`` before any frame is built.
    """
    spark = docs.sparkSession

    # ---- validation preamble ---------------------------------------------
    # EVERY cheap argument validation runs here, before any frame is built
    # or persisted, so a bad argument never starts work; a knob that would
    # be silently ignored raises too.
    if decontam_bloom_m_bits is not None and (
        probes is None or decontam_span is None
    ):
        # silently ignoring the scale knob would run the unbounded probe
        # broadcast the caller explicitly asked to avoid (the keep_langs
        # loud-validation convention)
        raise ValueError(
            "decontam_bloom_m_bits requires probes= AND decontam_span= "
            "(it is the exact-substring stage's corpus-sized-probe mode)"
        )
    # span geometry floor (= the operators' min_span >= k+1 with the
    # funnel's k=5): checked HERE so a bad span can't raise after frames
    # are built/persisted (the same leak class the preamble exists for)
    for _nm, _sp in (
        ("decontam_span", decontam_span),
        ("self_dedup_span", self_dedup_span),
        ("self_dedup_trim_span", self_dedup_trim_span),
    ):
        if _sp is not None and int(_sp) < 6:
            raise ValueError(
                f"{_nm} must be >= 6 (the winnow geometry floor: "
                f"min_span >= k + 1 with k = 5), got {_sp}"
            )
    if self_dedup_trim_snap not in ("none", "word"):
        # loud-validation + preamble hoist: the operator would reject it
        # too, but only after the winnow frames were built and persisted
        raise ValueError(
            f"self_dedup_trim_snap must be 'none' or 'word', got "
            f"{self_dedup_trim_snap!r}"
        )
    if self_dedup_trim_snap != "none" and self_dedup_trim_span is None:
        raise ValueError(
            "self_dedup_trim_snap requires self_dedup_trim_span= (it "
            "shapes that transform's cut boundaries)"
        )
    _no_span_stage = (
        (probes is None or decontam_span is None)
        and self_dedup_span is None
        and self_dedup_trim_span is None
    )
    if decontam_max_fp_df is not None and _no_span_stage:
        # same loud-validation convention: a silently-ignored cap would let
        # the caller believe the hot-fingerprint prune ran when it didn't
        raise ValueError(
            "decontam_max_fp_df requires a span stage — probes= AND "
            "decontam_span=, and/or self_dedup_span= / "
            "self_dedup_trim_span= (it routes the stages' hot "
            "fingerprints through the exact rekey split)"
        )
    if decontam_algo is not None and _no_span_stage:
        # decontam_algo only feeds the exact-span winnow stages; with none
        # configured it would be silently ignored
        raise ValueError(
            "decontam_algo requires a span stage — probes= AND "
            "decontam_span=, and/or self_dedup_span= / "
            "self_dedup_trim_span= (it selects the exact-substring "
            "stages' winnow gram hash)"
        )
    if decontam_fuzzy_jaccard_c is not None and probes is None:
        raise ValueError(
            "decontam_fuzzy_jaccard_c requires probes= (it thresholds "
            "the shingle-Jaccard against the probe corpus)"
        )
    if keep_langs is not None:
        # normalize + validate: a typo'd or unknown code would otherwise
        # silently drop the ENTIRE corpus (isin never matches), and a bare
        # string would explode into characters.  Known codes
        # are the classifier's stopword inventory.
        if isinstance(keep_langs, str):
            keep_langs = [keep_langs]
        keep_langs = [str(c).strip().lower() for c in keep_langs if str(c).strip()]
        known = set(tx._stopwords())
        unknown = sorted(set(keep_langs) - known)
        if not keep_langs or unknown:
            raise ValueError(
                f"keep_langs {unknown or keep_langs} not in the classifier's "
                f"languages {sorted(known)}"
            )
    if max_lm_nll_c is not None and int(max_lm_nll_c) <= 0:
        raise ValueError(
            f"max_lm_nll_c must be a positive scaled cost, got {max_lm_nll_c}"
        )
    if dsir_top_frac is not None and not 0.0 < float(dsir_top_frac) <= 1.0:
        raise ValueError(
            f"dsir_top_frac must be in (0, 1], got {dsir_top_frac}"
        )
    if min_quality_c is not None and quality_seed is None:
        # the keep_langs loud-validation convention: a threshold with no
        # model silently gates nothing
        raise ValueError(
            "min_quality_c requires quality_seed= (it thresholds the "
            "trained classifier's length-normalized score)"
        )
    if quality_crawl is not None and quality_seed is None:
        raise ValueError(
            "quality_crawl requires quality_seed= (it is the classifier's "
            "negative class)"
        )
    if blocked_sources is not None:
        if isinstance(blocked_sources, str):
            blocked_sources = [blocked_sources]
        blocked_sources = [str(s) for s in blocked_sources if str(s).strip()]
        if not blocked_sources:
            raise ValueError("blocked_sources must name at least one source")
        if source_col not in docs.columns:
            raise ValueError(
                f"blocked_sources given but input has no {source_col!r} column"
            )
    # ---- end preamble: everything below may build and persist frames ----

    # Every gate except near-dup is a per-doc predicate, and the near-dup
    # loser set depends only on the exact-survivor subset, so the whole
    # funnel is ONE narrow flags frame (id + one boolean per stage,
    # conjoined in stage order) and ONE conditional aggregation for every
    # attrition count; only (id, flags) is kept, never per-stage text.
    from concurrent.futures import ThreadPoolExecutor

    from tikv_data_compare_spark.session import scale_out

    # span stages' winnow hash: xxhash64 unless pinned (the span verdicts
    # do not depend on it; md5i64 is the DuckDB-replayable gate hash)
    da = decontam_algo if decontam_algo is not None else "xxhash64"
    cached: list[DataFrame] = []
    kept = None
    done = False
    # warm-up counts run as overlapped jobs; every future is joined before
    # the first consumer's action, so consumers always see a warm cache
    pool = ThreadPoolExecutor(max_workers=2)
    warm: list = []

    def _cache(df: DataFrame) -> DataFrame:
        # materialized EAGERLY: a lazily persisted frame read by several
        # subtrees of one job races the cache (AQE runs those query stages
        # concurrently) and each stage recomputes it
        df = df.persist()
        cached.append(df)
        warm.append(pool.submit(df.count))
        return df

    try:
        exact_ids = dd.dedup_exact(docs, id_col, text_col).select(id_col)
        # widen the scan BEFORE the semi-join: the shingle hashing below is
        # a heavy map over the semi-join output, which keeps the scan's
        # split count (session.scale_out docstring)
        exact_docs = scale_out(docs, key=id_col).join(exact_ids, id_col, "left_semi")
        # jaccard_pairs reads the (id, shingles, hashes) projection in three
        # branches; caching it runs the shingle hash once per corpus
        sh = _cache(dd.hashed_shingle_arrays(exact_docs, id_col, text_col, algo=algo))
        # one persisted winnow frame per distinct span, shared by every span
        # stage of that geometry through the operators' doc_fps= seams (the
        # operators read it in up to four subtrees)
        span_fps: dict[int, DataFrame] = {}
        for span in (
            decontam_span if probes is not None else None,
            self_dedup_span,
            self_dedup_trim_span,
        ):
            if span is not None and int(span) not in span_fps:
                span_fps[int(span)] = _cache(tx.winnow_fingerprints(
                    docs, id_col, text_col, k=5, w=int(span) - 4, algo=da,
                ))
        losers = (
            dd.jaccard_pairs(exact_docs, id_col, text_col, algo=algo, shingles=sh)
            .filter(F.col("jaccard_c") >= near_dup_jaccard_c)
            .select(F.col("doc_b").alias(id_col))
            .distinct()
        )
        # (stage name, (id, ok) frame, verdict for a doc missing from the
        # frame), in funnel order.  Frames are LEFT-joined: an explode-based
        # stage emits no row for a NULL/empty-text doc, and an inner join
        # would erase it from every count.  Screens of a doc against
        # something else keep such docs (an unscreened doc is not a
        # confirmed hit); confirmations of the doc itself drop them.
        gates = [
            ("exact_dedup", exact_ids.select(id_col, F.lit(True)), False),
            ("near_dedup", losers.select(id_col, F.lit(False)), True),
            (
                "quality",
                tx.quality_flags(docs, id_col, text_col).select(id_col, F.col("keep") == 1),
                False,
            ),
            (
                "repetition",
                tx.repetition_stats(docs, id_col, text_col).select(
                    id_col,
                    (F.col("dup_word_frac_c") <= max_dup_word_frac_c)
                    & (F.col("top_bigram_frac_c") <= max_top_bigram_frac_c),
                ),
                False,
            ),
        ]
        if drop_pii:
            pii = tx.pii_counts(docs, id_col, text_col)
            gates.append(("pii", pii.select(id_col, F.col("has_pii") == 0), True))
        if probes is not None:
            # probe id: 'probe_id' when present, else the first column; always
            # renamed so probes cut from the corpus (same 'doc_id' column) do
            # not make the candidate joins ambiguous
            pid = "probe_id" if "probe_id" in probes.columns else probes.columns[0]
            probes_n = probes.select(F.col(pid).alias("_probe_id"), F.col(text_col))
            if decontam_span is not None:
                conta = tx.decontaminate_substring(
                    docs, probes_n, id_col, text_col,
                    probe_id_col="_probe_id", probe_text_col=text_col,
                    min_span=int(decontam_span),
                    bloom_m_bits=decontam_bloom_m_bits,
                    algo=da,
                    max_fp_df=decontam_max_fp_df,
                    doc_fps=span_fps[int(decontam_span)],
                    verdict_only=True,
                ).select(id_col, ~F.col("contaminated"))
                gates.append(("decontamination_exact", conta, True))
            else:
                conta = tx.contamination(
                    docs, probes_n, id_col, text_col,
                    probe_id_col="_probe_id", probe_text_col=text_col,
                ).select(id_col, F.col("n_hit_grams") <= max_contamination_hits)
                gates.append(("decontamination", conta, True))
        if decontam_fuzzy_jaccard_c is not None:
            # paraphrase-level overlap: a different criterion than the
            # verbatim-span / n-gram stages, run in addition to them
            fuzzy = tx.decontaminate_fuzzy(
                docs, probes_n, id_col, text_col,
                probe_id_col="_probe_id", probe_text_col=text_col,
                threshold_bp=int(decontam_fuzzy_jaccard_c), algo=algo,
            ).select(id_col, ~F.col("contaminated"))
            gates.append(("decontamination_fuzzy", fuzzy, True))
        if self_dedup_span is not None:
            # corpus-internal ExactSubstr, globally-first keep rule; the gate
            # reads only `kept`, so it takes the kept-only operator
            sd = tx.self_dedup_kept(
                docs, id_col, text_col,
                min_span=int(self_dedup_span), k=5,
                algo=da, doc_fps=span_fps[int(self_dedup_span)],
                max_fp_df=decontam_max_fp_df,
            ).select(id_col, "kept")
            gates.append(("self_dedup_span", sd, True))
        if keep_langs is not None:
            lang = tx.lang_id(docs, id_col, text_col).select(
                id_col, F.col("pred_lang").isin(list(keep_langs))
            )
            gates.append(("language", lang, False))
        if max_lm_nll_c is not None:
            lm = tx.ngram_lm_score(docs, id_col, text_col, train=lm_train).select(
                id_col,
                F.col("lm_nll_c").isNotNull()
                & (F.col("lm_nll_c") <= int(max_lm_nll_c)),
            )
            gates.append(("fluency", lm, False))
        if dsir_target is not None:
            # DSIR importance weight against the target corpus (Xie et al.
            # 2023); zero-feature docs drop.  For resampling instead of
            # thresholding, run sampling.dsir_sample downstream.
            from tikv_data_compare_spark.operators.sampling import dsir_weights

            dw = dsir_weights(
                docs, dsir_target, id_col, text_col, n_buckets=int(dsir_n_buckets)
            )
            if dsir_top_frac is not None:
                # keep the top ceil(frac · n_scored) docs by weight: exact
                # rank via the bucketed global index (no single-partition
                # window), ties by id, n derived in-plan (1-row broadcast)
                from tikv_data_compare_spark.operators.scan import (
                    with_global_index,
                )

                scored = dw.where(F.col("dsir_logw_c").isNotNull()).withColumn(
                    "_dsir_neg", -F.col("dsir_logw_c")
                )
                ranked = with_global_index(
                    scored, ["_dsir_neg", id_col], name="_dsir_rk"
                )
                n_scored = scored.agg(
                    F.count(F.lit(1)).cast("long").alias("_dsir_n")
                )
                dw_ok = ranked.crossJoin(F.broadcast(n_scored)).select(
                    id_col,
                    F.col("_dsir_rk") <= F.ceil(F.col("_dsir_n") * float(dsir_top_frac)),
                )
            else:
                dw_ok = dw.select(
                    id_col,
                    F.col("dsir_logw_c").isNotNull()
                    & (F.col("dsir_logw_c") >= int(min_dsir_logw_c)),
                )
            gates.append(("dsir_quality", dw_ok, False))
        if quality_seed is not None:
            from tikv_data_compare_spark.operators.sampling import (
                quality_classifier,
            )

            # quality_algo is its own knob: unlike the span verdicts, the
            # classifier's kept set depends on the feature hash
            qc = quality_classifier(
                docs, quality_seed, crawl=quality_crawl,
                id_col=id_col, text_col=text_col,
                n_buckets=int(quality_n_buckets),
                algo=quality_algo,
            )
            if min_quality_c is not None:
                # ×1e6 mean-log-odds threshold, cross-multiplied (no division)
                qc_ok = qc.select(
                    id_col,
                    F.col("q_sum_c") >= F.lit(int(min_quality_c)) * F.col("q_n_feats"),
                )
            else:
                qc_ok = qc.select(id_col, "q_keep")
            gates.append(("quality_classifier", qc_ok, False))
        if c4_rules:
            c4 = tx.c4_flags(
                docs, id_col, text_col, min_kept_lines=c4_min_kept_lines
            ).select(id_col, "c4_keep")
            gates.append(("boilerplate", c4, False))
        if blocked_sources is not None:
            src = docs.select(id_col, ~F.col(source_col).isin(blocked_sources))
            gates.append(("url_blocklist", src, True))

        flags = docs.select(id_col)
        stage_cols: list[str] = []
        prev = F.lit(True)
        for i, (_, ok, on_missing) in enumerate(gates):
            flags = flags.join(ok.toDF(id_col, f"_ok{i}"), id_col, "left").withColumn(
                f"_s{i}", prev & F.coalesce(f"_ok{i}", F.lit(on_missing))
            )
            prev = F.col(f"_s{i}")
            stage_cols.append(f"_s{i}")

        for f in warm:
            f.result()
        # localCheckpoint, not persist: the flags rows are tiny, but their
        # lineage is the whole funnel, and a persisted frame would make every
        # consumer (the kept semi-join, the trim's later_ids, the caller's
        # actions over kept) re-analyze that plan.  The checkpoint truncates
        # it to a leaf; its blocks go with the frame (ContextCleaner).
        flags = flags.select(id_col, *stage_cols).localCheckpoint()
        row = flags.agg(
            F.count(F.lit(1)).alias("_n0"),
            *[F.sum(F.col(c).cast("long")).alias(f"_n{i + 1}") for i, c in enumerate(stage_cols)],
        ).collect()[0]
        counts = [int(row[f"_n{i}"]) for i in range(len(stage_cols) + 1)]

        survivors = flags.filter(F.col(stage_cols[-1])).select(id_col)
        kept = docs.join(survivors, id_col, "left_semi")
        if self_dedup_trim_span is not None:
            # a TRANSFORM, not a gate: survivors keep their row with every
            # >= span-char verbatim span shared with a smaller-id doc of the
            # FULL input corpus cut out (duplicated content is duplicated
            # whether or not its earlier carrier survived).  Only survivors
            # are trimmed; runs before redaction so masking sees final text.
            trimmed = tx.self_dedup_trim(
                docs, id_col, text_col,
                min_span=int(self_dedup_trim_span), k=5, algo=da,
                doc_fps=span_fps[int(self_dedup_trim_span)],
                max_fp_df=decontam_max_fp_df,
                snap=self_dedup_trim_snap,
                later_ids=survivors,
            ).select(id_col, F.col("text_trimmed"))
            kept = (
                kept.join(trimmed, id_col)
                .withColumn(text_col, F.col("text_trimmed"))
                .drop("text_trimmed")
            )
        if redact_pii:
            # a TRANSFORM, not a gate: survivors keep their row with PII
            # spans masked (map-side, inside the kept materialization)
            kept = tx.pii_redact(kept, text_col=text_col)
        kept = kept.persist()
        kept.count()  # materialize so the caches can be released below
        done = True
    finally:
        # on error, in-flight warm-ups finish before their frames are
        # released, and the half-built kept frame goes too
        pool.shutdown(wait=True, cancel_futures=True)
        for f in cached if done or kept is None else [*cached, kept]:
            f.unpersist()
    attrition = tx._literal_frame(
        spark,
        [
            (g[0], counts[i], counts[i + 1], counts[i] - counts[i + 1])
            for i, g in enumerate(gates)
        ],
        "stage string, n_in long, n_out long, n_dropped long",
    )
    return kept, attrition
