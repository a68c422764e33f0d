"""Text-analysis operators: stats/quality, language ID, fingerprinting.

All built from JVM-side array/string builtins (split/filter/transform — no
Python UDFs), so they run at full codegen speed over 100 TB of documents and
remain DuckDB-oracle checkable via the shared canon/hash primitives.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window, functions as F, types as T

from tikv_data_compare_spark.functions import sqlgen


def _stopwords():
    from tikv_data_compare_spark.queries import STOPWORDS

    return STOPWORDS


def _literal_frame(spark, rows, ddl: str) -> DataFrame:
    """A small driver-side table as a JVM literal frame.

    ``spark.createDataFrame(<list>)`` serves its rows through a PythonRDD,
    so every action on it starts Python tasks; an inlined array of struct
    literals over a one-row range stays in the JVM."""
    schema = T.StructType.fromDDL(ddl)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, schema)])
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(T.ArrayType(schema)))
    )


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality stats: token count, char count, mean word length
    (scaled ×10000), stopword count, punctuation count.

    Scale shape: the stopword count is an explode → broadcast-join → groupBy
    (fully codegen'd) rather than a per-element array-lambda — higher-order
    functions are interpreted in Spark and ~100× slower per token.
    """
    spark = df.sparkSession
    sw = sorted({w for ws in _stopwords().values() for w in ws})
    swdf = _literal_frame(spark, [(w,) for w in sw], "w string")
    words = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("w"))
    sw_counts = (
        words.join(F.broadcast(swdf), "w")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_stopwords"))
    )
    ws = f"split({text_col}, ' ')"
    scalar = df.select(
        id_col,
        F.expr(f"CAST(size({ws}) AS BIGINT)").alias("n_tokens"),
        F.expr(f"CAST(length({text_col}) AS BIGINT)").alias("n_chars"),
        F.expr(
            f"CAST(ROUND(10000.0 * (length({text_col}) - size({ws}) + 1) / size({ws})) AS BIGINT)"
        ).alias("mean_word_len_c"),
        F.expr(
            f"CAST(length({text_col}) - length(replace(replace(replace({text_col}, '.', ''), ',', ''), '!', '')) AS BIGINT)"
        ).alias("n_punct"),
    )
    return scalar.join(sw_counts, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_chars",
        "mean_word_len_c",
        F.coalesce(F.col("n_stopwords"), F.lit(0)).cast("long").alias("n_stopwords"),
        "n_punct",
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: score = |words ∩ stopwords(lang)|,
    prediction = argmax with alphabetical tie-break.

    Scale shape: one explode, one broadcast join against the (word, lang)
    stopword table, one pivot-style conditional aggregation — all codegen'd,
    no array lambdas."""
    spark = df.sparkSession
    stop = _stopwords()
    langs = sorted(stop)
    swdf = _literal_frame(
        spark, [(w, la) for la in langs for w in stop[la]], "w string, sw_lang string"
    )
    words = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("w"))
    counts = (
        words.join(F.broadcast(swdf), "w")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.when(F.col("sw_lang") == la, 1).otherwise(0)).alias(f"c_{la}")
                for la in langs
            ]
        )
    )
    # the labeled language rides along when the input carries one (the
    # fixture tables do); unlabeled corpora get NULL — the prediction does
    # not require a label (r8: curate()'s keep_langs gate feeds arbitrary
    # corpora through here)
    labeled = F.col("lang") if "lang" in df.columns else F.lit(None).cast("string")
    base = df.select(id_col, labeled.alias("labeled_lang"))
    scored = base.join(counts, id_col, "left").select(
        id_col,
        "labeled_lang",
        *[F.coalesce(F.col(f"c_{la}"), F.lit(0)).cast("long").alias(f"c_{la}") for la in langs],
    )
    # zero stopword evidence (NULL/empty text, or no overlap at all) yields
    # a NULL prediction — without the guard the first >=-arm would fire and
    # every junk doc would be confidently "classified" as the alphabetically
    # first language (r8 review: that made curate()'s documented
    # unconfirmable-language drop path unreachable)
    allc = ", ".join(f"c_{la}" for la in langs)
    argmax = f"CASE WHEN greatest({allc}) <= 0 THEN NULL " + " ".join(
        f"WHEN c_{la} >= greatest({', '.join('c_' + lb for lb in langs if lb != la)}) THEN '{la}'"
        for la in langs
    ) + " END"
    return scored.select(
        id_col, "labeled_lang", F.expr(argmax).alias("pred_lang"), *[f"c_{la}" for la in langs]
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-independent document fingerprint: XOR of md5-fold hashes of the
    distinct word 3-shingles (rolling n-gram set; whole text when < 3 tokens).

    Scale: entirely map-side — the distinct shingle set, its hashes, and
    the XOR fold are array higher-order functions over one projected token
    array; zero shuffle (the r6 shape exploded + distincted + grouped the
    corpus's shingles).  md5 is staged through an inner ``transform`` so
    the 30× hexfold repetition folds a lambda variable, not 30 md5 calls.
    """
    from tikv_data_compare_spark.session import scale_out

    toks = scale_out(df, key=id_col).select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    arrays = toks.select(
        id_col,
        F.expr(
            "array_distinct(CASE WHEN size(_toks) >= 3 THEN "
            "transform(sequence(0, size(_toks) - 3), "
            "i -> concat_ws(' ', _toks[i], _toks[i+1], _toks[i+2])) "
            "ELSE array(_txt) END)"
        ).alias("_sh"),
    )
    return arrays.select(
        id_col,
        F.expr(
            f"CAST(aggregate(transform(transform(_sh, s -> md5(s)), "
            f"m -> {sqlgen.hexfold_i64('m')}), 0L, (acc, h) -> acc ^ h) AS BIGINT)"
        ).alias("fingerprint"),
    )


def quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    mean_word_len_lo_c: int = 20_000,
    mean_word_len_hi_c: int = 100_000,
    max_punct_ratio_c: int = 1_000,
    min_stopword_ratio_c: int = 200,
) -> DataFrame:
    """Gopher-style rule-based quality gate over :func:`text_stats`.

    Emits one row per document with each rule's pass flag (1/0) and the
    conjunction ``keep``: token-count bounds, mean-word-length band,
    punctuation-ratio cap, stopword-ratio floor (ratios scaled ×10000 —
    exact integer math, engine-stable).  This is the filter stage a
    training-data pipeline composes in front of dedup; one pass over the
    stats, no extra scan of the corpus.
    """
    s = text_stats(df, id_col, text_col)
    punct_ratio = F.expr("CAST(ROUND(10000.0 * n_punct / greatest(n_chars, 1)) AS BIGINT)")
    sw_ratio = F.expr("CAST(ROUND(10000.0 * n_stopwords / greatest(n_tokens, 1)) AS BIGINT)")
    flags = s.select(
        id_col,
        "n_tokens",
        F.when(
            (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens), 1
        ).otherwise(0).cast("long").alias("ok_len"),
        F.when(
            (F.col("mean_word_len_c") >= mean_word_len_lo_c)
            & (F.col("mean_word_len_c") <= mean_word_len_hi_c),
            1,
        ).otherwise(0).cast("long").alias("ok_word_len"),
        F.when(punct_ratio <= max_punct_ratio_c, 1).otherwise(0).cast("long").alias("ok_punct"),
        F.when(sw_ratio >= min_stopword_ratio_c, 1).otherwise(0).cast("long").alias("ok_stopwords"),
    )
    return flags.withColumn(
        "keep",
        (
            F.col("ok_len") * F.col("ok_word_len") * F.col("ok_punct") * F.col("ok_stopwords")
        ).cast("long"),
    )


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio ×10000 (compressed/raw bytes) —
    the entropy proxy corpus pipelines use alongside the Gopher rules:
    boilerplate and repeated text compress far below natural prose, random
    noise compresses above it, so both tails are drop candidates.

    DEFLATE is bit-deterministic for a fixed library/level, so results are
    retry-stable; zlib is stdlib (no environment gamble).  Runs as an
    Arrow-batched mapInPandas — compression is genuinely per-row Python
    work, but there is no JVM expression for it and the payload never
    shuffles (map-only).  No SQL oracle (DuckDB has no zlib); semantics
    pinned by tests against direct zlib calls."""
    out_schema = f"{id_col} long, n_bytes long, n_compressed long, compression_ratio_c long"

    def compress(batches: Iterator) -> Iterator:
        import zlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                rows.append(
                    {
                        id_col: int(doc_id),
                        "n_bytes": len(raw),
                        "n_compressed": len(comp),
                        "compression_ratio_c": round(10000 * len(comp) / len(raw))
                        if raw
                        else None,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(compress, out_schema)


def contamination(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Test-set decontamination: per document, how many of its distinct word
    ``n``-grams appear in ANY probe document (the benchmark/eval corpus) —
    the overlap screen run before training to avoid leaking evaluation data
    (texts shorter than ``n`` words fall back to the whole text, so exact
    short matches still hit).

    Returns ``(id, n_grams, n_hit_grams, hit_frac_c)`` for every document;
    callers threshold ``n_hit_grams``/``hit_frac_c`` to drop or audit.

    Scale shape: the probe set is benchmark-sized (thousands of docs) while
    the corpus is the 100 TB side, so the distinct probe n-gram set is
    **broadcast** and the corpus n-grams stream map-side through the hash
    join — no corpus shuffle beyond the per-doc count aggregation.  Exact
    integer output (hit fraction ×10000).  The corpus side is widened via
    ``scale_out`` before the explode (r15): the gram blow-up runs at the
    SCAN's parallelism, and a small well-compressed parquet plans 2 splits
    — measured 20 s wall ≈ 22 cpu-s at sf1 (2 of 32 cores busy) before,
    1.9 s min-of-3 after; a no-op on a real many-split corpus.
    """
    from tikv_data_compare_spark.session import scale_out

    docs = scale_out(docs, key=id_col)

    def grams(df: DataFrame, idc: str, tc: str) -> DataFrame:
        ws = f"split({tc}, ' ')"
        return df.select(
            F.col(idc),
            F.explode(
                F.expr(
                    f"CASE WHEN size({ws}) >= {n} THEN "
                    f"transform(sequence(0, size({ws}) - {n}), i -> concat_ws(' ', slice({ws}, i + 1, {n}))) "
                    f"ELSE array({tc}) END"
                )
            ).alias("gram"),
        ).distinct()

    d = grams(docs, id_col, text_col)
    p = grams(probes, probe_id_col, probe_text_col).select("gram").distinct()
    # ONE pass over the corpus gram stream (r15): the r6-r14 shape ran two
    # branches (per-doc totals + inner-join hit counts) that each re-ran
    # the explode+distinct subtree — a LEFT broadcast join with a probe
    # marker folds both counts into one aggregation, halving the corpus
    # work (result unchanged; the gate row re-checked hash-green)
    return (
        d.join(F.broadcast(p.withColumn("_hit", F.lit(1))), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("_hit").cast("long").alias("n_hit_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit_grams",
            F.expr(
                "CAST(ROUND(10000.0 * n_hit_grams / n_grams) AS BIGINT)"
            ).alias("hit_frac_c"),
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    use duplicate-line and top-n-gram fractions to drop boilerplate):

    - ``dup_word_frac_c``: 1 − distinct/total words, ×10000 — high for
      word-level copy-paste loops;
    - ``top_bigram_frac_c``: share of all adjacent-word bigrams taken by
      the single most frequent one, ×10000 (0 when < 2 words) — high for
      templated/repeated phrasing.

    Shape: entirely map-side — word counts are ``size``/``array_distinct``
    over the projected token array, and the most-frequent-bigram count is a
    longest-equal-run fold over the ``array_sort``-ed bigram array (the r6
    shape ran one explode + two groupBy shuffles keyed by doc).  NULL-text
    docs are filtered, preserving the explode shape's absent-row behavior.
    Exact integer math — oracle-stable.
    """
    from tikv_data_compare_spark.session import scale_out

    toks = scale_out(df.filter(F.col(text_col).isNotNull()), key=id_col).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    with_bi = toks.select(
        id_col,
        F.expr("CAST(size(_toks) AS BIGINT)").alias("n_words"),
        F.expr("CAST(size(array_distinct(_toks)) AS BIGINT)").alias("n_distinct"),
        F.expr(
            "array_sort(CASE WHEN size(_toks) < 2 THEN array() "
            "ELSE transform(sequence(1, size(_toks) - 1), "
            "i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1))) END)"
        ).alias("_bi"),
    )
    # longest run of equal adjacent bigrams in the sorted array == count of
    # the most frequent bigram; one O(n) fold, no per-doc groupBy
    max_run = (
        "aggregate(_bi, "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', IF(x <=> acc.prev, acc.run + 1, 1L), "
        "'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1L))), "
        "acc -> acc.best)"
    )
    return with_bi.select(
        id_col,
        F.expr(
            "CAST(ROUND(10000.0 * (n_words - n_distinct) / n_words) AS BIGINT)"
        ).alias("dup_word_frac_c"),
        F.coalesce(
            F.expr(
                f"CAST(ROUND(10000.0 * {max_run} / size(_bi)) AS BIGINT)"
            ),
            F.lit(0),
        ).alias("top_bigram_frac_c"),
    )


def _winnow_hash_chain(text_col: str, k: int, algo: str) -> str:
    """SQL for the per-doc char-``k``-gram hash array (winnow stage 1).

    Shared by :func:`winnow_fingerprints` and the hot-fingerprint re-key
    pass (which must reproduce the winnow window minima positionally)."""
    from tikv_data_compare_spark.operators.dedup import _check_algo

    _check_algo(algo)
    if algo == "xxhash64":
        return (
            f"transform("
            f"transform(sequence(1, greatest(length({text_col}) - {k} + 1, 1)), "
            f"i -> substr({text_col}, i, {k})), "
            f"g -> xxhash64(g) & {(1 << 30) - 1})"
        )
    return (
        f"transform(transform("
        f"transform(sequence(1, greatest(length({text_col}) - {k} + 1, 1)), "
        f"i -> substr({text_col}, i, {k})), "
        f"g -> md5(g)), m -> ({sqlgen.hexfold_i64('m')}) & {(1 << 30) - 1})"
    )


def _span_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_span: int,
    with_pos: bool = False,
) -> DataFrame:
    """Every ``min_span``-character gram of every doc, as rows.

    ``(id, gram)`` — or ``(id, _i, gram)`` with the 1-based start position
    when ``with_pos`` — one row per POSITION (not deduplicated: callers on
    the 100 TB side keep this map-side and dedupe after their joins, so the
    corpus text never shuffles here).  Docs shorter than ``min_span``
    contribute nothing (no span of that length exists).  This is the exact
    re-key primitive of the hot-fingerprint path: two docs share a span of
    ``>= min_span`` chars iff they share a gram STRING, so a join on
    ``gram`` is itself the verbatim check — no hash, no false positives.
    """
    from tikv_data_compare_spark.session import scale_out

    base = scale_out(df, key=id_col).where(F.length(text_col) >= min_span)
    arr = (
        f"transform(sequence(1, length({text_col}) - {min_span} + 1), "
        f"i -> named_struct('i', i, 'g', substr({text_col}, i, {min_span})))"
    )
    # explode_OUTER for the same reason as winnow_fingerprints: plain
    # explode triggers InferFiltersFromGenerate, inlining the transform
    # chain into a pushed filter (re-running it); the array is never empty
    # after the length guard, so outer adds no rows
    g = base.select(F.col(id_col), F.explode_outer(F.expr(arr)).alias("_sg"))
    cols = [F.col(id_col), F.col("_sg.g").alias("gram")]
    if with_pos:
        cols.insert(1, F.col("_sg.i").alias("_i"))
    return g.select(*cols)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    algo: str = "md5i64",
) -> DataFrame:
    """Winnowing rolling-hash fingerprints (MOSS-style, Schleimer et al.):
    hash every character ``k``-gram, slide a window of ``w`` consecutive
    gram hashes, keep each window's minimum; the distinct kept hashes are
    the document's fingerprint set.  Guarantees every match of length
    ``>= w+k-1`` between two documents shares a fingerprint.

    Spark shape: entirely map-side — the gram hashes, the per-window minima
    (``array_min`` over a ``slice`` per window start, O(n·w) with the small
    MOSS ``w``), and the per-doc distinct are array higher-order functions
    over one projected gram-hash array; the only explode is the final fan-out
    of the (small) fingerprint set to rows.  Zero shuffle — the r6 shape ran
    a position explode + a doc-keyed ROWS window + a corpus-wide distinct.
    The identical window algebra runs in DuckDB for the oracle.
    Rows: ``(id, fp)`` — one row per distinct fingerprint hash.

    ``algo`` (r15) picks the gram hash, the dedup/checksum/DSIR
    convention: ``md5i64`` (default) is the DuckDB-oracle-checkable gate
    path; ``xxhash64`` is the JVM-intrinsic fast path — measured 1.45×
    wall / 1.3× cpu at w=20 over 50k docs (BASELINE.md r15: the window-min
    HOF fold, not the hash, is the larger term here, unlike the
    shingle-hash operators where xxhash64 buys more).  Either
    hash preserves the winnow guarantee (it needs only determinism);
    fingerprint VALUES differ across algos, so both sides of any
    fingerprint equi-join must use the same algo — the consumers thread
    one knob through both sides for exactly that reason.
    """
    from tikv_data_compare_spark.session import scale_out

    hash_chain = _winnow_hash_chain(text_col, k, algo)
    hashed = scale_out(df, key=id_col).select(
        F.col(id_col),
        F.expr(hash_chain).alias("_hs"),
    )
    fp_meta = {
        "winnow_k": k,
        "winnow_w": w,
        "winnow_algo": algo,
        # r16 (ADVICE r15): the text column is part of the geometry too — a
        # doc_fps frame winnowed over a DIFFERENT column would pass the
        # (k, w, algo) check and silently mis-candidate every consumer
        "winnow_text_col": text_col,
    }
    # full windows [j, j+w-1] only (window start j = 0 .. n_grams - w); a doc
    # with fewer than w grams keeps its single truncated window, so every
    # doc has at least one fingerprint — same selection as the r6 ROWS
    # window + pos filter
    fps = hashed.select(
        id_col,
        F.expr(
            f"array_distinct(CASE WHEN size(_hs) < {w} THEN array(array_min(_hs)) "
            f"ELSE transform(sequence(0, size(_hs) - {w}), "
            f"j -> array_min(slice(_hs, j + 1, {w}))) END)"
        ).alias("_fps"),
    )
    # explode_OUTER, deliberately: plain explode triggers Catalyst's
    # InferFiltersFromGenerate + pushdown, which inlines the entire nested
    # HOF chain into a Filter — including inside the window-min lambda, so
    # the gram hashing re-runs once per window position (O(n²) md5 calls
    # per doc; measured as a multi-minute stall on 500 ordinary docs).  The
    # infer rule skips outer generates, and `_fps` is never an empty array
    # (the truncated-window branch guarantees ≥1 element), so the only
    # behavior difference is a (id, NULL) row for NULL text — which is
    # exactly what the r6 window shape emitted.
    exploded = fps.select(id_col, F.explode_outer("_fps").alias("fp"))
    # the winnow geometry rides as column METADATA (the dsir_weights stamp
    # convention, r15) so the doc_fps= reuse seams can verify a precomputed
    # frame was built with matching (k, w, algo).  Stamped via a plain
    # projection: alias metadata on a generator output is silently dropped.
    return exploded.select(id_col, F.col("fp").alias("fp", metadata=fp_meta))


def _check_winnow_fps(
    fps: DataFrame, id_col: str, k: int, w: int, algo: str, text_col: str
) -> None:
    """Validate a precomputed winnow-fingerprint frame against the
    geometry a consumer is about to join it with (the dsir ``weights=``
    convention: shape always, build parameters when the stamp is
    present — unstamped frames are accepted as-is and the docstrings say
    the mismatch is undetectable there).  ``text_col`` joined the stamp
    r16 (ADVICE r15): a frame winnowed over a different text column is a
    geometry mismatch exactly like a different ``k``."""
    if not {id_col, "fp"} <= set(fps.columns):
        raise ValueError(
            f"doc_fps must carry ({id_col!r}, 'fp') — pass the "
            "winnow_fingerprints output for the same corpus"
        )
    meta = fps.schema["fp"].metadata or {}
    expected = {
        "winnow_k": k,
        "winnow_w": w,
        "winnow_algo": algo,
        "winnow_text_col": text_col,
    }
    drift = {
        key: (meta[key], v)
        for key, v in expected.items()
        if key in meta and meta[key] != v
    }
    if drift:
        raise ValueError(
            "doc_fps frame was built with a different winnow geometry "
            "than this call: "
            + ", ".join(
                f"{key}={got!r} (frame) vs {want!r} (call)"
                for key, (got, want) in sorted(drift.items())
            )
        )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish subword token estimate: words plus extra tokens
    for long words (≈ 1 per 6 chars beyond the first 6) — a cheap stand-in
    for a real tokenizer, JVM-side."""
    ws = f"split({text_col}, ' ')"
    return df.withColumn(
        "n_words", F.expr(f"CAST(size({ws}) AS BIGINT)")
    ).withColumn(
        "n_tokens_bpe",
        F.expr(
            f"CAST(aggregate({ws}, CAST(0 AS BIGINT), "
            f"(acc, w) -> acc + 1 + CAST(greatest(length(w) - 6, 0) / 6 AS BIGINT)) AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# Byte-level BPE: trained subword tokenization (r10)
# ---------------------------------------------------------------------------
#
# Real byte-pair-encoding in the Sennrich sense: start from the UTF-8 bytes
# of each whitespace word, repeatedly merge the most frequent adjacent token
# pair, freeze the learned merge list, and count subword tokens by replaying
# the merges in rank order.  Replaces the r5 "BPE-ish" length heuristic
# (token_count.n_tokens_bpe) for mixture/packing budgets that published
# pretraining recipes denominate in subword tokens.
#
# Engine-parity representation — the whole design hangs on one identity:
# a word's segmentation is kept as a STRING of comma-wrapped uppercase hex
# bytes (",41,,62," for "Ab"), and one BPE merge (l, r) applied with
# leftmost-greedy non-overlap semantics is EXACTLY
#
#     replace(seg, ',l,,r,', ',lr,')
#
# in Python str.replace, Spark SQL replace, and DuckDB replace (all three
# scan left to right and skip past each match).  Token content is hex only,
# every complete token carries its own comma delimiters on both sides, so a
# pattern match cannot straddle token boundaries ("241","412" does not
# contain ",41,,41,").  Applying the merge list in learned-rank order, one
# pass each, is complete: rule k's operands exist before any rule > k fires,
# and a merge output l||r can never equal its own l or r, so no earlier rule
# becomes newly applicable.  Token count falls out of the delimiters:
# (length(seg) - length(replace(seg, ',', ''))) / 2.
#
# Training is the PQ-codebook bounded-collect pattern: the top `vocab_top`
# words by (count DESC, word ASC) — one distributed agg + a global-sort
# limit, deterministic under any partitioning — are collected and the merge
# loop runs on the driver (n_merges × ≤vocab_top adjacent-pair counts,
# microseconds).  Pair frequency counts EVERY adjacent position (AAA yields
# two (A,A)); ties break (count DESC, l ASC, r ASC) — uppercase hex under
# Python/DuckDB binary string order; training stops when the best pair's
# count is < 2.  The DuckDB oracle retrains the same merges with chained
# CTEs (one pair-count + argmax + replace stage per rank) and recomputes
# every doc's count, so training AND application sit inside the hash gate —
# pinned bit-identical in tests/test_text.py.

BPE_N_MERGES = 48
BPE_VOCAB_TOP = 256


def _bpe_seg0_py(word: str) -> str:
    h = word.encode("utf-8").hex().upper()
    return "".join(f",{h[i:i + 2]}," for i in range(0, len(h), 2))


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_N_MERGES,
    vocab_top: int = BPE_VOCAB_TOP,
) -> list[tuple[str, str]]:
    """Learn a byte-level BPE merge list from a corpus (see section comment).

    Returns ``[(left_hex, right_hex), ...]`` in rank order, possibly shorter
    than ``n_merges`` if pair frequencies bottom out.  The collect is
    bounded at ``vocab_top`` rows (driver-safe at any corpus size); at
    100 TB you would raise ``vocab_top``/``n_merges`` (32k-merge tokenizers
    train from word-frequency tables of this exact shape) — the driver loop
    is O(n_merges · vocab_top · word_len), data-size independent.
    """
    words = df.select(
        F.explode(
            F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), " ")
        ).alias("w")
    )
    vocab = (
        words.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(vocab_top)
        .collect()
    )
    segs: list[list] = [[_bpe_seg0_py(r["w"]), r["n"]] for r in vocab]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for seg, n in segs:
            toks = seg.strip(",").split(",,")
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        cand = [(l, r, c) for (l, r), c in pairs.items() if c >= 2]
        if not cand:
            break
        l, r, _c = min(cand, key=lambda t: (-t[2], t[0], t[1]))
        merges.append((l, r))
        pat, rep = f",{l},,{r},", f",{l}{r},"
        for s in segs:
            s[0] = s[0].replace(pat, rep)
    return merges


def bpe_merges_array_sql(merges: list[tuple[str, str]]) -> str:
    """The frozen merge table as a Spark SQL array-of-structs literal
    (constant-folded by Catalyst — shipped once per task, not per row)."""
    if not merges:
        return "CAST(array() AS array<struct<pat:string,rep:string>>)"
    items = ", ".join(
        f"named_struct('pat', ',{l},,{r},', 'rep', ',{l}{r},')" for l, r in merges
    )
    return f"array({items})"


def bpe_ntok_sql(text_col: str, merges: list[tuple[str, str]]) -> str:
    """Spark SQL expression: total subword-token count of ``text_col`` under
    the frozen ``merges`` — a purely map-side nested-HOF fold (zero shuffle,
    whole-stage codegen): words → transform(fold over merges) → transform
    (delimiter count) → aggregate sum.  The expensive merge fold runs ONCE
    per word occurrence (the two-transform split exists so the token-count
    arithmetic's double use of the segmentation string reads the already
    computed element instead of re-folding)."""
    seg0 = "regexp_replace(hex(encode(w, 'UTF-8')), '(..)', ',$1,')"
    fold = (
        f"aggregate({bpe_merges_array_sql(merges)}, {seg0}, "
        f"(acc, m) -> replace(acc, m.pat, m.rep))"
    )
    ntok = "CAST((length(f) - length(replace(f, ',', ''))) / 2 AS BIGINT)"
    return (
        f"aggregate(transform(transform(split(coalesce({text_col}, ''), ' '), "
        f"w -> {fold}), f -> {ntok}), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_tokens_subword",
) -> DataFrame:
    """Append the trained-BPE subword token count (NULL/empty text → 0 —
    unlike the whitespace counts, an empty word holds zero bytes and hence
    zero tokens).

    Widened via ``scale_out`` (r16): the per-word merge fold is the most
    CPU-dense HOF in the repo, and an under-split compact parquet source
    strands it on 1-2 cores — measured at sf1: 16.2 s wall ≈ 18 cpu-s
    (parallelism ~1) before, cluster no-op (scale_out inserts nothing
    when the source is well-split)."""
    from tikv_data_compare_spark.session import scale_out

    return scale_out(df, key=text_col).withColumn(
        out_col, F.expr(bpe_ntok_sql(text_col, merges))
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the classic corpus keyword
    extractor for training-data curation (topic tagging, boilerplate
    detection).

    score_c = tf × ROUND(ln(N/df) × 1e6): the idf factor is frozen to a
    scaled integer so ranking and output are bit-identical across engines
    (raw double tf-idf is not hash-comparable).  Ties break on the term
    string ascending, so top-k is fully deterministic.

    Scale shape: one explode → (doc, term) count, then the document-
    frequency table — tiny (≤ vocabulary size) — is broadcast back; the
    corpus size N joins as a broadcast scalar.  Only the final row_number
    window re-shuffles by document.  No UDFs, no driver-side collect.
    The source is widened via ``scale_out`` first: the explode's map-side
    partial aggregation is the CPU-heavy stage, and an under-split compact
    parquet source strands it on 1-2 cores (cluster no-op).
    """
    from tikv_data_compare_spark.session import scale_out

    df = scale_out(df, key=id_col)
    words = df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("w"))
    tf = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    # idf frozen ONCE per distinct term on the small dfreq frame (not per
    # (doc, term) posting), via sqlgen.frozen_ln_c — the engine-exact
    # det_ln freeze; the r12 ROUND-of-LN was one libm ulp from flipping
    idf = (
        dfreq.crossJoin(F.broadcast(ndocs))
        .withColumn("_idf_r", F.expr("CAST(n_docs AS DOUBLE) / df"))
        .withColumn("idf_c", F.expr(sqlgen.frozen_ln_c("_idf_r")))
        .select("w", "df", "idf_c")
    )
    scored = tf.join(F.broadcast(idf), "w").withColumn(
        "score_c", F.col("tf") * F.col("idf_c")
    )
    win = Window.partitionBy(id_col).orderBy(F.col("score_c").desc(), F.col("w").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select(
            id_col,
            F.col("rnk").cast("long").alias("rnk"),
            F.col("w").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            "score_c",
        )
    )


def ngram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
    alpha: int = 1,
    min_count: int = 1,
) -> DataFrame:
    """Bigram-LM fluency score per document — the CCNet/KenLM-shaped
    perplexity filter (Wenzek et al. 2020 score docs with a KenLM trained
    on clean text and drop the high-perplexity tail; Gopher and LLaMA reuse
    the same gate).  Without a neural LM in the container, the statistical
    core is the same: an add-α-smoothed word-bigram model trained on
    ``train`` (default: the scored corpus itself), scored as each
    document's mean negative log-likelihood per bigram.

    Output: ``(id, lm_n_bigrams, lm_nll_c)`` where ``lm_nll_c`` is the mean
    of per-bigram costs ``ROUND(ln((c1 + α·V)/(c2 + α)) × 1e6)`` (c2 =
    bigram count, c1 = bigram-prefix count Σ_w2 c2(w1,·), V = train vocab),
    FLOOR-ed to a BIGINT.  LOWER = more predictable/fluent; gibberish and
    boilerplate-free natural text separate cleanly (tests).  Docs with < 2
    words (or NULL text) get ``lm_n_bigrams = 0`` and a NULL score — "can't
    evaluate" is not "perfectly fluent".

    Cross-engine determinism: the model counts are exact integers, the
    per-bigram cost is integer-frozen the same way tfidf's idf is (ln of an
    exact-double rational, scaled and rounded — ln > 0 always since
    c1 >= c2, so round-half conventions can't disagree), and the final mean
    uses FLOOR, not ROUND: a mean of integers CAN land exactly on .5 where
    HALF_UP/half-away engines could differ, while FLOOR of an IEEE-exact
    division is engine-stable.

    Scale shape: the train corpus is tokenized twice — once into bigram
    pairs for the count tables (bounded by the OBSERVED bigram domain,
    Zipf-truncated in practice; ``min_count`` prunes the long tail like
    KenLM's pruning, pruned/unseen bigrams falling back to the smoothing
    floor) and once for the vocabulary size (V counts ALL words including
    each doc's last, which the pair frame lacks — dropping that pass would
    change the smoothing denominator).  Scoring reuses the train pair
    frame when ``train`` IS the scored corpus (the default), else adds one
    tokenize pass over ``df``; the model joins back on the bigram
    (broadcast when small, AQE skew-join handles the 'the'-prefix hot
    keys), then one groupBy(doc) mean.  No UDFs, no collect.  A pipeline
    calling this repeatedly should cache the train frame — the count
    tables re-derive from it per call.
    """
    from tikv_data_compare_spark.session import scale_out

    if train is None:
        train = df
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if alpha < 1:
        raise ValueError(f"alpha must be a positive integer, got {alpha}")

    def pairs_of(frame: DataFrame) -> DataFrame:
        toks = frame.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
        )
        return toks.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "CASE WHEN size(_toks) < 2 THEN array() "
                    "ELSE transform(sequence(1, size(_toks) - 1), "
                    "i -> named_struct('w1', element_at(_toks, i), "
                    "'w2', element_at(_toks, i + 1))) END"
                )
            ).alias("_p"),
        ).select(id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))

    train_pairs = pairs_of(scale_out(train, key=id_col))
    c2 = train_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    if min_count > 1:
        c2 = c2.filter(F.col("c2") >= min_count)
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = (
        scale_out(train, key=id_col)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .agg(F.count_distinct("w").cast("long").alias("v"))
    )
    scored = (
        (train_pairs if train is df else pairs_of(scale_out(df, key=id_col)))
        .join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            # numerator and denominator are exact BIGINTs cast to DOUBLE,
            # then ONE correctly-rounded IEEE division — never an
            # intermediate DECIMAL: Spark types `x * 1.0 / y` as
            # DECIMAL(34,12) (a second rounding) where DuckDB types it
            # DOUBLE, the exact cross-engine drift class that kept the r13
            # sampling gate red (VERDICT r13 §What's wrong 1)
            "_lm_r",
            F.expr(
                f"CAST(coalesce(c1, 0) + {int(alpha)} * v AS DOUBLE) / "
                f"CAST(coalesce(c2, 0) + {int(alpha)} AS DOUBLE)"
            ),
        )
        # det_ln freeze (sqlgen.frozen_ln_c) — engine-exact, unlike the
        # engine LN whose last ulp is implementation-defined; the ratio
        # can be < 1 (unseen bigram under a heavy prefix), det_ln's sign
        # branch covers it
        .withColumn("_cost_c", F.expr(sqlgen.frozen_ln_c("_lm_r")))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("lm_n_bigrams"),
        # CAST-to-DOUBLE both operands, then ONE correctly-rounded IEEE
        # division: `1.0 * sum(..) / count(..)` types DECIMAL in Spark
        # (an extra rounding) but DOUBLE in DuckDB — the r13 sampling-gate
        # drift class, caught here by test_no_decimal_feeds_frozen_log_paths
        F.expr(
            "CAST(FLOOR(CAST(sum(_cost_c) AS DOUBLE)"
            " / CAST(count(1) AS DOUBLE)) AS BIGINT)"
        ).alias("lm_nll_c"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("lm_n_bigrams", F.lit(0).cast("long")).alias("lm_n_bigrams"),
            "lm_nll_c",
        )
    )


def top_bigrams(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-wide top-k adjacent word bigrams with fully deterministic
    ranking (count desc, bigram asc) — collocation mining for boilerplate /
    template detection in a training corpus.

    Bigrams are built JVM-side from one ``split`` via a higher-order
    ``transform`` over positions (guarded: texts with < 2 words contribute
    nothing — Spark's ``sequence(1, 0)`` would otherwise count DOWN), then
    exploded and counted.  The final global row_number window runs over the
    AGGREGATED bigram domain, which is bounded by vocabulary², not corpus
    size — the single-partition sort is over at most a few thousand rows at
    any data scale, so this stays safe at 100 TB.  Covered by
    tests/test_text.py against a hand-built corpus.
    """
    pairs = df.select(F.split(F.col(text_col), " ").alias("ws")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(ws) < 2 THEN array() "
                "ELSE transform(sequence(1, size(ws) - 1), "
                "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) END"
            )
        ).alias("bigram")
    )
    counted = pairs.groupBy("bigram").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # TakeOrdered (orderBy().limit(k) = per-partition top-k merge, no global
    # sort) BEFORE the rank window, which then runs over ≤ k rows — the
    # previous global row_number ranked EVERY distinct bigram in one
    # partition, a real scale-killer at corpus-wide vocabulary sizes
    from tikv_data_compare_spark.functions.winutil import bounded_global_window

    top = counted.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(k)
    win = bounded_global_window("n", F.col("n").desc(), F.col("bigram").asc())
    return (
        top.withColumn("rnk", F.row_number().over(win))
        .select(F.col("rnk").cast("long").alias("rnk"), "bigram", "n")
    )


# Deliberately restricted regex syntax (character classes, [.] instead of
# \., {m,} bounds) on which Java regex and RE2/DuckDB agree, so a SQL oracle
# can run the identical patterns if one is ever wired up; until then the
# semantics are pinned by tests/test_text.py against Python `re`.
PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
PII_URL_RE = "https?://[a-z0-9./]+"
PII_LONGNUM_RE = "[0-9]{6,}"


def pii_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document PII-pattern audit: counts of email-like, URL-like, and
    long-digit-run matches plus an overall flag — the redaction pre-pass a
    training-data pipeline runs before release.

    Pure map-side ``regexp_count`` (JVM regex, no UDF, no shuffle);
    covered by tests/test_text.py against a Python ``re`` reference.
    """
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    n_url = F.regexp_count(t, F.lit(PII_URL_RE))
    n_num = F.regexp_count(t, F.lit(PII_LONGNUM_RE))
    return df.select(
        id_col,
        n_email.cast("long").alias("n_email"),
        n_url.cast("long").alias("n_url"),
        n_num.cast("long").alias("n_longnum"),
        ((n_email > 0) | (n_url > 0) | (n_num > 0)).cast("long").alias("has_pii"),
    )


#: redaction order + placeholder per pattern.  Order is load-bearing:
#: emails first (their digit runs must not be half-eaten by the long-number
#: pass), then URLs (which may contain ≥6-digit runs), then bare digit
#: runs.  Placeholders are uppercase/digit-free so NO later pattern (all
#: lowercase/digit classes) can match inside an earlier replacement — one
#: pass is a fixed point (idempotence is pytest-pinned).
PII_REDACTIONS = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_URL_RE, "<URL>"),
    (PII_LONGNUM_RE, "<NUM>"),
)


def pii_redact(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Span-replace every PII-pattern match with a typed placeholder token
    (``<EMAIL>`` / ``<URL>`` / ``<NUM>``) — the release step after the
    :func:`pii_counts` audit: instead of dropping flagged documents
    (``curate(drop_pii=True)``), keep them with the spans masked
    (``curate(redact_pii=True)``), the usual choice when PII-bearing docs
    are too large a corpus fraction to discard.

    Pure map-side ``regexp_replace`` chain over the same Java∩RE2 pattern
    set as ``pii_counts`` (reference parity note: the reference engine has
    no text pipeline; this extends its byte-transform surface, cf.
    codec/codec.go:14-96, to the LLM-corpus domain).  Zero shuffle, zero
    UDF, whole-stage-codegen eligible; Spark's ``regexp_replace`` is
    global (all matches), matching DuckDB's ``'g'`` flag in the
    ``text_stats`` oracle, which recomputes the md5 of the redacted text.

    ``out_col=None`` rewrites ``text_col`` in place (all other columns
    pass through).  Counting note: a digit run INSIDE a URL is counted by
    both ``n_url`` and ``n_longnum`` in the audit, but redaction is
    sequential — the URL pass consumes it first.
    """
    out_col = out_col or text_col
    red = F.col(text_col)
    for pat, token in PII_REDACTIONS:
        red = F.regexp_replace(red, pat, token)
    return df.withColumn(out_col, red)


# ---------------------------------------------------------------------------
# Character-n-gram language ID (Cavnar–Trenkle 1994 rank profiles)
# ---------------------------------------------------------------------------


def _char_ngrams(text_col: str, n: int):
    """Column of the lowercased character n-grams of ``text_col`` — a pure
    array expression (sequence + transform), zero shuffle."""
    t = f"lower({text_col})"
    return F.expr(
        f"CASE WHEN length({t}) < {n} THEN array({t}) "
        f"ELSE transform(sequence(1, length({t}) - {n} + 1), i -> substring({t}, i, {n})) END"
    )


def train_lang_profiles(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    top: int = 100,
) -> dict[str, list[str]]:
    """Learn per-language rank profiles: the ``top`` most frequent character
    n-grams of each language's labeled text, most-frequent first (the
    Cavnar–Trenkle training step).

    Scale shape: one explode + one (lang, gram) count + a per-lang rank
    window over the aggregated gram domain; the driver collects only
    ``len(langs) × top`` rows.  Ties rank deterministically (count desc,
    gram asc)."""
    from pyspark.sql import Window

    from tikv_data_compare_spark.session import scale_out

    grams = scale_out(df.filter(F.col(text_col).isNotNull()), key=lang_col).select(
        F.col(lang_col).alias("_lang"), F.explode(_char_ngrams(text_col, n)).alias("_g")
    )
    counts = grams.groupBy("_lang", "_g").count()
    w = Window.partitionBy("_lang").orderBy(F.desc("count"), F.asc("_g"))
    ranked = (
        counts.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= top)
        .collect()
    )
    profiles: dict[str, list[str]] = {}
    for r in sorted(ranked, key=lambda r: (r["_lang"], r["_rank"])):
        profiles.setdefault(r["_lang"], []).append(r["_g"])
    return profiles


def lang_id_ngram(
    df: DataFrame,
    profiles: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    top: int = 100,
) -> DataFrame:
    """Classify each document by the Cavnar–Trenkle out-of-place measure:
    rank the doc's own top-``top`` n-grams, compare against each language
    profile — distance = Σ |doc_rank − profile_rank|, with ``top`` as the
    miss penalty for grams absent from a profile; prediction = argmin
    (language asc on ties).

    Scale shape: explode → (id, gram) count → per-doc rank window (keyed
    shuffle, bounded at ``top`` rows/doc) → a ×|langs| replication against
    a tiny broadcast language list → broadcast profile join → one agg per
    (id, lang) and an argmin window.  Returns
    ``(id, pred_lang, dist_c)`` where ``dist_c`` is the winning distance.
    """
    from pyspark.sql import Window

    from tikv_data_compare_spark.session import scale_out

    spark = df.sparkSession
    langs = sorted(profiles)
    prof_rows = [
        (g, la, i + 1) for la in langs for i, g in enumerate(profiles[la][:top])
    ]
    prof = spark.createDataFrame(prof_rows, "_g string, _lang string, _prank long")
    lang_df = spark.createDataFrame([(la,) for la in langs], "_lang string")

    grams = scale_out(df.filter(F.col(text_col).isNotNull()), key=id_col).select(
        id_col, F.explode(_char_ngrams(text_col, n)).alias("_g")
    )
    doc_counts = grams.groupBy(id_col, "_g").count()
    wdoc = Window.partitionBy(id_col).orderBy(F.desc("count"), F.asc("_g"))
    doc_top = (
        doc_counts.withColumn("_drank", F.row_number().over(wdoc))
        .filter(F.col("_drank") <= top)
        .select(id_col, "_g", "_drank")
    )
    scored = (
        doc_top.crossJoin(F.broadcast(lang_df))
        .join(F.broadcast(prof), ["_g", "_lang"], "left")
        .groupBy(id_col, "_lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("_drank") - F.col("_prank")), F.lit(top).cast("long")
                )
            ).alias("_dist")
        )
    )
    wmin = Window.partitionBy(id_col).orderBy(F.asc("_dist"), F.asc("_lang"))
    return (
        scored.withColumn("_rn", F.row_number().over(wmin))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("_lang").alias("pred_lang"),
            F.col("_dist").cast("long").alias("dist_c"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: token-budget bins for pretraining batches
# ---------------------------------------------------------------------------


def pack_token_bins(
    df: DataFrame,
    budget: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ntok_col: str | None = None,
) -> DataFrame:
    """Assign every document to a token-budget bin — the sequence-packing
    step that turns a curated corpus into fixed-budget training batches:
    documents are laid out in deterministic content-hash order and cut
    into consecutive bins of ~``budget`` whitespace tokens (a document
    starts a new bin when the running total would leave it outside the
    current one — concatenate-and-cut packing, the standard pretraining
    recipe at document granularity).

    Scale shape: a single global order would serialize the cumsum, so the
    corpus is first split into ``n_shards`` content-hash shards (the same
    determinism contract as ``sampling.shard_assignments``) and packed
    WITHIN each shard — one window shuffle keyed on the shard id, bins
    globally unique as ``local_bin·n_shards + shard``.  Everything is a pure
    function of content: membership, bin ids, and in-bin positions replay
    identically on any cluster (no RNG, no partition-layout dependence).

    Returns ``(id, n_tok, pack_bin, pack_pos)``; NULL/empty-text docs count
    1 token (split of the coalesced '' yields ['']), matching
    ``token_count``'s n_words.  Global bin ids compose as
    ``local_bin · n_shards + shard`` — unique for ANY bin count (a fixed
    shard multiplier would collide once a shard exceeds it; at 100 TB a
    512-token budget yields ~1e9 bins per shard — r8 review).

    ``ntok_col`` (r10) re-denominates the budget: when given, the named
    column of ``df`` (e.g. a trained-BPE subword count from
    ``bpe_token_count`` — published packing recipes budget in subword
    tokens, not whitespace words) is used as each document's token count
    instead of the whitespace default.  A zero-count doc (empty text under
    BPE) joins the current bin without advancing the cumsum.
    """
    from pyspark.sql import Window

    from tikv_data_compare_spark.operators.sampling import content_shards

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    # shared deterministic staging (coalesce + staged md5 + hexfold + mod):
    # single-sourced in sampling.content_shards so the recipes cannot drift
    cols = [id_col, text_col] + ([ntok_col] if ntok_col else [])
    staged = content_shards(
        df.select(*cols), n_shards, content_col=text_col
    ).withColumn(
        "_ntok",
        F.col(ntok_col).cast("long")
        if ntok_col
        else F.size(
            F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), " ")
        ).cast("long"),
    )
    w = Window.partitionBy("_shard").orderBy("_sample_h", id_col)
    cum = F.sum("_ntok").over(w)  # inclusive running total within the shard
    packed = staged.withColumn(
        "_bin", F.floor((cum - F.col("_ntok")) / F.lit(budget)).cast("long")
    )
    w2 = Window.partitionBy("_shard", "_bin").orderBy("_sample_h", id_col)
    return packed.select(
        id_col,
        F.col("_ntok").alias("n_tok"),
        (F.col("_bin") * n_shards + F.col("_shard")).cast("long").alias("pack_bin"),
        F.row_number().over(w2).cast("long").alias("pack_pos"),
    )


def bm25_idf_sql() -> str:
    """The per-DISTINCT-term BM25 idf (Lucene's always-positive
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` variant) as an UN-rounded DOUBLE
    over columns ``df`` and ``n_docs`` — shared VERBATIM by the Spark
    operator and the DuckDB oracle.

    Hoisted out of the per-(query, doc, term) score in r14: the det_ln
    sqrt-chain (engine-exact, ~55× textual expansion — see
    ``sqlgen.det_ln``) was previously inlined per candidate row, which
    cost bm25 +37% solo cpu after the r13 LN→det_ln switch; evaluated per
    distinct term it runs on a bounded query-vocabulary-sized frame
    instead (the tfidf_top_terms pattern, operators/text.py idf).  The
    score multiplies the identical binary64 either way, so scores are
    bit-unchanged.
    """
    from tikv_data_compare_spark.functions import sqlgen

    idf_ratio = (
        "1.0 + (CAST(n_docs AS DOUBLE) - df + CAST(0.5 AS DOUBLE))"
        " / (df + CAST(0.5 AS DOUBLE))"
    )
    return sqlgen.det_ln(idf_ratio)


def bm25_score_sql(k1: float = 1.2, b: float = 0.75) -> str:
    """The per-(query, doc, term) BM25 score expression, shared VERBATIM by
    the Spark operator and the DuckDB oracle (over columns ``tf``, ``dl``,
    ``avgdl`` and the precomputed per-term ``idf`` — see
    :func:`bm25_idf_sql`).

    Every float parameter is embedded as its shortest-roundtrip repr inside
    CAST(.. AS DOUBLE): decimal literals are exact rationals in both
    engines, so the cast is one correct rounding back to the identical
    binary64 — and the derived constants (k1+1, 1-b) are folded in PYTHON,
    never by either engine’s (differently-typed) constant folder.

    The final rounding is ``FLOOR(v + 0.5)``, not ``ROUND`` (tie
    conventions differ across engines for negatives).
    """
    k1p1 = repr(float(k1) + 1.0)
    one_minus_b = repr(1.0 - float(b))
    return (
        "CAST(FLOOR(1000000.0"
        " * idf"
        f" * (tf * CAST({k1p1} AS DOUBLE)"
        f" / (tf + CAST({repr(float(k1))} AS DOUBLE)"
        f" * (CAST({one_minus_b} AS DOUBLE)"
        f" + CAST({repr(float(b))} AS DOUBLE) * (dl / avgdl))))"
        " + 0.5) AS BIGINT)"
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval over the corpus — the ranked-search stage a
    curation pipeline uses for quality retrieval and decontamination lookups
    (Robertson & Zaragoza 2009; the Lucene-default ``ln(1 + (N-df+0.5)/
    (df+0.5))`` idf variant, which is always positive).

    Returns ``(query_id, doc, rnk, n_terms, bm25_c)``: the top-``k``
    documents per query by integer-frozen BM25 score, ties broken by doc id
    ascending; ``n_terms`` counts the query's DISTINCT terms matched in the
    doc (each query term contributes once, the standard short-query form).

    Cross-engine determinism follows tfidf_top_terms / ngram_lm_score: every
    input to the per-(query, doc, term) score is an exact integer (tf, df,
    dl, N) or an exact-double ratio (avgdl = Σdl/N — one correctly-rounded
    division), the float expression tree is written identically in both
    engines, and the per-TERM score is frozen to ROUND(×1e6) BEFORE the
    per-doc sum — so the sum is an integer sum with no float-accumulation
    order to disagree on.  ``k1``/``b`` and the derived ``k1+1``/``1-b``
    are precomputed in Python and embedded as shortest-roundtrip literals
    wrapped in CAST(.. AS DOUBLE) — both engines parse decimal literals as
    exact DECIMAL rationals, so the cast correctly-rounds each to the very
    double Python held, with no cross-engine constant folding in between
    (see :func:`bm25_score_sql`, shared verbatim with the oracle).

    Scale shape (100 TB corpus, small query set): one explode → (doc, term)
    tf with map-side partial agg; dl rides the same scan as an array size;
    the df table (≤ vocabulary) and the 1-row (N, avgdl) scalar are
    broadcast; the query-term table (tiny) is broadcast into the tf join,
    so candidate scoring touches only docs containing a query term.  Only
    the final per-query top-k window re-shuffles — bounded by candidate
    count.  No UDFs, no driver-side collect.
    """
    # r18 note: pushing the query vocabulary below the tf/dfreq
    # aggregations (broadcast left-semi on the word stream) was prototyped
    # and MEASURED WORSE at sf1 (interleaved A/B, min-of-3: 32-34 cpu-s
    # unfiltered vs 41-51 cpu-s filtered, walls equal): the tokenize +
    # explode pass dominates this operator and runs either way, the big
    # aggregations' exchanges are reused across the tf/dfreq branches, and
    # the per-word broadcast probe only added cost.  Kept on the
    # no-pushdown shape deliberately (OPTIMIZATION_r18.md).
    tf, dfreq, scalars = bm25_corpus_stats(df, id_col, text_col)
    return bm25_rank(
        tf, dfreq, scalars, queries,
        id_col=id_col, query_id_col=query_id_col, query_text_col=query_text_col,
        k=k, k1=k1, b=b,
    )


def bm25_corpus_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus's BM25 sufficient statistics, as three frames:

    - ``tf``      (_id, dl, w, tf) — one row per distinct (doc, term);
    - ``dfreq``   (w, df) — vocabulary-sized document frequencies;
    - ``scalars`` 1 row (n_docs, sum_dl, avgdl) with
      avgdl = CAST(sum_dl AS DOUBLE) / n_docs (one correctly-rounded
      division — the expression every scorer must share).

    This is the expensive corpus pass (the 16-of-17 cpu-seconds of a
    one-shot bm25_topk at sf0.1): a pipeline scoring several query batches
    computes it once — or persists it via operators/text_index.py and
    never recomputes it at all.
    """
    from tikv_data_compare_spark.session import scale_out

    df = scale_out(df, key=id_col)
    # NULL-text docs are NOT corpus members: they have no terms (split(NULL)
    # explodes to nothing) so they can never match a query, and the
    # persisted text index — which derives n_docs/sum_dl from the written
    # postings — cannot see them either.  Counting them here but not there
    # skewed avgdl/idf and broke the documented one-shot ≡ index score
    # identity (r10 review).  ''-text docs stay members (one '' term) in
    # BOTH paths.
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("_ws"),
    ).withColumn("dl", F.expr("CAST(size(_ws) AS BIGINT)"))
    words = toks.select("_id", "dl", F.explode("_ws").alias("w"))
    tf = words.groupBy("_id", "dl", "w").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scalars = toks.select(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).withColumn("avgdl", F.expr("CAST(sum_dl AS DOUBLE) / n_docs"))
    return tf, dfreq, scalars


def bm25_rank(
    tf: DataFrame,
    dfreq: DataFrame,
    scalars: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score + rank a query set against prepared corpus stats (the cheap
    half of bm25_topk — shared by the one-shot path and the persisted
    text index)."""
    qterms = queries.select(
        F.col(query_id_col).alias("qid"),
        F.explode(F.array_distinct(F.split(F.col(query_text_col), " "))).alias("w"),
    )
    # idf per DISTINCT query term, computed on a bounded frame (dfreq
    # filtered by the broadcast query vocabulary — ≤ |query terms| rows):
    # det_ln's ~55× expansion never runs per candidate row (r14 hoist,
    # see bm25_idf_sql); scores are bit-identical to the inlined form
    idf_tab = (
        dfreq.join(F.broadcast(qterms.select("w").distinct()), "w")
        .crossJoin(F.broadcast(scalars.select("n_docs")))
        .withColumn("idf", F.expr(bm25_idf_sql()))
        .select("w", "idf")
    )
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .join(F.broadcast(idf_tab), "w")
        .crossJoin(F.broadcast(scalars.select("avgdl")))
        .withColumn("score_c", F.expr(bm25_score_sql(k1, b)))
    )
    per_doc = scored.groupBy("qid", "_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("score_c").cast("long").alias("bm25_c"),
    )
    win = Window.partitionBy("qid").orderBy(F.col("bm25_c").desc(), F.col("_id").asc())
    return (
        per_doc.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("_id").alias(id_col),
            F.col("rnk").cast("long").alias("rnk"),
            "n_terms",
            "bm25_c",
        )
    )


# ---------------------------------------------------------------------------
# C4-style boilerplate rules (r10)
# ---------------------------------------------------------------------------


def c4_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2) as one map-side
    pass — the most-cited curation gate missing from curate() until r10:

    - a LINE is kept iff it ends in terminal punctuation (``. ! ? "``), has
      at least 3 space-delimited words, and does not contain the word
      ``javascript`` (case-insensitive) — the boilerplate-line rules;
    - a DOC is kept (``c4_keep``) iff it contains neither the phrase
      ``lorem ipsum`` (case-insensitive) nor a curly brace ``{``, and
      retains at least ``min_kept_lines`` lines (C4 uses 5 sentences; the
      default 3 fits line granularity);
    - ``c4_text`` is the document rebuilt from its kept lines — what the
      next pipeline stage would actually train on.

    Returns ``(id, n_lines, n_kept_lines, has_lorem, has_brace, c4_keep,
    c4_text)``.  Pure JVM array/string builtins over ``split(text, '\\n')``
    — zero shuffle, whole-stage codegen, oracle-replayable (each rule is
    the same expression in DuckDB; gated inside the ``text_stats`` row over
    planted offenders).  NULL text behaves as ``''``: one empty line, kept
    nothing, ``c4_keep=false`` — unconfirmable docs drop, the curate()
    core-gate convention.
    """
    lines = f"split(coalesce({text_col}, ''), '\\n')"
    kept = (
        f"filter({lines}, l -> substring(l, -1, 1) IN ('.', '!', '?', '\"') "
        f"AND size(split(l, ' ')) >= 3 "
        f"AND NOT contains(lower(l), 'javascript'))"
    )
    return df.select(
        id_col,
        F.expr(f"CAST(size({lines}) AS BIGINT)").alias("n_lines"),
        F.expr(f"CAST(size({kept}) AS BIGINT)").alias("n_kept_lines"),
        F.expr(f"contains(lower(coalesce({text_col}, '')), 'lorem ipsum')").alias(
            "has_lorem"
        ),
        F.expr(f"contains(coalesce({text_col}, ''), '{{')").alias("has_brace"),
        F.expr(
            f"NOT contains(lower(coalesce({text_col}, '')), 'lorem ipsum') "
            f"AND NOT contains(coalesce({text_col}, ''), '{{') "
            f"AND size({kept}) >= {int(min_kept_lines)}"
        ).alias("c4_keep"),
        F.expr(f"array_join({kept}, '\\n')").alias("c4_text"),
    )


def _span_fps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_span: int,
    k: int,
    algo: str,
    max_fp_df: "int | None" = None,
    doc_fps: "DataFrame | None" = None,
    as_id: str = "_idb",
) -> DataFrame:
    """Span-match part 1, the fingerprint source: ``(as_id, fp)`` winnow
    fingerprints of ``df`` at window ``w = min_span - k + 1``, so every
    verbatim span of ``>= min_span`` chars shared by two docs yields a
    shared fingerprint.  NULL fingerprints (NULL text) are dropped.

    ``doc_fps`` substitutes a precomputed :func:`winnow_fingerprints`
    frame over ``(id_col, text_col)``; its geometry stamp is checked.
    Raises ``ValueError`` when ``min_span < k + 1`` or ``max_fp_df < 1``.
    """
    if min_span < k + 1:
        raise ValueError(
            f"min_span must be >= k + 1 (= {k + 1}) so the winnow window "
            f"w = min_span - k + 1 is >= 2, got min_span={min_span}"
        )
    if max_fp_df is not None and int(max_fp_df) < 1:
        raise ValueError(
            f"max_fp_df must be >= 1 when given (got {max_fp_df}): a "
            "zero/negative threshold would mark every fingerprint hot"
        )
    w = min_span - k + 1
    if doc_fps is None:
        doc_fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w, algo=algo)
    else:
        _check_winnow_fps(doc_fps, id_col, k, w, algo, text_col)
    return doc_fps.select(F.col(id_col).alias(as_id), "fp").where(
        F.col("fp").isNotNull()
    )


def _hot_split(
    corpus_fp: DataFrame, max_fp_df: int, *sides: DataFrame
) -> list[tuple[DataFrame, DataFrame]]:
    """Span-match part 2, the hot/cold split: a fingerprint is HOT when
    more than ``max_fp_df`` corpus docs carry it.  For each ``(id, fp)``
    side frame returns ``(cold fps, affected ids)``: its rows without hot
    fingerprints, and the distinct ids carrying at least one.

    The split keeps matching exact: a shared span's winnow fingerprint is
    either cold (the pair meets in the cold candidate join) or hot (both
    members are affected and meet in the hot gram join).
    """
    df_per_fp = corpus_fp.groupBy("fp").count()
    hot = F.broadcast(df_per_fp.where(F.col("count") > int(max_fp_df)).select("fp"))
    return [
        (
            fp.join(hot, "fp", "left_anti"),
            fp.join(hot, "fp", "left_semi").select(fp.columns[0]).distinct(),
        )
        for fp in sides
    ]


def _bc(df: DataFrame, bcast: bool) -> DataFrame:
    return F.broadcast(df) if bcast else df


def _hot_gram_join(
    l_src: DataFrame,
    r_src: DataFrame,
    l_txt: DataFrame,
    min_span: int,
    pred,
    bcast: bool,
    partners: bool,
    starts: bool,
) -> DataFrame:
    """Span-match part 3, the hot gram join over affected docs.

    ``l_src`` is ``(_idb, _bt)``, ``r_src`` ``(_ida, _at)`` and ``l_txt``
    the full ``(_idb, _bt)`` text frame.  Every ``min_span``-gram of an L
    doc joins the R grams on the gram itself, so a match is a verbatim
    hit and needs no verify.  Returns ``(_idb, _ida)`` pairs with an R
    doc satisfying ``pred``, plus the 1-based start ``_i`` of the L gram
    when ``starts``.

    ``partners=True`` keeps every ``(R doc, gram)`` row, so ``_ida``
    ranges over all matching R docs.  ``partners=False`` collapses the R
    side to one row per distinct gram carrying its minimum ``_ida``, so
    the join output is bounded by the L positions and ``_ida`` is only a
    witness; ``pred`` must then be monotone in ``_ida`` (true, or
    ``_ida < _idb``).  The collapsed join is keyed by ``xxhash64`` of the
    gram and re-verified on the string, so a hash collision never hits.
    With ``starts`` the L side ships only ``(_idb, _i, hash)`` and the
    re-verify rebuilds the gram from ``l_txt``.
    """
    pos = _span_grams(l_src, "_idb", "_bt", min_span, with_pos=starts)
    grams = _span_grams(r_src, "_ida", "_at", min_span)
    cols = ["_idb", "_ida", "_i"][: 3 if starts else 2]
    if partners:
        ref = _bc(grams.distinct(), bcast)
        return pos.join(ref, "gram").where(pred).select(*cols)
    ref = _bc(
        grams.groupBy("gram")
        .agg(F.min("_ida").alias("_ida"))
        .select(F.xxhash64("gram").alias("_gh"), F.col("gram").alias("_gs"), "_ida"),
        bcast,
    )
    pos = pos.withColumn("_gh", F.xxhash64("gram"))
    if starts:
        hits = (
            pos.drop("gram")
            .join(ref, "_gh")
            .where(pred)
            .join(l_txt, "_idb")
            .where(F.expr(f"substr(_bt, _i, {min_span})") == F.col("_gs"))
        )
    else:
        hits = pos.join(ref, "_gh").where(pred & (F.col("gram") == F.col("_gs")))
    return hits.select(*cols)


def _cold_pairs(fp_a: DataFrame, fp_b: DataFrame, pred) -> DataFrame:
    """Span-match part 4, the cold candidate join of an ``(_idb, fp)`` and
    an ``(_ida, fp)`` frame, in either order: distinct ``(_idb, _ida)``
    pairs sharing a fingerprint and satisfying ``pred``.  The order sets
    the join's stream side, and with it the output partitioning."""
    return fp_a.join(fp_b, "fp").where(pred).select("_idb", "_ida").distinct()


def _any_gram_in(min_span: int):
    """Span-match part 5, the verbatim verify of a candidate pair with
    texts ``(_bt, _at)``, in one of two orientations.  This one is
    containment: true iff some ``min_span``-gram of ``_at`` occurs in
    ``_bt`` (``exists`` stops at the first hit).  NULL or short texts give
    false; ``sequence(1, n)`` descends for ``n < 1``, hence the guard."""
    return F.expr(
        f"coalesce(CASE WHEN length(_at) >= {min_span} THEN "
        f"exists(transform(sequence(1, length(_at) - {min_span} + 1), "
        f"i -> substr(_at, i, {min_span})), g -> contains(_bt, g)) "
        f"ELSE false END, false)"
    )


def _shared_starts(min_span: int):
    """The other verify orientation, by position: the 1-based starts in
    ``_bt`` whose ``min_span``-gram occurs in ``_at`` (empty for NULL or
    short texts).  It cannot stop early, so it costs more than
    :func:`_any_gram_in`."""
    return F.expr(
        f"CASE WHEN length(_at) >= {min_span} AND length(_bt) >= {min_span} "
        f"THEN filter(sequence(1, length(_bt) - {min_span} + 1), "
        f"i -> contains(_at, substr(_bt, i, {min_span}))) "
        f"ELSE CAST(array() AS array<int>) END"
    )


def _only(df: DataFrame, col: str, ids: "DataFrame | None", id_col: str) -> DataFrame:
    """``df`` restricted to the ``id_col`` values of ``ids`` (matched on
    ``col``); all of ``df`` when ``ids`` is None."""
    if ids is None:
        return df
    # join on the ids frame's own column: a renaming projection would stop
    # Spark from reusing the exchange of the same ids elsewhere in the plan
    on = id_col if col == id_col else F.col(col) == F.col(id_col)
    return df.join(ids.select(id_col), on, "left_semi")


def decontaminate_substring(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_text_col: str = "text",
    min_span: int = 20,
    k: int = 5,
    bloom_m_bits: int | None = None,
    bloom_k_hashes: int = 4,
    algo: str = "xxhash64",
    max_fp_df: int | None = None,
    doc_fps: DataFrame | None = None,
    verdict_only: bool = False,
) -> DataFrame:
    """Exact-substring decontamination: flag every document that shares a
    verbatim span of at least ``min_span`` characters with any probe
    (the GPT-3/LLaMA test-set overlap criterion).

    Returns one row per input document,
    ``(id, n_candidate_probes, n_contam_probes, contaminated)``, or
    ``(id, contaminated)`` when ``verdict_only``.  ``n_contam_probes``
    and ``contaminated`` are exact: they equal a brute-force doc × probe
    substring check.  ``n_candidate_probes`` counts the pairs that
    reached the verify; it depends on ``algo`` and ``max_fp_df`` and is
    for observability only.  NULL or short texts are never contaminated.

    Method: both sides are winnowed so any shared span shares a
    fingerprint (``k``-char grams, window ``min_span - k + 1``); the
    fingerprint equi-join yields candidate pairs, and each is verified by
    testing whether some ``min_span``-gram of the probe occurs in the
    doc.  Probes are assumed benchmark-sized and broadcast; the doc side
    never shuffles for the joins.

    ``algo`` (``xxhash64`` or ``md5i64``) is the winnow gram hash on both
    sides.  It changes only the candidate set, never the verdict.

    ``max_fp_df`` splits off HOT fingerprints (carried by more than that
    many docs).  Docs and probes carrying one are matched by joining all
    their ``min_span``-grams on the gram string, which is exact, and the
    rest go through the candidate join.  The verdict columns are
    identical at any threshold; only the cost changes.  None disables
    the split.

    ``bloom_m_bits`` is the corpus-sized probe mode: doc fingerprints are
    pre-screened against an ``m``-bit Bloom filter of the probe
    fingerprints, and the probe tables are joined by shuffle instead of
    broadcast.  The result is identical at any ``m``.

    ``doc_fps`` reuses a persisted :func:`winnow_fingerprints` frame of
    ``docs`` (checked against its geometry stamp when present).

    ``verdict_only`` returns the verdict projection.  Since it needs
    existence only, the hot gram join collapses its probe side to one row
    per distinct gram.
    """
    fp = _span_fps(docs, id_col, text_col, min_span, k, algo, max_fp_df, doc_fps)
    pfp = _span_fps(
        probes, probe_id_col, probe_text_col, min_span, k, algo, as_id="_ida"
    )
    l_txt = docs.select(F.col(id_col).alias("_idb"), F.col(text_col).alias("_bt"))
    r_txt = probes.select(
        F.col(probe_id_col).alias("_ida"), F.col(probe_text_col).alias("_at")
    )
    bcast, every = bloom_m_bits is None, F.lit(True)
    hot = None
    if max_fp_df is not None:
        (fp, d_aff), (pfp, p_aff) = _hot_split(fp, max_fp_df, fp, pfp)
        hot = _hot_gram_join(
            l_txt.join(d_aff, "_idb", "left_semi"),
            r_txt.join(p_aff, "_ida", "left_semi"),
            l_txt, min_span, every, bcast, not verdict_only, starts=False,
        )
    if bloom_m_bits is not None:
        from tikv_data_compare_spark.operators.bloom import bloom_build, bloom_probe

        bitmap = bloom_build(pfp, "fp", bloom_m_bits, bloom_k_hashes)
        fp = bloom_probe(
            fp, bitmap, "fp", bloom_m_bits, bloom_k_hashes, id_cols=["_idb", "fp"]
        ).where(F.col("might_contain") == 1).drop("might_contain")
    cand = _cold_pairs(fp, _bc(pfp, bcast), every)
    if hot is not None and not verdict_only:
        # hot pairs are true hits; the shared verify keeps them exact
        cand = cand.unionByName(hot.select("_idb", "_ida").distinct()).distinct()
    pairs = (
        cand.join(l_txt, "_idb")
        .join(_bc(r_txt, bcast), "_ida")
        .withColumn("_hit", _any_gram_in(min_span))
    )
    base = docs.select(F.col(id_col).alias("_idb"))
    if verdict_only:
        # contaminated = any cold pair verifies OR any hot gram matched
        out = base.join(
            pairs.groupBy("_idb").agg(F.max("_hit").alias("_chit")), "_idb", "left"
        )
        flag = F.coalesce("_chit", F.lit(False))
        if hot is not None:
            out = out.join(
                hot.select("_idb").distinct().withColumn("_hhit", F.lit(True)),
                "_idb", "left",
            )
            flag = flag | F.coalesce("_hhit", F.lit(False))
        return out.select(F.col("_idb").alias(id_col), flag.alias("contaminated"))
    verdicts = pairs.groupBy("_idb").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_probes"),
        F.sum(F.col("_hit").cast("long")).cast("long").alias("n_contam_probes"),
        F.max(F.col("_hit")).alias("contaminated"),
    )
    return base.join(verdicts, "_idb", "left").select(
        F.col("_idb").alias(id_col),
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in ("n_candidate_probes", "n_contam_probes")
        ],
        F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
    )


def _self_dedup_hits(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_span: int,
    k: int,
    max_fp_df: "int | None",
    algo: str,
    doc_fps: "DataFrame | None",
    later_ids: "DataFrame | None",
    partners: bool,
) -> DataFrame:
    """The span match of the corpus against itself: every ``(_idb, _ida,
    _i)`` where the ``min_span``-gram at 1-based start ``_i`` of doc
    ``_idb`` occurs verbatim in a doc ``_ida < _idb``.  Triples may
    repeat; consumers aggregate with distinct.

    ``later_ids`` restricts ``_idb`` to those ids, while ``_ida`` and the
    hot-fingerprint statistics still range over the whole corpus, so each
    kept doc gets exactly its full-run hits.  ``partners=False`` makes
    ``_ida`` a witness rather than every earlier partner
    (:func:`_hot_gram_join`).

    Docs affected by a hot fingerprint meet each other in the hot gram
    join, which is complete for such pairs, so pairs with both members
    affected leave the cold candidates before the verify.
    """
    from tikv_data_compare_spark.session import scale_out

    txt = docs.select(F.col(id_col).alias("_idb"), F.col(text_col).alias("_bt"))
    ref_txt = txt.select(F.col("_idb").alias("_ida"), F.col("_bt").alias("_at"))
    fp = _span_fps(docs, id_col, text_col, min_span, k, algo, max_fp_df, doc_fps)
    earlier = F.col("_ida") < F.col("_idb")
    hot = None
    if max_fp_df is None:
        fp = fp.withColumn("_aff", F.lit(False))
    else:
        ((fp, affected),) = _hot_split(fp, max_fp_df, fp)
        # widen the scan before the semi-join: the gram explode is the
        # heavy map stage, and a broadcast semi-join keeps the scan's split
        # count (session.scale_out docstring)
        src = scale_out(txt, key="_idb").join(affected, "_idb", "left_semi")
        hot = _hot_gram_join(
            _only(src, "_idb", later_ids, id_col),
            src.select(F.col("_idb").alias("_ida"), F.col("_bt").alias("_at")),
            txt, min_span, earlier, False, partners, starts=True,
        )
        fp = fp.join(affected.withColumn("_aff", F.lit(True)), "_idb", "left")
    both = F.coalesce("_affa", F.lit(False)) & F.coalesce("_affb", F.lit(False))
    # earlier side first: the pairs come out partitioned by _ida, ready
    # for the first text join
    cand = _cold_pairs(
        fp.select(F.col("_idb").alias("_ida"), "fp", F.col("_aff").alias("_affa")),
        _only(fp, "_idb", later_ids, id_col).withColumnRenamed("_aff", "_affb"),
        earlier & ~both,
    )
    starts = (
        cand.join(ref_txt, "_ida")
        .join(txt, "_idb")
        .withColumn("_ss", _shared_starts(min_span))
    )
    hits = starts.where(F.size("_ss") > 0).select(
        "_idb", "_ida", F.explode("_ss").alias("_i")
    )
    return hits if hot is None else hits.unionByName(hot)


def self_dedup_substring(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span: int = 20,
    k: int = 5,
    max_fp_df: int | None = None,
    algo: str = "xxhash64",
    doc_fps: DataFrame | None = None,
    later_ids: "DataFrame | None" = None,
) -> DataFrame:
    """Corpus-internal exact-substring dedup (the ExactSubstr criterion of
    Lee et al. 2021): a doc is dropped iff it shares a verbatim span of at
    least ``min_span`` characters with a SMALLER-id doc.

    Returns one row per input doc,
    ``(id, n_dup_partners, n_dup_starts, n_dup_chars, kept)``:
    the number of smaller-id docs sharing a span, the number of 1-based
    starts in this doc whose ``min_span``-gram occurs in one of them, the
    characters those spans cover (the union of ``[i, i + min_span)``),
    and ``kept``.  The output equals brute force over all pairs.  The
    keep rule is per doc and globally first: kept docs are mutually
    span-disjoint and every dropped doc has an earlier partner.  NULL or
    short docs are kept.

    Method: the corpus is winnowed once (window ``min_span - k + 1``),
    fingerprint self-equi-join pairs ``id_a < id_b`` become candidates,
    and each candidate is verified by position.  The cost is
    O(candidate pairs × positions), never all pairs.

    ``max_fp_df`` splits off HOT fingerprints (carried by more than that
    many docs), the quadratic hazard of boilerplate spans: docs carrying
    one are matched by a gram-string join instead, and pairs of two such
    docs skip the candidate join.  The output is identical at any
    threshold.  ``algo`` (``xxhash64`` or ``md5i64``) is the winnow hash;
    it never changes the output.  ``doc_fps`` reuses a persisted
    :func:`winnow_fingerprints` frame (geometry-checked).

    ``later_ids`` (one ``id_col`` column) returns only those docs' rows,
    each equal to the full run's row: the earlier side and the hot
    statistics stay the whole corpus.
    """
    hits = _self_dedup_hits(
        docs, id_col, text_col, min_span, k, max_fp_df, algo, doc_fps,
        later_ids, partners=True,
    )
    # collect_set dedupes positions inside the aggregation buffer; the
    # union of intervals over sorted starts s_1..s_m covers
    # min_span + Σ min(min_span, s_j − s_{j−1}) chars
    verdict = (
        hits.groupBy("_idb")
        .agg(
            F.countDistinct("_ida").cast("long").alias("n_dup_partners"),
            F.sort_array(F.collect_set("_i")).alias("_sv"),
        )
        .select(
            F.col("_idb").alias(id_col),
            "n_dup_partners",
            F.size("_sv").cast("long").alias("n_dup_starts"),
            F.expr(
                f"aggregate(slice(_sv, 2, greatest(size(_sv) - 1, 0)), "
                f"named_struct('p', element_at(_sv, 1), 't', CAST({min_span} AS BIGINT)), "
                f"(acc, s) -> named_struct('p', s, "
                f"'t', acc.t + least(CAST({min_span} AS BIGINT), CAST(s - acc.p AS BIGINT))), "
                f"acc -> acc.t)"
            ).alias("n_dup_chars"),
        )
    )
    base = _only(docs.select(id_col), id_col, later_ids, id_col)
    return base.join(verdict, id_col, "left").select(
        id_col,
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in ("n_dup_partners", "n_dup_starts", "n_dup_chars")
        ],
        F.col("n_dup_partners").isNull().alias("kept"),
    )


def self_dedup_kept(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span: int = 20,
    k: int = 5,
    max_fp_df: "int | None" = None,
    algo: str = "xxhash64",
    doc_fps: "DataFrame | None" = None,
    later_ids: "DataFrame | None" = None,
) -> DataFrame:
    """The ``kept`` column of :func:`self_dedup_substring` alone:
    ``(id, kept)``, one row per input doc (or per ``later_ids`` id),
    equal to that operator's column.  Arguments are the same.

    Only hit existence is needed, so the hot gram join keeps one witness
    row per distinct gram instead of every earlier carrier, which bounds
    it by the corpus positions on template-heavy corpora.
    """
    hits = _self_dedup_hits(
        docs, id_col, text_col, min_span, k, max_fp_df, algo, doc_fps,
        later_ids, partners=False,
    )
    dropped = hits.select(F.col("_idb").alias(id_col)).distinct()
    base = _only(docs.select(id_col), id_col, later_ids, id_col)
    return base.join(
        dropped.withColumn("_sd_hit", F.lit(True)), id_col, "left"
    ).select(id_col, F.col("_sd_hit").isNull().alias("kept"))


def self_dedup_trim(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span: int = 20,
    k: int = 5,
    max_fp_df: "int | None" = None,
    algo: str = "xxhash64",
    doc_fps: "DataFrame | None" = None,
    snap: str = "none",
    later_ids: "DataFrame | None" = None,
) -> DataFrame:
    """Span-surgical ExactSubstr dedup (the removal mode of Lee et al.
    2021): instead of dropping a doc that shares verbatim spans of
    ``>= min_span`` chars with smaller-id docs, cut those spans out of
    its text.  Smaller-id carriers keep their text whole, so one copy of
    each duplicated span survives.  Not idempotent: a cut can join text
    into a new duplicate; iterate externally for a fixpoint.

    Returns one row per input doc (or per ``later_ids`` id, each equal to
    the full run's row), ``(id, text_trimmed, n_trimmed_chars,
    kept_intact)``: the text with the union of ``[i, i + min_span)``
    removed over every hit start ``i`` (NULL stays NULL), the removed
    char count, and whether nothing was cut (equal to
    :func:`self_dedup_substring`'s ``kept``).  The other arguments are
    as in :func:`self_dedup_substring`; the hot gram join keeps one
    witness per distinct gram, since only the starts are needed.

    ``snap`` sets the cut boundaries:

    * ``"none"``: remove exactly the covered intervals, even mid-word.
      ``n_trimmed_chars`` then equals ``n_dup_chars``.
    * ``"word"``: widen each merged interval to whitespace so no word is
      partly removed.  For ``[s, e]``, ``s`` moves to just after the
      previous whitespace iff chars ``s-1`` and ``s`` are both
      non-whitespace, and ``e`` to just before the next whitespace iff
      chars ``e`` and ``e+1`` are; whitespace is the six ASCII chars of
      Java-regex ``\\s``.  Removes at least as much as ``"none"``.
    """
    if snap not in ("none", "word"):
        raise ValueError(f"snap must be 'none' or 'word', got {snap!r}")
    hits = _self_dedup_hits(
        docs, id_col, text_col, min_span, k, max_fp_df, algo, doc_fps,
        later_ids, partners=False,
    )
    # one aggregation; collect_set dedupes the starts inside the buffer
    sv = (
        hits.groupBy("_idb")
        .agg(F.sort_array(F.collect_set("_i")).alias("_sv"))
        .withColumnRenamed("_idb", id_col)
    )
    base = _only(docs, id_col, later_ids, id_col)
    out = base.select(id_col, F.col(text_col).alias("_t")).join(sv, id_col, "left")
    if snap == "none":
        # fold sorted starts into the trimmed text: acc.p = the next
        # uncovered 1-based scan position; each start s appends the
        # uncovered gap [acc.p, s) and advances coverage to s + min_span;
        # the finisher appends the tail.  Overlapping/adjacent intervals
        # merge for free (s <= acc.p appends nothing and greatest() keeps
        # the farther edge).
        trim = F.expr(
            f"aggregate(_sv, "
            f"named_struct('p', CAST(1 AS BIGINT), 't', CAST('' AS STRING)), "
            f"(acc, s) -> named_struct("
            f"'p', greatest(acc.p, CAST(s + {min_span} AS BIGINT)), "
            f"'t', CASE WHEN s > acc.p "
            f"THEN concat(acc.t, substr(_t, CAST(acc.p AS INT), CAST(s - acc.p AS INT))) "
            f"ELSE acc.t END), "
            f"acc -> concat(acc.t, substr(_t, CAST(acc.p AS INT))))"
        )
    else:
        # merge the raw [s, s+min_span) intervals first, then snap only the
        # merged runs' edges.  Equivalent to snapping every raw interval:
        # an interior edge's extension stops at the nearest whitespace,
        # which either lies inside the merged run or coincides with the
        # outer edge's target.  The whitespace positions are materialized
        # once per hit doc with an ascii() class test (9-13, 32), which is
        # far cheaper than a per-char regex.
        out = out.withColumn(
            "_wsv",
            F.expr(
                "CASE WHEN _sv IS NULL THEN NULL ELSE "
                "filter(sequence(1, length(_t)), "
                "p -> ascii(substr(_t, p, 1)) IN (9, 10, 11, 12, 13, 32)) "
                "END"
            ),
        ).withColumn(
            "_rv",
            F.expr(
                f"aggregate(_sv, "
                f"named_struct("
                f"'arr', CAST(array() AS array<struct<l: bigint, r: bigint>>), "
                f"'cl', CAST(-1 AS BIGINT), 'cr', CAST(-1 AS BIGINT)), "
                f"(acc, s) -> CASE "
                f"WHEN acc.cl < 0 THEN named_struct('arr', acc.arr, "
                f"'cl', CAST(s AS BIGINT), 'cr', CAST(s + {min_span} - 1 AS BIGINT)) "
                f"WHEN s <= acc.cr + 1 THEN named_struct('arr', acc.arr, "
                f"'cl', acc.cl, 'cr', greatest(acc.cr, CAST(s + {min_span} - 1 AS BIGINT))) "
                f"ELSE named_struct("
                f"'arr', array_append(acc.arr, named_struct('l', acc.cl, 'r', acc.cr)), "
                f"'cl', CAST(s AS BIGINT), 'cr', CAST(s + {min_span} - 1 AS BIGINT)) END, "
                f"acc -> CASE WHEN acc.cl < 0 THEN acc.arr "
                f"ELSE array_append(acc.arr, named_struct('l', acc.cl, 'r', acc.cr)) END)"
            ),
        ).withColumn(
            "_iv",
            F.expr(
                "array_sort(transform(_rv, v -> named_struct("
                "'l', CASE WHEN v.l > 1 AND NOT array_contains(_wsv, v.l - 1) "
                "AND NOT array_contains(_wsv, v.l) "
                "THEN coalesce(array_max(filter(_wsv, w -> w < v.l)), 0) + 1 "
                "ELSE v.l END, "
                "'r', CASE WHEN v.r < length(_t) "
                "AND NOT array_contains(_wsv, v.r) "
                "AND NOT array_contains(_wsv, v.r + 1) "
                "THEN coalesce(array_min(filter(_wsv, w -> w > v.r)), "
                "length(_t) + 1) - 1 "
                "ELSE v.r END)))"
            ),
        )
        trim = F.expr(
            "aggregate(_iv, "
            "named_struct('p', CAST(1 AS BIGINT), 't', CAST('' AS STRING)), "
            "(acc, iv) -> named_struct("
            "'p', greatest(acc.p, CAST(iv.r + 1 AS BIGINT)), "
            "'t', CASE WHEN iv.l > acc.p "
            "THEN concat(acc.t, substr(_t, CAST(acc.p AS INT), "
            "CAST(iv.l - acc.p AS INT))) "
            "ELSE acc.t END), "
            "acc -> concat(acc.t, substr(_t, CAST(acc.p AS INT))))"
        )
    return out.select(
        id_col,
        F.when(F.col("_sv").isNull(), F.col("_t"))
        .otherwise(trim)
        .alias("text_trimmed"),
        F.when(F.col("_sv").isNull(), F.lit(0).cast("long"))
        .otherwise(
            (F.length("_t") - F.length(trim)).cast("long")
        )
        .alias("n_trimmed_chars"),
        F.col("_sv").isNull().alias("kept_intact"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_text_col: str = "text",
    threshold_bp: int = 8000,
    algo: str = "md5i64",
    n_bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Fuzzy / near-duplicate test-set decontamination (r13): flag every
    document whose 3-shingle-set Jaccard with ANY probe/benchmark document
    is at least ``threshold_bp`` (×10000) — the paraphrase-level screen
    published pipelines (Gopher §A2, GPT-4-class reports) run alongside
    verbatim matching, catching eval items that were lightly reworded,
    re-punctuated, or truncated before landing in the training corpus
    (where ``decontaminate_substring``'s exact-span criterion misses them).

    Composition of the dedup machinery, pointed ACROSS corpora instead of
    at a self-join: MinHash signatures on both sides (frozen permutations,
    the ``dedup.minhash_signatures`` geometry), band-key equi-join of doc
    bands against the broadcast probe bands → candidate (doc, probe)
    pairs, exact shingle-set Jaccard verify on each candidate.  Candidate
    generation is probabilistic in the standard LSH sense (a pair missing
    every band is not screened — the same recall contract as
    ``dedup.minhash_pairs``); every SURVIVING verdict is exact.

    Scale shape: the probe side is benchmark-sized by contract, so its
    band table and shingle arrays broadcast; the corpus side is one
    map-side shingle+signature pass, a broadcast band join, and a
    candidate-sized verify join (AQE turns it into a broadcast join when
    the candidates are few; pathological band collisions degrade to a
    shuffle join sized by the candidates, never all-pairs).  The corpus
    text is scanned once and never shuffles.

    Returns one row per input doc (the ``decontaminate_substring``
    contract): ``(id, n_candidate_probes, n_fuzzy_probes, max_jaccard_c,
    contaminated)`` — candidates screened, candidates at/above threshold,
    the best verified Jaccard (×10000; 0 when no candidate), and the drop
    flag.
    """
    from tikv_data_compare_spark.operators import dedup as dd

    if not 0 < threshold_bp <= 10000:
        raise ValueError(f"threshold_bp must be in (0, 10000], got {threshold_bp}")
    if id_col == probe_id_col:
        raise ValueError(
            "id_col and probe_id_col must differ (the candidate join needs "
            "unambiguous columns); alias one side"
        )
    n_perms = n_bands * rows_per_band
    d_sh = dd.hashed_shingle_arrays(docs, id_col, text_col, algo)
    p_sh = dd.hashed_shingle_arrays(probes, probe_id_col, probe_text_col, algo)
    d_sig = dd.minhash_signatures(
        docs, id_col, text_col, algo, shingles=d_sh, n_perms=n_perms
    )
    p_sig = dd.minhash_signatures(
        probes, probe_id_col, probe_text_col, algo, shingles=p_sh, n_perms=n_perms
    )
    d_bands = dd.band_key_rows(d_sig, id_col, n_bands, rows_per_band)
    p_bands = dd.band_key_rows(p_sig, probe_id_col, n_bands, rows_per_band)
    cand = (
        d_bands.join(F.broadcast(p_bands), ["band", "hkey"])
        .select(id_col, probe_id_col)
        .distinct()
    )
    # exact verify — the probe shingle arrays ride on the (bounded)
    # candidate frame so the corpus-side join probes ONE relation
    pside = cand.join(
        F.broadcast(p_sh.select(probe_id_col, F.col("_sh").alias("_shp"))),
        probe_id_col,
    )
    verified = (
        d_sh.select(id_col, F.col("_sh").alias("_shd"))
        .join(pside, id_col)
        .withColumn("_ni", F.expr("size(array_intersect(_shd, _shp))"))
        .withColumn(
            "_j",
            F.expr(
                "CAST(ROUND(10000.0 * _ni / (size(_shd) + size(_shp) - _ni)) AS BIGINT)"
            ),
        )
    )
    verdicts = verified.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_probes"),
        F.sum((F.col("_j") >= threshold_bp).cast("long")).cast("long").alias(
            "n_fuzzy_probes"
        ),
        F.max("_j").cast("long").alias("max_jaccard_c"),
    )
    return docs.select(id_col).join(verdicts, id_col, "left").select(
        id_col,
        F.coalesce("n_candidate_probes", F.lit(0)).cast("long").alias(
            "n_candidate_probes"
        ),
        F.coalesce("n_fuzzy_probes", F.lit(0)).cast("long").alias(
            "n_fuzzy_probes"
        ),
        F.coalesce("max_jaccard_c", F.lit(0)).cast("long").alias("max_jaccard_c"),
        (F.coalesce("n_fuzzy_probes", F.lit(0)) > 0).alias("contaminated"),
    )


#: shared hex-nibble decode — identical expression in Spark SQL and DuckDB,
#: exact integer math (used instead of conv()/from_hex(), which differ in
#: signature across engines)
BPE_HEXPAIR_INT = (
    "((instr('0123456789ABCDEF', substr({t}, 1, 1)) - 1) * 16"
    " + (instr('0123456789ABCDEF', substr({t}, 2, 1)) - 1))"
)


def bpe_vocab(merges: list[tuple[str, str]]) -> list[tuple[int, str]]:
    """The tokenizer's full vocabulary as ``(token_id, token_hex)``: ids
    0–255 are the 256 raw bytes (id = byte value), merge rank r mints
    token id ``256 + r`` for the concatenation ``l || r`` — every token a
    segmentation can contain is one of these, by construction (each merge
    creates exactly one new symbol).  Export this next to the merge table
    to decode id streams back to bytes."""
    base = [(i, f"{i:02X}") for i in range(256)]
    return base + [(256 + r, l + rr) for r, (l, rr) in enumerate(merges)]


def bpe_ids_sql(text_col: str, merges: list[tuple[str, str]]) -> str:
    """Spark SQL expression: the document's full token-ID SEQUENCE under the
    frozen merges — the array a pretraining pipeline actually feeds the
    model (``bpe_ntok_sql`` counts are ``size`` of this).  Word-internal
    BPE: the stream is the concatenation of each word's token ids in
    document order; whitespace is a boundary, not a token (documented
    convention — GPT-2-style space-marker bytes would fold spaces into the
    words before training).  Map-side like the count: words → per-word
    fold → token split → id lookup (byte tokens decode arithmetically,
    merge tokens hit a ≤n_merges literal map) → flatten."""
    seg0 = "regexp_replace(hex(encode(w, 'UTF-8')), '(..)', ',$1,')"
    fold = (
        f"aggregate({bpe_merges_array_sql(merges)}, {seg0}, "
        f"(acc, m) -> replace(acc, m.pat, m.rep))"
    )
    hexpair = BPE_HEXPAIR_INT.format(t="t")
    if merges:
        # two merges CAN mint the same concatenated string (a pair re-learned
        # after its contexts reform); Spark's map() default dedup policy is
        # EXCEPTION, so dedup here with LAST_WIN (highest rank's id) — the
        # broadcast path's dict build uses the same convention.
        id_of: dict[str, int] = {}
        for rank, (l, r) in enumerate(merges):
            id_of[l + r] = 256 + rank
        entries = ", ".join(f"'{k}', {v}" for k, v in id_of.items())
        merged_id = f"element_at(map({entries}), t)"
    else:
        merged_id = "CAST(NULL AS INT)"
    ids_of_word = (
        f"transform(filter(split(trim(BOTH ',' FROM {fold}), ',,'), t -> t <> ''), "
        f"t -> CAST(CASE WHEN length(t) = 2 THEN {hexpair} ELSE {merged_id} END AS INT))"
    )
    return (
        f"flatten(transform(split(coalesce({text_col}, ''), ' '), "
        f"w -> {ids_of_word}))"
    )


#: merge-table size above which ``encode_mode='auto'`` switches from the
#: plan-literal SQL fold to the broadcast Arrow priority-merge encoder.
#: The literal fold costs O(n_merges · word_len) per word occurrence AND
#: embeds an n_merges-entry array + id map in the plan (~50 bytes/merge —
#: fine at the gated 48–200 merges, a plan-compile and per-row killer at a
#: production 32k-rank tokenizer).  512 keeps every gated geometry on the
#: oracle-replayable literal path.
BPE_ENCODE_LITERAL_MAX_MERGES = 512


def _bpe_encode_word_py(
    word: str,
    ranks: dict[tuple[str, str], list[int]],
    vocab_id: dict[str, int],
) -> list[int]:
    """Encode ONE word to token ids with rank-floor priority merging —
    bit-identical to ``bpe_ids_sql``'s sequential replace fold, at
    O(word_len²) instead of O(n_merges · word_len).

    The sequential fold applies each merge rank exactly once, in rank
    order, as a leftmost-non-overlapping pass.  Equivalent emulation:
    repeatedly apply the SMALLEST present rank ≥ a floor, then raise the
    floor past it — between two applied ranks the segmentation is
    unchanged, so the smallest present rank ≥ floor is exactly the next
    rank the sequential fold would apply non-trivially.  (For merges from
    ``train_bpe_merges`` the floor never skips anything — a rank-r merge
    can only create pairs involving its minted token, learnable only at
    rank > r — but the floor keeps the emulation exact for ANY merge
    table, including hand-crafted ones that violate that invariant.)
    ``ranks`` maps a pair to its sorted rank list (the same pair can be
    re-learned after its minted contexts reform); the merge pass is the
    same left-to-right non-overlapping scan ``replace()`` does.
    """
    from bisect import bisect_left

    h = word.encode("utf-8").hex().upper()
    toks = [h[i : i + 2] for i in range(0, len(h), 2)]
    floor = 0
    while len(toks) > 1:
        best_rank = -1
        best_pair = None
        for pair in zip(toks, toks[1:]):
            rs = ranks.get(pair)
            if rs is None:
                continue
            j = bisect_left(rs, floor)
            if j < len(rs) and (best_pair is None or rs[j] < best_rank):
                best_rank, best_pair = rs[j], pair
        if best_pair is None:
            break
        left, right = best_pair
        merged = left + right
        out: list[str] = []
        i, n = 0, len(toks)
        while i < n:
            if i + 1 < n and toks[i] == left and toks[i + 1] == right:
                out.append(merged)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
        floor = best_rank + 1
    return [vocab_id[t] for t in toks]


def bpe_encode_broadcast(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "token_ids",
) -> DataFrame:
    """The large-merge-table encode path: ship the merge table as ONE
    SparkContext broadcast (ranks + vocab dicts, ~100 bytes/merge) and
    encode Arrow batches with the rank-floor priority merger — the plan
    stays constant-size however big the tokenizer, and per-word cost is
    O(word_len²) instead of O(n_merges · word_len).

    Zipf amortization without a shuffle: a per-PARTITION word→ids memo
    means each distinct word in a partition is folded once (the top
    hundred words cover half of all occurrences), and the whole encode
    stays map-side — zero Exchange, exactly like the literal path, so
    ``pack_sequences`` downstream keeps its two-shuffle shape.  The memo
    is cleared at 1M entries to bound executor memory on pathological
    vocabularies.

    Id lookup mirrors the literal path's ``element_at(map(...))`` under
    LAST_WIN semantics: if two merges mint the same concatenated string
    the higher rank's id wins in both paths.
    """
    ranks: dict[tuple[str, str], list[int]] = {}
    for rank, pair in enumerate(merges):
        ranks.setdefault((pair[0], pair[1]), []).append(rank)
    vocab_id = {th: tid for tid, th in bpe_vocab(merges)}
    bc = df.sparkSession.sparkContext.broadcast((ranks, vocab_id))
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.IntegerType()), False)]
    )

    def encode(batches):
        ranks_b, vocab_b = bc.value
        memo: dict[str, list[int]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            col = []
            for t in pdf[text_col]:
                if not isinstance(t, str):
                    t = ""
                ids: list[int] = []
                for w in t.split(" "):
                    if not w:
                        continue
                    got = memo.get(w)
                    if got is None:
                        if len(memo) >= 1_000_000:
                            memo.clear()
                        got = memo[w] = _bpe_encode_word_py(w, ranks_b, vocab_b)
                    ids.extend(got)
                col.append(ids)
            out = pdf.copy()
            out[out_col] = col
            yield out

    return df.mapInPandas(encode, schema)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "token_ids",
    encode_mode: str = "auto",
) -> DataFrame:
    """Append the trained-BPE token-id sequence (``array<int>``); NULL/empty
    text → empty array.  ``size(token_ids)`` always equals
    ``bpe_token_count``'s count (both derive from the same segmentations).

    ``encode_mode``: ``'literal'`` embeds the merge table in the plan as a
    constant-folded SQL fold (oracle-replayable — the gated path),
    ``'broadcast'`` ships it as a broadcast and encodes Arrow batches with
    the rank-floor priority merger (:func:`bpe_encode_broadcast` — the
    32k-merge production path), ``'auto'`` switches on
    ``len(merges) > BPE_ENCODE_LITERAL_MAX_MERGES``.  Both paths produce
    identical ids (equivalence-tested, incl. rank-order edge cases)."""
    if encode_mode not in ("auto", "literal", "broadcast"):
        raise ValueError(
            f"encode_mode must be auto|literal|broadcast, got {encode_mode!r}"
        )
    if encode_mode == "broadcast" or (
        encode_mode == "auto" and len(merges) > BPE_ENCODE_LITERAL_MAX_MERGES
    ):
        return bpe_encode_broadcast(df, merges, text_col=text_col, out_col=out_col)
    return df.withColumn(out_col, F.expr(bpe_ids_sql(text_col, merges)))


def chunk_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_words: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding-window passage chunking (r10): cut every document into
    word-window chunks of at most ``max_words`` with ``overlap`` words of
    context carried between consecutive chunks — the long-document
    preprocessing step in front of embedding models / context-bounded
    training (stride = max_words − overlap, the Hugging Face
    ``return_overflowing_tokens`` recipe at word granularity).

    Chunk ``c`` covers words ``[c·stride, c·stride + max_words)``;
    chunks are emitted while the previous window has not reached the end,
    so every word is covered, the last chunk may be short, and a doc of
    ``≤ max_words`` words yields exactly one chunk.  NULL text behaves as
    ``''`` (one chunk of one empty word — every doc yields ≥1 row).

    Returns ``(id, chunk_idx, n_chunk_words, chunk_text)``.  Entirely
    map-side (one transform + explode, zero shuffle), deterministic, and
    the window algebra replays in DuckDB (gated inside ``text_tokens``).
    """
    if max_words < 1:
        raise ValueError(f"max_words must be >= 1, got {max_words}")
    if not (0 <= overlap < max_words):
        raise ValueError(
            f"overlap must be in [0, max_words), got overlap={overlap} "
            f"max_words={max_words}"
        )
    stride = max_words - overlap
    ws = f"split(coalesce({text_col}, ''), ' ')"
    nc = (
        f"(1 + CAST((greatest(size({ws}) - {max_words}, 0) + {stride} - 1) "
        f"div {stride} AS INT))"
    )
    chunks = (
        f"transform(sequence(0, {nc} - 1), c -> named_struct("
        f"'chunk_idx', CAST(c AS BIGINT), "
        f"'n_chunk_words', CAST(size(slice({ws}, c * {stride} + 1, {max_words})) AS BIGINT), "
        f"'chunk_text', concat_ws(' ', slice({ws}, c * {stride} + 1, {max_words}))))"
    )
    return df.select(
        id_col, F.explode(F.expr(chunks)).alias("_c")
    ).select(
        id_col,
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.n_chunk_words").alias("n_chunk_words"),
        F.col("_c.chunk_text").alias("chunk_text"),
    )


def bpe_token_count_via_vocab(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "n_tokens_subword",
) -> DataFrame:
    """The large-merge-table variant of :func:`bpe_token_count`: tokenize
    each DISTINCT word once, then meet the exploded corpus in an equi-join
    and sum per doc — Zipf amortization (the top hundred words cover half
    the corpus's occurrences, each folded once instead of per occurrence).

    Use when the merge table is big enough that the per-occurrence fold
    dominates (the inline fold is O(n_merges · word_len) per OCCURRENCE;
    this one pays it per distinct word + two shuffles: the word join and
    the per-doc sum).  At the gate geometry (48 merges) the map-side fold
    wins; at a production 32k-rank table this one does.  Results are
    identical by construction (same fold per word) — contract-tested.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), " ")
        ).alias("_w"),
    ).where(F.col("_w") != "")
    seg0 = "regexp_replace(hex(encode(_w, 'UTF-8')), '(..)', ',$1,')"
    fold = (
        f"aggregate({bpe_merges_array_sql(merges)}, {seg0}, "
        f"(acc, m) -> replace(acc, m.pat, m.rep))"
    )
    wtok = (
        words.select("_w")
        .distinct()
        .withColumn("_f", F.expr(fold))
        .select(
            "_w",
            F.expr(
                "CAST((length(_f) - length(replace(_f, ',', ''))) / 2 AS BIGINT)"
            ).alias("_ntok"),
        )
    )
    per_doc = (
        words.join(wtok, "_w")
        .groupBy(id_col)
        .agg(F.sum("_ntok").cast("long").alias(out_col))
    )
    return df.join(per_doc, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0)).cast("long")
    )


def pack_sequences(
    df: DataFrame,
    merges: list[tuple[str, str]],
    seq_len: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The tokenization capstone (r10): corpus text → the fixed-length
    token-ID sequences a pretraining job actually consumes.  Documents are
    BPE-encoded (``bpe_encode``), laid out in deterministic content-hash
    order within ``n_shards`` hash shards (the ``pack_token_bins``
    contract), concatenated, and cut every ``seq_len`` tokens — true
    concatenate-and-cut at TOKEN granularity: documents straddle sequence
    boundaries, sequences are exactly ``seq_len`` ids except each shard's
    last.

    Returns ``(shard, seq_idx, token_ids, n_tokens)``; ``seq_idx`` is
    shard-local (globally unique as ``seq_idx · n_shards + shard``).
    Everything is a pure function of content — membership, order and every
    cut replay identically on any cluster or retry.

    Scale shape: per document, its token span [start, start+n) overlaps at
    most ``ceil(n/seq_len)+1`` sequences, so the plan explodes per
    (doc, sequence) SLICE — O(docs + sequences) rows, never per token —
    then one groupBy (shard, seq) flattens the start-ordered pieces.  Two
    shuffles: the shard window cumsum and the piece regroup.  Empty docs
    contribute nothing (zero tokens own no span).
    """
    from pyspark.sql import Window

    from tikv_data_compare_spark.operators.sampling import content_shards

    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    if "token_ids" in df.columns:
        # caller already encoded (e.g. cli tokenize --ids): reuse instead
        # of re-running the merge fold over the corpus (r10 review)
        enc = df.select(id_col, text_col, "token_ids")
    else:
        enc = bpe_encode(df.select(id_col, text_col), merges)
    staged = content_shards(enc, n_shards, content_col=text_col).withColumn(
        "_ntok", F.size("token_ids").cast("long")
    )
    w = Window.partitionBy("_shard").orderBy("_sample_h", id_col)
    staged = (
        staged.withColumn("_start", (F.sum("_ntok").over(w) - F.col("_ntok")))
        .where(F.col("_ntok") > 0)
        .withColumn("_first", F.expr(f"_start div {seq_len}"))
        .withColumn("_last", F.expr(f"(_start + _ntok - 1) div {seq_len}"))
    )
    pieces = staged.select(
        "_shard",
        F.explode(F.expr("sequence(_first, _last)")).alias("_seq"),
        "_start",
        "_ntok",
        "token_ids",
    ).select(
        "_shard",
        "_seq",
        F.expr(f"greatest(_seq * {seq_len}, _start)").alias("_pstart"),
        F.expr(
            f"slice(token_ids, CAST(greatest(_seq * {seq_len} - _start, 0) + 1 AS INT), "
            f"CAST(least((_seq + 1) * {seq_len}, _start + _ntok) "
            f"- greatest(_seq * {seq_len}, _start) AS INT))"
        ).alias("_piece"),
    )
    return (
        pieces.groupBy("_shard", "_seq")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list("
                "named_struct('s', _pstart, 'p', _piece))), x -> x.p))"
            ).alias("token_ids")
        )
        .select(
            F.col("_shard").cast("long").alias("shard"),
            F.col("_seq").cast("long").alias("seq_idx"),
            "token_ids",
            F.size("token_ids").cast("long").alias("n_tokens"),
        )
    )
