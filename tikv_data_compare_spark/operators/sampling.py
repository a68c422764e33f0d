"""Deterministic corpus sampling for training-data pipelines.

Random sampling (``df.sample``/``rand()``) is not replay-safe: a retried
task re-draws and the sample changes under failure.  At 100 TB every
sampling decision must be a pure function of the row, so these operators
key on a content hash instead — the same rows are selected on every run,
on every cluster, and by the DuckDB oracle.

- ``hash_sample``: Bernoulli p% sample keyed on md5(content) — a narrow
  map-only filter, no shuffle.
- ``stratified_sample``: k rows per group in content-hash order — one
  window shuffle on the group key; skew-safe because k bounds each
  group's output regardless of group size.

The md5 is projected into a staging column before the hex-fold (the fold
repeats its operand 30×; inlining md5 there would recompute it per hex
digit and blow up whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tikv_data_compare_spark.functions import sqlgen

_STAGE = "_sample_m"


def _with_hash(df: DataFrame, content_col: str, out_col: str) -> DataFrame:
    if _STAGE in df.columns:
        raise ValueError(f"column name {_STAGE!r} is reserved by the sampling operators")
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists on the input")
    # NULL content hashes as the empty string — md5(NULL) is NULL, which
    # would silently drop the row from even a pct=100 sample
    content = F.coalesce(F.col(content_col).cast("string"), F.lit(""))
    return df.withColumn(_STAGE, F.md5(content))


def hash_sample(
    df: DataFrame,
    content_col: str = "text",
    pct: int = 10,
    bucket_col: str = "sample_bucket",
) -> DataFrame:
    """Keep ~pct% of rows: content-hash bucket in [0, 100) compared against
    the threshold.  Deterministic, shuffle-free, and stable under task
    retry; exposes the bucket so downstream stages can take disjoint
    slices (e.g. train/validation splits) from one pass."""
    if not 0 <= pct <= 100:
        raise ValueError(f"pct must be in [0, 100], got {pct}")
    bucket = F.expr(f"(({sqlgen.hexfold_i64(_STAGE)} % 100) + 100) % 100")
    return (
        _with_hash(df, content_col, bucket_col)
        .withColumn(bucket_col, bucket.cast("long"))
        .filter(F.col(bucket_col) < pct)
        .drop(_STAGE)
    )


def stratified_sample(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    content_col: str = "text",
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """First k rows per group in (content-hash, tiebreak) order — a
    deterministic per-stratum quota.  One shuffle on the group key; output
    is bounded by k per group so a giant stratum cannot skew the result
    size.  Pass unique ``tiebreak_cols`` (e.g. the doc id) when contents
    can repeat within a group, otherwise the rank among exact duplicates
    is not deterministic."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if "_sample_h" in df.columns:
        raise ValueError(
            "column name '_sample_h' is reserved by stratified_sample; rename it"
        )
    staged = _with_hash(df, content_col, rank_col).withColumn(
        "_sample_h", F.expr(sqlgen.hexfold_i64(_STAGE))
    )
    order = [F.col("_sample_h")] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        staged.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
        .drop(_STAGE, "_sample_h")
    )


def content_shards(
    df: DataFrame,
    n_shards: int,
    content_col: str = "text",
    hash_col: str = "_sample_h",
    shard_col: str = "_shard",
) -> DataFrame:
    """Shared deterministic staging for every content-sharded operator
    (``shard_assignments``, ``text.pack_token_bins``): append the folded
    content hash (NULL content hashes as '') and its mod-``n_shards``
    shard id.  ONE implementation, so the determinism contract (coalesce,
    md5 staged into a column before the 30×-repeating hexfold, non-negative
    mod) cannot drift between operators (r8 review)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if hash_col in df.columns or shard_col in df.columns:
        raise ValueError(
            f"column names {hash_col!r}/{shard_col!r} are reserved by "
            "content_shards; rename them"
        )
    staged = _with_hash(df, content_col, hash_col).withColumn(
        hash_col, F.expr(sqlgen.hexfold_i64(_STAGE))
    )
    shard = ((F.col(hash_col) % n_shards) + n_shards) % n_shards
    return staged.withColumn(shard_col, shard.cast("long")).drop(_STAGE)


def shard_assignments(
    df: DataFrame,
    n_shards: int,
    content_col: str = "text",
    tiebreak_cols: list[str] | None = None,
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
) -> DataFrame:
    """Deterministic training-shard assignment: every row gets a shard id
    (content-hash mod ``n_shards``) and a position within its shard
    (content-hash order with ``tiebreak_cols``) — the shuffled-shard layout
    a training job consumes, as a PURE FUNCTION OF CONTENT.

    Why not ``repartition(n).write``: Spark's physical partitioning depends
    on the input split layout and cluster size, so two runs (or a retried
    stage) can produce different shard membership — unacceptable when a
    training run must be reproducible bit-for-bit from the corpus.  Here
    membership AND intra-shard order replay identically on any cluster,
    and the content-hash order IS the global shuffle SGD wants (hash order
    is uncorrelated with any data order).  Scale shape: one map-side hash
    + one window shuffle keyed on the shard id (n_shards partitions of
    ~equal size by hash uniformity).
    """
    if pos_col in df.columns or shard_col in df.columns:
        raise ValueError(
            f"output column {shard_col!r}/{pos_col!r} already exists on the input"
        )
    staged = content_shards(df, n_shards, content_col, shard_col=shard_col)
    order = [F.col("_sample_h")] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(shard_col).orderBy(*order)
    return (
        staged.withColumn(pos_col, F.row_number().over(w).cast("long"))
        .drop("_sample_h")
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    content_col: str = "text",
    tiebreak_cols: list[str] | None = None,
) -> dict:
    """Materialize the deterministic shards as ``path/shard=N/`` parquet
    (one directory per shard, rows carrying their ``shard_pos`` so a
    reader can restore the exact intra-shard order regardless of file
    layout).  Returns ``{shard: row_count}`` counted from the WRITTEN
    files."""
    assigned = shard_assignments(
        df, n_shards, content_col=content_col, tiebreak_cols=tiebreak_cols
    )
    assigned.write.mode("overwrite").partitionBy("shard").parquet(path)
    out = df.sparkSession.read.parquet(path)
    written = {
        int(r["shard"]): int(r["n"])
        for r in out.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # parquet partitionBy materializes no directory for an EMPTY shard:
    # report those as explicit zeros so a reader iterating shard=0..n-1
    # can distinguish 'empty' from 'out of range' (r8 review)
    return {i: written.get(i, 0) for i in range(n_shards)}


def _apply_mixture(
    df: DataFrame,
    rates: DataFrame,
    group_col: str,
    content_col: str,
    bucket_col: str,
    epoch_col: str,
    keep_rate_col: str | None = None,
) -> DataFrame:
    """Shared mixture core: join per-group ``(_rate_bp, _epochs)``, keep
    rows whose content-hash bucket (per-10000) falls under the group's
    rate, replicate kept rows ``_epochs`` times with an epoch index.
    ``rates`` is tiny (one row per group) — the join broadcasts.
    ``keep_rate_col`` optionally surfaces the applied rate per row (the
    token-mixture caller gates its derived rates through it)."""
    if bucket_col in df.columns or epoch_col in df.columns:
        raise ValueError(
            f"output column {bucket_col!r}/{epoch_col!r} already exists on the input"
        )
    bucket = F.expr(f"(({sqlgen.hexfold_i64(_STAGE)} % 10000) + 10000) % 10000")
    out = (
        _with_hash(df, content_col, bucket_col)
        .withColumn(bucket_col, bucket.cast("long"))
        .join(F.broadcast(rates), group_col)
        .filter(F.col(bucket_col) < F.col("_rate_bp"))
        .withColumn(epoch_col, F.explode(F.expr("sequence(0, CAST(_epochs AS INT) - 1)")))
        .withColumn(epoch_col, F.col(epoch_col).cast("long"))
    )
    if keep_rate_col is not None:
        out = out.withColumn(keep_rate_col, F.col("_rate_bp").cast("long"))
    return out.drop(_STAGE, "_rate_bp", "_epochs")


def mixture_sample(
    df: DataFrame,
    weights: "dict[object, int | tuple[int, int]]",
    group_col: str = "source",
    content_col: str = "text",
    bucket_col: str = "mix_bucket",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic source-mixture sampling — the data-mixing stage of a
    pretraining pipeline (The Pile / LLaMA / Dolma publish exactly such
    tables: per-source sampling percentages and epoch counts).

    ``weights`` maps each ``group_col`` value to a keep-rate in basis
    points of 10000 (downsampling), or to ``(rate_bp, epochs)`` where
    ``epochs >= 1`` replicates every KEPT row that many times with an
    ``epoch`` index (upsampling — how 'wiki ×3 epochs' is materialized;
    the epoch column lets the training-shard writer keep replicas apart).
    Groups absent from ``weights`` are DROPPED — the mixture spec is the
    complete recipe, and silently passing an unlisted source through would
    corrupt the published proportions.

    Selection is keyed on the content hash (same replay-safe contract as
    ``hash_sample``; per-10000 buckets for finer rates), so the mixture is
    a pure function of the data: identical on re-run, on any cluster, and
    in the SQL oracle.  Scale shape: map-side hash + a broadcast join
    against the one-row-per-source rate table + the epoch explode — no
    shuffle at all.
    """
    rows = []
    for g, spec in weights.items():
        if not isinstance(g, str):
            raise ValueError(
                f"weights keys must be strings matching {group_col!r} values, "
                f"got {g!r} — cast the group column (or the keys) first"
            )
        rate, epochs = spec if isinstance(spec, tuple) else (spec, 1)
        # ints only: a float rate like 0.25 (misread as a fraction instead
        # of basis points) would int-truncate to 0 and silently drop the
        # whole group
        if isinstance(rate, bool) or not isinstance(rate, int):
            raise ValueError(
                f"rate for {g!r} must be an integer in basis points of "
                f"10000 (e.g. 2500 = 25%), got {rate!r}"
            )
        if isinstance(epochs, bool) or not isinstance(epochs, int):
            raise ValueError(f"epochs for {g!r} must be an integer, got {epochs!r}")
        if not 0 <= rate <= 10000:
            raise ValueError(f"rate for {g!r} must be in [0, 10000], got {rate}")
        if epochs < 1:
            raise ValueError(f"epochs for {g!r} must be >= 1, got {epochs}")
        rows.append((g, rate, epochs))
    if not rows:
        raise ValueError("weights must list at least one group")
    rates = df.sparkSession.createDataFrame(
        rows, f"{group_col} string, _rate_bp long, _epochs long"
    )
    return _apply_mixture(df, rates, group_col, content_col, bucket_col, epoch_col)


def sqrt_mixture_sample(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    epochs_for_full: int = 1,
    bucket_col: str = "mix_bucket",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Temperature-flattened mixture at τ = 1/2, rates derived IN-PLAN from
    the group sizes: each group keeps ``min(1, sqrt(n_min / n_g))`` of its
    rows, so the LARGEST sources are damped toward the smallest one —
    multilingual/multi-source rebalancing (the τ-temperature resampling of
    mC4/mT5, at the one τ whose math is engine-exact).

    τ = 1/2 specifically because the whole rate computation then stays
    IEEE-deterministic: ``sqrt`` is correctly rounded (unlike ``pow``,
    whose libm results differ across engines in the last ulp), the
    division of two exact doubles is correctly rounded, and ``FLOOR`` of
    that quotient cannot sit on a half-way case — so the derived integer
    rates are reproducible bit-for-bit by the DuckDB oracle.  For
    arbitrary τ compute rates driver-side and pass them to
    :func:`mixture_sample` (the integer rate table is then the
    deterministic artifact).

    ``epochs_for_full`` optionally replicates the groups kept at the full
    rate (the smallest sources — exactly the ones a mixture upsamples).
    Scale shape: one tiny count aggregation + broadcast min, then the
    same zero-shuffle mixture core as :func:`mixture_sample`.
    """
    if int(epochs_for_full) < 1:
        raise ValueError(f"epochs_for_full must be >= 1, got {epochs_for_full}")
    # NULL-group rows can never join a rate (equi-join drops NULL keys), so
    # they must not contribute a phantom group either — a tiny NULL group
    # would otherwise set n_min and silently crush every real group's rate
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    rates = (
        counts.crossJoin(F.broadcast(nmin))
        .withColumn(
            "_rate_bp",
            F.least(
                F.lit(10000).cast("long"),
                F.floor(F.lit(10000) * F.sqrt(F.col("_nmin")) / F.sqrt(F.col("_n"))),
            ).cast("long"),
        )
        .withColumn(
            "_epochs",
            F.when(F.col("_rate_bp") == 10000, F.lit(int(epochs_for_full)))
            .otherwise(F.lit(1))
            .cast("long"),
        )
        .select(group_col, "_rate_bp", "_epochs")
    )
    return _apply_mixture(df, rates, group_col, content_col, bucket_col, epoch_col)


def token_mixture_sample(
    df: DataFrame,
    targets_bp: "dict[str, int]",
    group_col: str = "source",
    content_col: str = "text",
    bucket_col: str = "mix_bucket",
    epoch_col: str = "epoch",
    rate_col: str = "rate_bp",
    ntok_col: str | None = None,
) -> DataFrame:
    """TOKEN-denominated mixture sampling (r10): published mixture tables
    (LLaMA, The Pile, Dolma) specify each source's share of the TRAINING
    TOKENS, not its share of documents — a doc-rate mixture over sources
    with different document lengths misses the published proportions.
    ``targets_bp`` gives each group's desired token share as a relative
    weight in basis points; the keep-RATES are derived IN-PLAN from the
    observed per-group token counts so that post-sample token shares are
    proportional to the targets, with the binding group kept in full
    (rates can only downsample — use ``mixture_sample``'s epochs to
    upsample).

    Integer-exact derivation (the sqrt-τ discipline — every step replays
    bit-for-bit in the SQL oracle):

        u_g    = greatest(1, tokens_g DIV w_g)     -- tokens per weight unit
        rate_g = least(10000, (10000 · min_h u_h) DIV u_g)

    The group with the fewest tokens-per-weight is the constraint (rate
    10000); everyone else downsamples by the exact integer ratio.  The
    floor in ``u`` costs at most w/t relative error — vanishing at corpus
    scale, and DEFINED (both engines floor identically) at toy scale.
    Overflow-safe to ~9·10¹⁴ tokens in the binding group (10000·u must fit
    int64).  Groups absent from ``targets_bp`` DROP (the mixture spec is
    the complete recipe); a zero weight drops its group too.

    Token counts default to whitespace (``size(split(text, ' '))``);
    ``ntok_col`` substitutes a precomputed count column (e.g. trained-BPE
    ``n_tokens_subword`` — counts and selection then both replay).

    Scale shape: ONE partial-aggregated groupBy over (group, ntok) for the
    rate table (one row per listed group), then the shared zero-shuffle
    mixture core (map-side content hash + broadcast rate join).  Output
    carries ``rate_bp`` so the derived rates are auditable (and
    oracle-gated) per row.
    """
    for g, w in targets_bp.items():
        if not isinstance(g, str):
            raise ValueError(
                f"targets_bp keys must be strings matching {group_col!r} "
                f"values, got {g!r}"
            )
        if isinstance(w, bool) or not isinstance(w, int):
            raise ValueError(
                f"target for {g!r} must be an integer weight in basis "
                f"points, got {w!r}"
            )
        if not 0 <= w <= 10000:
            raise ValueError(f"target for {g!r} must be in [0, 10000], got {w}")
    listed = [(g, w) for g, w in targets_bp.items() if w > 0]
    if not listed:
        raise ValueError("targets_bp must give at least one group a positive weight")
    # normalize by the gcd: only weight RATIOS matter, and smaller weights
    # lose less to the integer floor in u (targets are spec constants, so
    # this driver-side step replays — the oracle embeds the same dict)
    from math import gcd

    g_all = 0
    for _, w in listed:
        g_all = gcd(g_all, w)
    listed = [(g, w // g_all) for g, w in listed]
    spark = df.sparkSession
    targets = spark.createDataFrame(listed, f"{group_col} string, _w long")
    ntok = (
        F.col(ntok_col).cast("long")
        if ntok_col
        else F.size(
            F.split(F.coalesce(F.col(content_col).cast("string"), F.lit("")), " ")
        ).cast("long")
    )
    toks = (
        df.select(group_col, ntok.alias("_ntok"))
        .join(F.broadcast(targets), group_col)
        .groupBy(group_col, "_w")
        .agg(F.sum("_ntok").alias("_t"))
        # a listed group with ZERO observed tokens cannot meet any token
        # share — it drops like an unlisted group rather than binding as
        # u=1 and collapsing every real group's rate to ~0 (r10 review);
        # greatest(1, ·) still guards the tiny-nonzero floor
        .where(F.col("_t") > 0)
        .withColumn("_u", F.expr("greatest(1L, _t div _w)"))
    )
    umin = toks.agg(F.min("_u").alias("_umin"))
    rates = (
        toks.crossJoin(F.broadcast(umin))
        .withColumn(
            "_rate_bp",
            F.expr("least(10000L, (10000 * _umin) div _u)").cast("long"),
        )
        .withColumn("_epochs", F.lit(1).cast("long"))
        .select(group_col, "_rate_bp", "_epochs")
    )
    return _apply_mixture(
        df, rates, group_col, content_col, bucket_col, epoch_col,
        keep_rate_col=rate_col,
    )


def _dsir_feats(
    frame: DataFrame,
    id_col: str | None,
    text_col: str,
    n_buckets: int,
    algo: str = "md5i64",
    carry: str | None = None,
) -> DataFrame:
    """Hashed n-gram features (DSIR's representation): every word unigram
    AND adjacent bigram of the doc, hashed into ``n_buckets`` buckets —
    one map-side explode, the same content-hash primitives as every
    sampler.  Rows: ``(id, _b)`` (or just ``(_b,)`` when ``id_col`` is
    None — the target side needs no ids), one per feature OCCURRENCE.

    ``algo`` mirrors the dedup/checksum switch: ``md5i64`` (default) is
    the oracle-checkable path the driver gate runs; ``xxhash64`` is the
    JVM-intrinsic fast path for throughput pipelines — the md5+hexfold
    of every feature occurrence is this operator's dominant cost.

    ``carry`` (r18) threads one extra column through untouched (it takes
    no part in the NULL-id exclusion or the bucketing) — the
    quality_classifier shared-explode path carries the real doc id
    alongside its synthetic row key so ONE feature pass can serve both
    the per-row crawl statistics and the per-doc scoring."""
    from tikv_data_compare_spark.session import scale_out

    # the n-gram explode + md5 + hexfold is ~100× a plain scan's per-byte
    # cost and runs BEFORE any shuffle: widen an under-split source so it
    # isn't stranded on 1-2 input splits (cluster no-op; measured 2.5×
    # wall on the whole operator at sf0.1's single-file parquet)
    frame = scale_out(frame, key=id_col or text_col)
    if id_col:
        # NULL-id rows are excluded from the corpus model: they could never
        # be scored or joined back anyway, and the EXPLICIT filter (rather
        # than the isnotnull Catalyst infers on only ONE consumer branch)
        # keeps the two dsir_weights branches canonically identical so AQE
        # reuses the feature-explode stage instead of running it twice
        frame = frame.where(F.col(id_col).isNotNull())
    ids = [F.col(id_col)] if id_col else []
    if carry:
        ids.append(F.col(carry))
    # stage the filtered word array into a COLUMN first: inlining the
    # split+filter expression inside the transform lambda would re-tokenize
    # the whole document once per bigram index (Catalyst does not CSE
    # across lambda bodies — the hexfold_i64 'pass a column reference'
    # hazard, O(n_words²) per doc)
    words = frame.select(
        *ids,
        F.expr(f"filter(split(coalesce({text_col}, ''), ' '), w -> w <> '')")
        .alias("_ws"),
    )
    grams = (
        "CASE WHEN size(_ws) >= 2 THEN concat(_ws, "
        "transform(sequence(1, size(_ws) - 1), "
        "i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))) "
        "ELSE _ws END"
    )
    exploded = words.select(*ids, F.explode(F.expr(grams)).alias("_g"))
    if algo == "xxhash64":
        hashed = exploded
        bucket = F.expr(
            f"(((xxhash64(_g)) % {n_buckets}) + {n_buckets}) % {n_buckets}"
        ).cast("long").alias("_b")
    else:
        hashed = exploded.withColumn(_STAGE, F.md5("_g"))
        bucket = F.expr(
            f"((({sqlgen.hexfold_i64(_STAGE)}) % {n_buckets}) + {n_buckets}) "
            f"% {n_buckets}"
        ).cast("long").alias("_b")
    return (
        hashed.select(*ids, bucket)
        # _b is never NULL (pmod of a non-null fold) but Catalyst infers
        # isnotnull(_b) on only the branch that inner/left-joins on it —
        # state it explicitly for the same canonical-equality reason as the
        # id filter above
        .where(F.col("_b").isNotNull())
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    n_buckets: int = 4096,
    algo: str = "md5i64",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by how
    much more likely its hashed-n-gram features are under a TARGET corpus
    (the clean/domain data you want more of) than under the raw corpus
    itself.

    **Eager, unlike the lazy operators here**: the call runs two bounded
    bucket-count collects and the per-doc scoring before it returns, and
    the returned frame is a local checkpoint of that scoring.  The weights
    are frozen against the data as of call time (a source mutated later
    does not change them), so do not build the frame speculatively.  No
    cache outlives the call; the checkpoint's blocks belong to the
    returned frame and Spark's ContextCleaner frees them once it is
    dropped.

    Model: bag-of-hashed-n-grams with add-1 smoothing per side —
    ``p(b) = (count_b + 1) / (total + n_buckets)`` — and the frozen
    log-weight is the per-occurrence sum

        dsir_logw_c = Σ_feat  cost_raw(b) − cost_tgt(b)
        cost_side(b) = floor(1e6 · ln((T_side + B) / (c_side(b) + 1)) + 0.5)

    The per-bucket costs are computed ON THE DRIVER in Python
    (``sqlgen.frozen_ln_c_py``) from the two collected bucket-count
    tables — bounded, ≤ ``n_buckets`` rows each — and embedded in the
    plan as a literal broadcast table, so the gated metric contains NO
    cross-engine floating point: only md5 bucketing and integer sums run
    inside either engine, and the oracle embeds the SAME literals.  The
    doc score is an exact integer sum.  Positive = target-like, negative
    = raw-typical.

    Scale shape: the raw corpus's feature explode is pre-aggregated to
    ``(id, bucket, count)`` and persisted for the duration of the call
    (MEMORY_AND_DISK; ≤ min(n_features, n_buckets) integer rows per doc),
    so the explode+md5 map stage — the operator's dominant cost — runs
    exactly once: the bucket-count collect materializes the cache and the
    scoring re-reads it.  The weight table is a driver-built
    ``n_buckets``-row literal and broadcasts; the per-doc score is one
    count-weighted integer sum.  The raw corpus text itself never
    shuffles — only the bounded (id, bucket, count) frame does.
    Docs with zero features (NULL/empty text) get ``dsir_n_feats = 0``
    and a NULL score ("can't evaluate", the ngram_lm_score convention).
    Rows whose ``id_col`` is NULL are excluded from the raw corpus model
    entirely (they never contribute to the bucket counts), not merely
    left unscored — they could never be scored or joined back anyway.
    ``algo`` picks the feature hash (dedup/checksum convention):
    ``md5i64`` is the oracle-checkable gate path, ``xxhash64`` the
    JVM-intrinsic fast path for throughput pipelines.

    Returns ``(id, dsir_n_feats, dsir_logw_c)``; the ``dsir_logw_c``
    column carries the build parameters (n_buckets / algo / text_col) as
    column METADATA so :func:`dsir_sample`'s ``weights=`` seam can verify
    the frame was built with matching arguments (a frame built with a
    different geometry would otherwise silently select a different kept
    set).
    """
    from tikv_data_compare_spark.operators.dedup import _check_algo

    _check_algo(algo)
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    # internal staging names: a user column colliding with any of them
    # would silently mis-group or raise a confusing AnalysisException
    reserved = {"_b", "_w_c", "_ws", "_g", "_dsir_ct", _STAGE}
    for col in {id_col, text_col, target_text_col or text_col}:
        if col in reserved:
            raise ValueError(
                f"column name {col!r} is reserved by dsir_weights"
            )
    tgt = _dsir_feats(
        target, None, target_text_col or text_col, n_buckets, algo=algo
    )
    raw = _dsir_feats(df, id_col, text_col, n_buckets, algo=algo)
    # Pre-aggregate the raw occurrences to (id, bucket, count) once and
    # persist it for the call: the bucket-count collect below materializes
    # the cache and the per-doc scoring re-reads it, so the explode+md5+
    # hexfold map stage runs exactly once.  The cached frame is the
    # aggregated one (far smaller than the occurrence stream or the text)
    # and MEMORY_AND_DISK spills at corpus scale.  The scoring output is
    # checkpointed before the cache is released, not this frame: under AQE
    # even a lazy localCheckpoint runs the shuffle map stage at call time,
    # outside the two-collect overlap below.
    from pyspark.storagelevel import StorageLevel

    rc = raw.groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_dsir_ct")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # The per-bucket smoothed log costs are frozen on the driver from
        # the two bounded (≤ n_buckets-row) collected count tables and
        # embedded as a literal table: no ln, no division — no floating
        # point at all — executes inside Spark or the oracle, so the gate
        # cannot drift on engine float semantics.  Python's
        # int-division-to-float and math.log define each value once, shared
        # verbatim by both sides.  The raw-side and target-side collects are
        # independent, so they overlap.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as _pool:
            _f_cr = _pool.submit(
                lambda: {
                    int(r["_b"]): int(r["_c"])
                    for r in rc.groupBy("_b")
                    .agg(F.sum("_dsir_ct").cast("long").alias("_c"))
                    .collect()
                }
            )
            _f_ct = _pool.submit(
                lambda: {
                    int(r["_b"]): int(r["_c"])
                    for r in tgt.groupBy("_b")
                    .agg(F.count(F.lit(1)).cast("long").alias("_c"))
                    .collect()
                }
            )
            cr_counts, ct_counts = _f_cr.result(), _f_ct.result()
        tr, tt = sum(cr_counts.values()), sum(ct_counts.values())
        wtab = df.sparkSession.createDataFrame(
            [
                (
                    b,
                    sqlgen.frozen_ln_c_py(
                        (tr + n_buckets) / (cr_counts.get(b, 0) + 1)
                    )
                    - sqlgen.frozen_ln_c_py(
                        (tt + n_buckets) / (ct_counts.get(b, 0) + 1)
                    ),
                )
                for b in range(n_buckets)
            ],
            "_b long, _w_c long",
        )
        # LEFT join although the dense literal domain makes every key
        # match: an INNER join lets Catalyst infer `isnotnull(_b)` on the
        # stream side and push it below the md5-staging Project,
        # re-inlining the hexfold into the filter — md5 recomputed once per
        # hex digit per n-gram (measured 2× wall on the whole operator)
        scored = rc.join(F.broadcast(wtab), "_b", "left")
        per_doc = scored.groupBy(id_col).agg(
            F.sum("_dsir_ct").cast("long").alias("dsir_n_feats"),
            F.sum(F.col("_dsir_ct") * F.col("_w_c"))
            .cast("long")
            .alias("dsir_logw_c"),
        )
        out = df.select(id_col).join(per_doc, id_col, "left").select(
            id_col,
            F.coalesce("dsir_n_feats", F.lit(0).cast("long"))
            .alias("dsir_n_feats"),
            F.col("dsir_logw_c").alias(
                "dsir_logw_c",
                metadata={
                    "dsir_n_buckets": n_buckets,
                    "dsir_algo": algo,
                    "dsir_text_col": text_col,
                },
            ),
        )
        return out.localCheckpoint(eager=True)
    finally:
        rc.unpersist()


def dsir_sample(
    df: DataFrame,
    target: DataFrame | None,
    tau_c: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    n_buckets: int = 4096,
    logw_col: str = "dsir_logw_c",
    u_col: str = "dsir_u_c",
    algo: str = "md5i64",
    weights: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance RESAMPLING, deterministic: keep each doc with
    probability ≈ ``min(1, exp((dsir_logw_c − tau_c) / 1e6))`` — docs at or
    above the pivot ``tau_c`` always keep, acceptance decays exponentially
    (∝ the importance weight) below it.  The coin is the content hash, the
    same replay-safe primitive as every sampler here: the per-10000 bucket
    becomes ``u = (bucket+1)/10000`` and the doc keeps iff

        u_c + dsir_logw_c >= tau_c,   u_c = floor(1e6·ln(10000/(bucket+1)) + 0.5)

    (``P[u_c ≥ x] = P[u ≤ e^(−x/1e6)]`` — rejection sampling in the frozen
    log domain, integer comparisons only; like the weights, the 10000 coin
    values are frozen ON THE DRIVER via ``sqlgen.frozen_ln_c_py`` and
    embedded as a literal broadcast table in both the plan and the oracle,
    so no engine float op touches them).  ``tau_c`` is the selectivity knob in
    the same ×1e6 log units — raise it to keep less, more target-skewed
    data; DSIR's k-of-n resampling corresponds to setting it near the
    corpus's k-th largest weight.  Zero-feature (NULL/empty) docs DROP —
    an unevaluable importance ratio is not an accepted one.

    Scale: :func:`dsir_weights` (bounded bucket tables, broadcast) + one
    map-side hash + one id join of the narrow weight frame.  Output = the
    kept rows of ``df`` plus ``(dsir_logw_c, dsir_u_c)`` for audit.
    ``algo`` picks the feature AND coin hash (dedup/checksum convention):
    ``md5i64`` is the oracle-checkable gate path, ``xxhash64`` the
    JVM-intrinsic fast path — a different algo selects a different (but
    equally deterministic, replay-safe) kept set.

    ``weights`` lets a pipeline that ALREADY computed :func:`dsir_weights`
    (to inspect the weight distribution, pick ``tau_c`` from a quantile,
    or feed several resampling runs) reuse that frame instead of paying
    the feature explode + bucket-count collects a second time — it must
    be the dsir_weights output for the same ``(df, target, id_col,
    n_buckets, algo)``; ``target`` is then unused and may be None.  The
    match IS verified against the build-parameter metadata
    dsir_weights stamps on ``dsir_logw_c`` — a mismatched n_buckets /
    algo / text_col raises instead of silently selecting a different
    kept set.  Parquet round-trips preserve column metadata, so a
    persisted-and-reloaded dsir_weights frame is verified too; only
    user-BUILT frames lacking the stamp are accepted unverified.

    With ``weights=None`` the call runs :func:`dsir_weights` eagerly (its
    jobs run here, not at the first action on the result); the returned
    frame is lazy and leaves nothing cached behind.
    """
    if weights is None:
        if target is None:
            raise ValueError(
                "dsir_sample needs either a target corpus or a precomputed "
                "weights frame"
            )
        weights = dsir_weights(
            df, target, id_col=id_col, text_col=text_col,
            target_text_col=target_text_col, n_buckets=n_buckets, algo=algo,
        )
    elif not {id_col, "dsir_logw_c"} <= set(weights.columns):
        raise ValueError(
            f"weights must carry ({id_col!r}, 'dsir_logw_c') — pass the "
            "dsir_weights output for the same inputs"
        )
    else:
        # dsir_weights stamps its build parameters on the column metadata;
        # a frame built with a different geometry/hash/text column would
        # pass the shape check yet silently select a DIFFERENT kept set.
        # Parquet round-trips and localCheckpoint preserve column metadata;
        # only user-BUILT frames without the stamp are accepted as-is — the
        # mismatch is undetectable there and the docstring says so.
        meta = weights.schema["dsir_logw_c"].metadata or {}
        expected = {
            "dsir_n_buckets": n_buckets,
            "dsir_algo": algo,
            "dsir_text_col": text_col,
        }
        drift = {
            k: (meta[k], v)
            for k, v in expected.items()
            if k in meta and meta[k] != v
        }
        if drift:
            raise ValueError(
                "weights frame was built with different dsir_weights "
                "arguments than this dsir_sample call: "
                + ", ".join(
                    f"{k}={got!r} (weights) vs {want!r} (call)"
                    for k, (got, want) in sorted(drift.items())
                )
            )
    w = weights.where(F.col("dsir_logw_c").isNotNull())
    if "_u_bk" in df.columns:
        raise ValueError("column name '_u_bk' is reserved by dsir_sample")
    if algo == "xxhash64":
        if _STAGE in df.columns:
            raise ValueError(
                f"column name {_STAGE!r} is reserved by the sampling operators"
            )
        if u_col in df.columns:
            raise ValueError(f"output column {u_col!r} already exists on the input")
        staged = df.withColumn(
            _STAGE, F.expr(f"coalesce(CAST({text_col} AS STRING), '')")
        )
        bucket = f"(((xxhash64({_STAGE})) % 10000) + 10000) % 10000"
    else:
        staged = _with_hash(df, text_col, u_col)
        bucket = f"((({sqlgen.hexfold_i64(_STAGE)}) % 10000) + 10000) % 10000"
    # the coin has only 10000 possible values: freeze them ONCE on the
    # DRIVER (frozen_ln_c_py — the oracle embeds the same literals, so no
    # engine float op is involved, see dsir_weights) and broadcast-join on
    # the bucket, instead of inlining a ~55x ln expansion into the per-row
    # projection — which pushed the whole-stage-codegen method past the
    # JVM's 64 KB limit (interpreted fallback) next to the 30x hexfold.
    # The 10000-value table is a pure constant — memoized at module level
    # so repeated dsir_sample calls skip the 10k-log rebuild.
    coins = df.sparkSession.createDataFrame(
        _coin_rows(), "_u_bk long, _u_c long"
    ).withColumnRenamed("_u_c", u_col)
    staged = (
        staged.withColumn("_u_bk", F.expr(bucket).cast("long"))
        .join(F.broadcast(coins), "_u_bk")
        .drop(_STAGE, "_u_bk")
    )
    return (
        staged.join(w.select(id_col, F.col("dsir_logw_c").alias(logw_col)), id_col)
        .where(F.col(u_col) + F.col(logw_col) >= F.lit(int(tau_c)))
    )


#: memoized 10000-row rejection-coin table (pure constants — a function of
#: nothing; see dsir_sample).  NOT a data cache: no corpus value enters it.
_COIN_ROWS: "list[tuple[int, int]] | None" = None


def _coin_rows() -> "list[tuple[int, int]]":
    global _COIN_ROWS
    if _COIN_ROWS is None:
        _COIN_ROWS = [
            (b, sqlgen.frozen_ln_c_py(10000.0 / (b + 1))) for b in range(10000)
        ]
    return _COIN_ROWS


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    content_col: str = "text",
    score_col: str | None = None,
    ntok_col: str | None = None,
    before_col: str = "tokens_before",
    ntok_out_col: str = "n_tokens",
) -> DataFrame:
    """Greedy token-budget fill — the "select N training tokens" op every
    pretraining pipeline runs once the per-doc quality work is done: order
    the corpus by ``(score desc, content hash, id)`` (content-hash order
    when ``score_col`` is None — a deterministic pseudo-random fill) and
    admit docs while the cumulative token count BEFORE them is under
    ``budget_tokens``.  The budget-crossing doc is admitted, so overshoot
    is bounded by one document; every doc with ``tokens_before <
    budget_tokens`` keeps, everything after drops.  Deterministic by
    content (the sampler-family replay contract): no RNG, no
    partition-order dependence.

    Token counts default to whitespace ``size(split(text, ' '))`` (the
    ``token_mixture_sample`` convention); ``ntok_col`` substitutes a
    precomputed count (e.g. trained-BPE ``n_tokens_subword``).  Rows whose
    ``ntok_col`` is NULL are DROPPED (the dsir family's "unevaluable
    drops" convention) — admitting a doc whose token mass is unknown
    cannot be budget-sound.  Scores
    should be integer-frozen columns (the repo-wide discipline) so the
    order — and therefore the kept set — replays across engines.

    Scale shape: ``scan.with_global_index``'s bucketed-prefix pattern
    generalized from COUNT to SUM — each row gets a data-derived
    range-bucket id (driver-sampled boundary literals, pure function of
    the row), a per-bucket window cumsum covers the local prefix, and a
    tiny broadcast join adds each bucket's cumulative token offset
    (#buckets rows).  No global single-partition window anywhere, so the
    plan survives a 100× scale-up; one scan of the input plus the bounded
    boundary-sampling pass.

    Returns the kept rows of ``df`` plus ``(n_tokens, tokens_before)``
    for audit (``tokens_before`` is also the admission proof: it is
    strictly under the budget on every kept row).
    """
    from tikv_data_compare_spark.operators.scan import _range_bucket_expr

    if isinstance(budget_tokens, bool) or not isinstance(budget_tokens, int):
        raise ValueError(f"budget_tokens must be an integer, got {budget_tokens!r}")
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    ntok = (
        F.col(ntok_col).cast("long")
        if ntok_col
        else F.size(
            F.split(F.coalesce(F.col(content_col).cast("string"), F.lit("")), " ")
        ).cast("long")
    )
    staged = _with_hash(df, content_col, "_tb_h")
    staged = staged.withColumn(
        "_tb_h", F.expr(sqlgen.hexfold_i64(_STAGE))
    ).drop(_STAGE).withColumn("_tb_n", ntok)
    if ntok_col:
        # NULL precomputed counts DROP — the dsir family's "unevaluable
        # drops" convention.  Admitting them would be budget-unsound: SUM
        # skips NULLs, so the row would consume no budget in the prefix
        # while its real token mass overshoots the cap (ADVICE r12)
        staged = staged.where(F.col("_tb_n").isNotNull())
    order_cols = ["_tb_h", id_col]
    if score_col is not None:
        # negate so ascending bucket/window order = descending score; NULL
        # scores (e.g. dsir_weights' zero-feature docs, the natural
        # composition) map to +inf — admitted LAST, deterministically, in
        # hash/id order among themselves.  Without the coalesce a sampled
        # NULL boundary tuple crashes the driver's sorted() and an
        # unsampled one lands in a bucket that disagrees with the window
        # order, corrupting tokens_before
        staged = staged.withColumn(
            "_tb_s",
            F.coalesce(
                -F.col(score_col).cast("double"), F.lit(float("inf"))
            ),
        )
        order_cols = ["_tb_s"] + order_cols
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    bucket = _range_bucket_expr(staged, order_cols, n)
    w = (
        Window.partitionBy("_bid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = staged.withColumn("_bid", bucket).withColumn(
        "_tb_local", F.coalesce(F.sum("_tb_n").over(w), F.lit(0))
    )
    # bucket token totals: #buckets rows — the single-partition window is
    # on tiny data, exactly the with_global_index offsets shape
    # (bounded_global_window: constant partition key, no WindowExec WARN)
    from tikv_data_compare_spark.functions.winutil import bounded_global_window

    woff = bounded_global_window("_bid", "_bid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("_bid")
        .agg(F.sum("_tb_n").alias("_cnt"))
        .withColumn("_off", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)))
        .select("_bid", "_off")
    )
    out = (
        local.join(F.broadcast(offsets), "_bid")
        .withColumn(before_col, (F.col("_tb_local") + F.col("_off")).cast("long"))
        .where(F.col(before_col) < int(budget_tokens))
        .withColumn(ntok_out_col, F.col("_tb_n"))
        .drop("_bid", "_tb_local", "_off", "_tb_h", "_tb_n")
    )
    return out.drop("_tb_s") if score_col is not None else out



def split_assign(
    df: DataFrame,
    fractions_bp: dict[str, int],
    content_col: str = "text",
    group_col: str | None = None,
    split_col: str = "split",
    bucket_col: str = "split_bucket",
) -> DataFrame:
    """Deterministic train/validation/test split assignment — the last
    labeling a pretraining pipeline applies before writing shards, and the
    one where a mistake is invisible until eval: if two near-duplicate
    documents land in different splits, the held-out set leaks into
    training.

    ``fractions_bp`` maps split names to basis points (must sum to 10000);
    INSERTION ORDER defines the bucket layout, so ``{"train": 9800,
    "val": 100, "test": 100}`` assigns buckets [0, 9800) / [9800, 9900) /
    [9900, 10000).  The coin is the content hash (``content_col``) by
    default — replay-safe, partition-order independent, the sampler-family
    contract — or, with ``group_col``, the GROUP key: every row of a group
    gets the identical bucket, so splitting on a canonical duplicate-group
    label (``connected_components``' output, ``dedup_exact``'s canonical
    id) co-assigns entire near-dup families and structurally prevents
    train/test contamination.  NULL keys hash as ``''`` (one deterministic
    group, the :func:`hash_sample` convention).

    Purely map-side: one md5 + integer CASE per row, no shuffle, no RNG —
    adding a split column to a 100 TB corpus costs one scan.

    Returns ``df`` plus ``(split, split_bucket)``; the bucket is exposed so
    downstream stages can sub-slice a split without re-keying.
    """
    if not fractions_bp:
        raise ValueError("fractions_bp must name at least one split")
    for name, bp in fractions_bp.items():
        if isinstance(bp, bool) or not isinstance(bp, int) or bp <= 0:
            raise ValueError(
                f"fraction for {name!r} must be a positive integer of basis "
                f"points, got {bp!r}"
            )
    total = sum(fractions_bp.values())
    if total != 10000:
        raise ValueError(
            f"fractions_bp must sum to 10000 basis points, got {total}"
        )
    if split_col in df.columns:
        raise ValueError(f"output column {split_col!r} already exists on the input")
    key_col = group_col if group_col is not None else content_col
    staged = _with_hash(df, key_col, bucket_col)
    bucket = F.expr(f"((({sqlgen.hexfold_i64(_STAGE)}) % 10000) + 10000) % 10000")
    staged = staged.withColumn(bucket_col, bucket.cast("long")).drop(_STAGE)
    case, lo = None, 0
    names = list(fractions_bp)
    for name in names[:-1]:
        lo += fractions_bp[name]
        cond = F.col(bucket_col) < lo
        case = F.when(cond, name) if case is None else case.when(cond, name)
    last = F.lit(names[-1])
    split = last if case is None else case.otherwise(names[-1])
    return staged.withColumn(split_col, split)


def _fit_logistic_1d(
    bins: "list[tuple[float, float, float]]",
    n_iter: int = 50,
    lam: float = 1e-3,
) -> tuple[float, float]:
    """Newton-fit a 1-D logistic head σ(a·x + b) on BINNED labeled scores.

    ``bins`` is a deterministic-order list of ``(x_mid, n_pos, n_neg)``:
    the bounded sufficient statistics of logistic regression on a single
    feature (the NB mean log-odds score) — the whole fit runs on the
    DRIVER in pure CPython floats, so the trained (a, b) is computed ONCE
    and shared verbatim by the Spark operator and the DuckDB oracle
    builder (the frozen_ln_c_py doctrine: cross-engine agreement by
    construction, not reproduction).  λ is a small L2 ridge that keeps the
    Newton step finite on perfectly separable histograms (where the MLE
    slope diverges).  Returns ``(a, b)``; the decision boundary is
    ``x = −b/a``.
    """
    import math

    a, b = 0.0, 0.0
    for _ in range(n_iter):
        g_a, g_b = lam * a, lam * b
        h_aa, h_ab, h_bb = lam, 0.0, lam
        for x, n_pos, n_neg in bins:
            z = a * x + b
            if z >= 0:
                p = 1.0 / (1.0 + math.exp(-z))
            else:
                e = math.exp(z)
                p = e / (1.0 + e)
            r = n_pos * (p - 1.0) + n_neg * p
            wgt = (n_pos + n_neg) * p * (1.0 - p)
            g_a += r * x
            g_b += r
            h_aa += wgt * x * x
            h_ab += wgt * x
            h_bb += wgt
        det = h_aa * h_bb - h_ab * h_ab
        if det <= 1e-12:
            break
        da = (h_bb * g_a - h_ab * g_b) / det
        db = (h_aa * g_b - h_ab * g_a) / det
        a -= da
        b -= db
        if abs(da) + abs(db) < 1e-12:
            break
    return a, b


#: histogram geometry of the quality classifier's calibration pass: mean
#: log-odds (×1e6) binned at QC_BIN_STEP_C, clamped to ±QC_BIN_MAX bins —
#: module constants because the oracle builder must mirror them exactly
QC_BIN_STEP_C = 50_000
QC_BIN_MAX = 200


def quality_weight_table(
    seed_counts: "dict[int, int]",
    crawl_counts: "dict[int, int]",
    n_buckets: int,
) -> "dict[int, int]":
    """Per-bucket NB log-odds weights (×1e6, driver-frozen ints) from the
    two bounded label count tables: ``w(b) = cost_crawl(b) − cost_seed(b)``
    with add-1 smoothing — positive = seed-like (the dsir_weights cost
    algebra with the labeled corpora as the two sides).  Shared verbatim
    by the operator and the oracle builder."""
    t_seed = sum(seed_counts.values())
    t_crawl = sum(crawl_counts.values())
    return {
        b: sqlgen.frozen_ln_c_py((t_crawl + n_buckets) / (crawl_counts.get(b, 0) + 1))
        - sqlgen.frozen_ln_c_py((t_seed + n_buckets) / (seed_counts.get(b, 0) + 1))
        for b in range(n_buckets)
    }


def quality_threshold_c(
    hist: "dict[tuple[int, int], int]",
    bin_step_c: int = QC_BIN_STEP_C,
) -> int:
    """Train the logistic head on the binned score histogram and freeze
    its decision boundary as an integer mean-log-odds threshold (×1e6).

    ``hist`` maps ``(label, bin)`` → doc count (label 1 = seed, 0 =
    crawl); bins are ``floor(q_sum_c / (q_n_feats · bin_step_c))``.  The
    fit runs in :func:`_fit_logistic_1d` over bin midpoints in natural
    log-odds units, with CLASS-BALANCED weights (each class rescaled to
    equal total mass).  Balancing is load-bearing, not cosmetic: in the
    default crawl=docs setup the seed is a SUBSET of the crawl, so the
    unbalanced posterior p(seed|x) can never exceed
    T_seed/(T_seed+T_crawl_at_x) ≤ 1/2 and the 0.5 boundary diverges to
    +∞ (measured: the gate kept 0 docs).  The balanced boundary sits
    where the two NORMALIZED class densities cross — "more seed-like
    than crawl-typical", the fastText class-weighting semantics.  Raises
    if the trained slope is not positive — a non-separating (or
    inverted) seed/crawl split means the classifier would gate on noise,
    and a silent fallback threshold would let the caller believe a model
    trained (loud-validation convention)."""
    t_pos = sum(n for (y, _), n in hist.items() if y == 1)
    t_neg = sum(n for (y, _), n in hist.items() if y == 0)
    if t_pos == 0 or t_neg == 0:
        raise ValueError(
            "quality classifier needs scoreable docs in BOTH classes "
            f"(seed={t_pos}, crawl={t_neg} histogram mass)"
        )
    w_pos = (t_pos + t_neg) / (2.0 * t_pos)
    w_neg = (t_pos + t_neg) / (2.0 * t_neg)
    bin_ids = sorted({b for (_, b) in hist})
    bins = [
        (
            (b + 0.5) * bin_step_c / 1e6,
            hist.get((1, b), 0) * w_pos,
            hist.get((0, b), 0) * w_neg,
        )
        for b in bin_ids
    ]
    a, bb = _fit_logistic_1d(bins)
    if a <= 0.0:
        raise ValueError(
            "quality classifier failed to separate seed from crawl "
            f"(trained slope {a:.4g} <= 0): the seed corpus does not score "
            "above the crawl under the NB feature weights — check the "
            "labeled inputs"
        )
    return int(round(-bb / a * 1e6))


def quality_classifier(
    docs: DataFrame,
    seed: DataFrame,
    crawl: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_text_col: str | None = None,
    crawl_text_col: str | None = None,
    n_buckets: int = 2048,
    algo: str = "md5i64",
) -> DataFrame:
    """fastText-style model-based document quality scorer: "looks like
    the reference corpus vs looks like crawl" — the learned quality
    dimension that sits beside DSIR in published curation stacks (GPT-3
    WebText-vs-CommonCrawl filter, LLaMA's Wikipedia-reference
    classifier), trained and frozen entirely from bounded driver-side
    state.

    Model = hashed unigram+bigram features (``_dsir_feats``, the DSIR
    representation), per-bucket Naive-Bayes log-odds weights from the two
    label count tables (:func:`quality_weight_table`, driver-frozen ×1e6
    ints — the literal-table doctrine), and a driver-trained LOGISTIC
    HEAD on the length-normalized score: per-doc mean log-odds are binned
    in-engine (bounded ≤ 2·(2·QC_BIN_MAX+1)-row histogram collect), the
    1-D logistic is Newton-fit in pure Python
    (:func:`_fit_logistic_1d`), and its decision boundary freezes to ONE
    integer threshold (:func:`quality_threshold_c`).  Unlike raw DSIR
    weights the score is per-OCCURRENCE (length-normalized — a long doc
    is not seed-like merely by being long), and the keep verdict is the
    calibrated boundary, not an uncalibrated zero.

    ``crawl`` defaults to ``docs`` itself — the GPT-3 setup (classify
    the corpus being filtered against a clean seed); pass an explicit
    negative-class sample when one exists.  ``seed``/``crawl`` rows need
    no ids (features aggregate per synthetic row id for the histogram;
    the histogram is invariant to id values).

    Eager like :func:`dsir_weights`: training runs three bounded collects
    (two ≤ ``n_buckets``-row count tables and the score histogram) and
    freezes the model against the data as of call time.  With
    ``crawl=None`` the per-doc scoring runs in the call too and the
    returned frame is a local checkpoint of it, owned by the frame (Spark's
    ContextCleaner frees its blocks once it is dropped); with an explicit
    ``crawl`` the scoring stays lazy.  Either way no cache outlives the
    call, also when training raises.

    Scale shape: the corpus feature explode is map-side; scoring is one
    ``(id, bucket, count)`` aggregation joined with the broadcast
    ``n_buckets``-row literal weight table and one per-doc integer sum —
    the corpus text never shuffles.  The keep test multiplies instead of
    divides (``q_sum_c >= thr_c · q_n_feats``), so the gated columns stay
    pure integers end-to-end; the only in-engine float is the histogram
    bin's binary64 division, which IEEE 754 rounds identically in every
    engine (unlike ln/exp — the det_ln history).

    Returns one row per input doc:
    ``(id, q_n_feats, q_sum_c, q_keep)`` — ``q_sum_c`` is the ×1e6
    log-odds SUM over feature occurrences (NULL for zero-feature docs,
    the dsir convention), ``q_keep`` the calibrated verdict (NULL when
    unscoreable; gates coalesce to drop — unconfirmable-drops).  The
    trained threshold and build geometry ride as column metadata on
    ``q_sum_c`` (``qc_thr_c`` / ``qc_n_buckets`` / ``qc_algo`` /
    ``qc_text_col``).
    """
    # Explicit-crawl calls delegate to the fit/score seam below
    # (quality_model trains and stamps the weight frame, score applies it).
    if crawl is not None:
        model = quality_model(
            docs, seed, crawl=crawl, text_col=text_col,
            seed_text_col=seed_text_col, crawl_text_col=crawl_text_col,
            n_buckets=n_buckets, algo=algo,
        )
        return quality_score_with_model(docs, model, id_col=id_col, text_col=text_col)

    # crawl=None — the GPT-3 default where the corpus IS the negative
    # class.  One corpus feature explode serves the crawl count table, the
    # calibration histogram and the scoring pass (the delegation path would
    # explode and hash the corpus twice).  Features are keyed by a
    # synthetic row id exactly like quality_model's crawl class (so
    # NULL-``id_col`` rows still count as crawl mass and duplicate ids
    # contribute per row), with the real id carried alongside for the
    # per-doc score aggregation.
    from tikv_data_compare_spark.operators.dedup import _check_algo

    _check_algo(algo)
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    s_tc = seed_text_col or text_col
    s_docs = seed.select(F.monotonically_increasing_id().alias("_qid"), F.col(s_tc))
    s_feats = _dsir_feats(s_docs, "_qid", s_tc, n_buckets, algo=algo)
    c_docs = docs.select(
        F.monotonically_increasing_id().alias("_qid"),
        F.col(id_col).alias("_doc"),
        F.col(text_col),
    )
    c_feats = _dsir_feats(
        c_docs, "_qid", text_col, n_buckets, algo=algo, carry="_doc"
    )

    from pyspark.storagelevel import StorageLevel

    s_rc = s_feats.groupBy("_qid", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_ct")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    c_rc = c_feats.groupBy("_qid", "_doc", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_ct")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        wtab, thr_c = _qc_train(docs.sparkSession, s_rc, c_rc, n_buckets)
        meta = {
            "qc_thr_c": thr_c,
            "qc_n_buckets": n_buckets,
            "qc_algo": algo,
            "qc_text_col": text_col,
        }
        per_doc = (
            c_rc.join(F.broadcast(wtab), "_b", "left")
            .groupBy("_doc")
            .agg(
                F.sum("_ct").cast("long").alias("q_n_feats"),
                F.sum(F.col("_ct") * F.col("_w_c")).cast("long").alias("q_sum_c"),
            )
            .withColumnRenamed("_doc", id_col)
        )
        out = docs.select(id_col).join(per_doc, id_col, "left").select(
            id_col,
            F.coalesce("q_n_feats", F.lit(0).cast("long")).alias("q_n_feats"),
            F.col("q_sum_c").alias("q_sum_c", metadata=meta),
            (F.col("q_sum_c") >= F.lit(thr_c) * F.col("q_n_feats")).alias("q_keep"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        s_rc.unpersist()
        c_rc.unpersist()


def quality_model(
    docs: DataFrame,
    seed: DataFrame,
    crawl: DataFrame | None = None,
    text_col: str = "text",
    seed_text_col: str | None = None,
    crawl_text_col: str | None = None,
    n_buckets: int = 2048,
    algo: str = "md5i64",
) -> DataFrame:
    """Train the quality classifier ONCE and return it as a persistable
    MODEL FRAME — the build-once/score-many seam of the index artifacts
    (ann_index / text_index / dedup_index), for the real deployment
    pattern: fit the seed-vs-crawl filter on one labeled snapshot, then
    score every future corpus shard with :func:`quality_score_with_model`.

    The frame is ``(_b, _w_c)`` — the NB bucket weight table — with the
    trained threshold and build geometry stamped as column METADATA on
    ``_w_c`` (``qc_thr_c`` / ``qc_n_buckets`` / ``qc_algo`` /
    ``qc_text_col``).  Parquet round-trips preserve column metadata, so
    ``spark.read.parquet(path)`` returns a frame this module scores with
    directly; geometry is re-verified at score time (the dsir
    ``weights=`` convention).  ``docs`` supplies the default crawl class
    (``crawl=None`` — the GPT-3 setup) and is NOT scored here.

    Training = :func:`quality_classifier`'s exact driver-side path (two
    bounded label count collects → :func:`quality_weight_table`; binned
    score histogram → :func:`quality_threshold_c`'s class-balanced
    logistic) — one source of truth, shared verbatim.
    """
    from tikv_data_compare_spark.operators.dedup import _check_algo

    _check_algo(algo)
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    crawl_frame = crawl if crawl is not None else docs
    s_tc = seed_text_col or text_col
    c_tc = crawl_text_col or text_col
    s_docs = seed.select(F.monotonically_increasing_id().alias("_qid"), F.col(s_tc))
    c_docs = crawl_frame.select(
        F.monotonically_increasing_id().alias("_qid"), F.col(c_tc)
    )
    s_feats = _dsir_feats(s_docs, "_qid", s_tc, n_buckets, algo=algo)
    c_feats = _dsir_feats(c_docs, "_qid", c_tc, n_buckets, algo=algo)

    from pyspark.storagelevel import StorageLevel

    s_rc = s_feats.groupBy("_qid", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_ct")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    c_rc = c_feats.groupBy("_qid", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_ct")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        wtab, thr_c = _qc_train(docs.sparkSession, s_rc, c_rc, n_buckets)
    finally:
        s_rc.unpersist()
        c_rc.unpersist()
    return wtab.select(
        "_b",
        F.col("_w_c").alias(
            "_w_c",
            metadata={
                "qc_thr_c": thr_c,
                "qc_n_buckets": n_buckets,
                "qc_algo": algo,
                "qc_text_col": text_col,
            },
        ),
    )


def _qc_train(spark, s_rc: DataFrame, c_rc: DataFrame, n_buckets: int):
    """The classifier's driver-side trainer over two prepared per-row
    bucket-count frames ``(_qid, _b, _ct)`` (one source of truth shared
    by :func:`quality_model` and the shared-explode path in
    :func:`quality_classifier`): collect the two bounded per-bucket count
    tables, freeze the NB weight table, bin the per-row mean log-odds
    histogram, Newton-fit the logistic head.  Returns ``(wtab, thr_c)``."""
    # the two bounded label-count collects are independent — overlap them
    # (guide §2.6: actions are only serial because the driver calls them
    # serially); each result is unchanged, only the wall shrinks
    from concurrent.futures import ThreadPoolExecutor

    def _counts(rc):
        return {
            int(r["_b"]): int(r["_c"])
            for r in rc.groupBy("_b").agg(F.sum("_ct").alias("_c")).collect()
        }

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_seed = pool.submit(_counts, s_rc)
        f_crawl = pool.submit(_counts, c_rc)
        seed_counts, crawl_counts = f_seed.result(), f_crawl.result()
    wtab_py = quality_weight_table(seed_counts, crawl_counts, n_buckets)
    wtab = spark.createDataFrame(list(wtab_py.items()), "_b long, _w_c long")

    def doc_scores(rc):
        scored = rc.join(F.broadcast(wtab), "_b", "left")
        return scored.groupBy("_qid").agg(
            F.sum("_ct").cast("long").alias("_nf"),
            F.sum(F.col("_ct") * F.col("_w_c")).cast("long").alias("_sc"),
        )

    def hist_bins(per_doc, label):
        return per_doc.select(
            F.lit(int(label)).alias("_y"),
            F.greatest(
                F.lit(-QC_BIN_MAX),
                F.least(
                    F.lit(QC_BIN_MAX),
                    F.floor(
                        F.col("_sc")
                        / (F.col("_nf") * F.lit(float(QC_BIN_STEP_C)))
                    ).cast("long"),
                ),
            ).alias("_bin"),
        )

    hist_rows = (
        hist_bins(doc_scores(s_rc), 1)
        .unionByName(hist_bins(doc_scores(c_rc), 0))
        .groupBy("_y", "_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .collect()
    )
    hist = {(int(r["_y"]), int(r["_bin"])): int(r["_n"]) for r in hist_rows}
    return wtab, quality_threshold_c(hist)


def quality_score_with_model(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a corpus with a trained :func:`quality_model` frame — the
    score-many half of the seam.  Map-side features, one broadcast join
    against the ≤ n_buckets-row weight table, one per-doc integer sum;
    the corpus text never shuffles.  Output schema matches
    :func:`quality_classifier` exactly: ``(id, q_n_feats, q_sum_c,
    q_keep)``.

    The model's geometry rides in its ``_w_c`` column metadata (parquet
    preserves it); a frame without the stamp is rejected — scoring with
    unknown (n_buckets, algo, threshold) would silently mis-bucket every
    feature, and unlike the dsir ``weights=`` seam there is no safe
    interpretation of an unstamped weight table (the threshold is not
    recoverable from the rows)."""
    if not {"_b", "_w_c"} <= set(model.columns):
        raise ValueError(
            "model must carry ('_b', '_w_c') — pass the quality_model "
            "output (or its parquet round-trip)"
        )
    meta = model.schema["_w_c"].metadata or {}
    missing = {"qc_thr_c", "qc_n_buckets", "qc_algo"} - set(meta)
    if missing:
        raise ValueError(
            f"model frame lacks the build stamp ({sorted(missing)}); "
            "scoring with unknown geometry would mis-bucket every feature "
            "— pass quality_model's output or its parquet round-trip"
        )
    thr_c = int(meta["qc_thr_c"])
    n_buckets = int(meta["qc_n_buckets"])
    algo = str(meta["qc_algo"])
    corpus = _dsir_feats(docs, id_col, text_col, n_buckets, algo=algo)
    rc = corpus.groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_ct")
    )
    per_doc = (
        rc.join(F.broadcast(model.select("_b", "_w_c")), "_b", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_ct").cast("long").alias("q_n_feats"),
            F.sum(F.col("_ct") * F.col("_w_c")).cast("long").alias("q_sum_c"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("q_n_feats", F.lit(0).cast("long")).alias("q_n_feats"),
        F.col("q_sum_c").alias("q_sum_c", metadata=dict(meta)),
        (F.col("q_sum_c") >= F.lit(thr_c) * F.col("q_n_feats")).alias("q_keep"),
    )
