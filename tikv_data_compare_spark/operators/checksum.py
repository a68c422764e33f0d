"""Checksum operators — the reference's flagship (`checksum` subcommand).

Reference semantics (checksum/checksum.go:118-179): compute an
order-independent triple ``{Crc64Xor, TotalKvs, TotalBytes}`` over a key
range on each cluster, region-parallel, merged as a commutative monoid
``(XOR, +, +)`` (checksum/checksum.go:25-29), then compare the triples.

Spark mapping (SURVEY.md §2.4): one ``groupBy().agg(bit_xor(hash), count,
sum(len))`` — Catalyst's partial+final HashAggregate replaces the reference's
per-region worker pool + mutex merge (checksum/checksum.go:78-95) with
map-side partial aggregation, which is exactly the right 100 TB shape: the
only shuffle is 24 bytes per partition.

Hash algorithms (per-row contribution, XOR-combined):
- ``xxhash64`` (default): Spark built-in, JVM/codegen, the fast path.
                Null-safe: each nullable column is interleaved with its
                ``isNull()`` marker because Spark's xxhash64 skips NULL
                children (see ``_null_safe_children``).
- ``md5i64``:   cross-engine md5-fold (functions/sqlgen.py) — DuckDB-oracle
                checkable bit-for-bit.
- ``crc64``:    CRC-64/XZ over ``key ++ value`` bytes via Pandas UDF —
                byte-compatible with real TiKV cluster checksums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tikv_data_compare_spark.functions import sqlgen
from tikv_data_compare_spark.model import Keyed, check_comparable

ALGOS = ("xxhash64", "md5i64", "crc64")


def _null_safe_children(df: DataFrame, cols: list[str]) -> list[Column]:
    """Hash children for xxhash64 with per-position NULL disambiguation.

    Spark's ``xxhash64`` (like ``hash``) SKIPS null children — a NULL leaves
    the running hash unchanged — so rows differing only in WHICH column holds
    a NULL (the classic column-shift bug: ``(k, v, NULL)`` drifting to
    ``(k, NULL, v)``) would hash identically.  Interleaving each nullable
    column with its ``isNull()`` boolean restores injectivity over the null
    pattern: the marker is itself never NULL, so it always folds into the
    hash at that position — ``[v, false, true]`` vs ``[true, v, false]``
    differ.  EVERY column gets the marker, not just schema-nullable ones:
    the checksum must be a pure function of row VALUES, and nullability is
    metadata that legitimately differs between two sides holding identical
    data (a parquet read marks everything nullable; a createDataFrame or
    post-aggregation column may not) — deriving the child list from each
    side's own flags would make identical rows hash differently and report
    false drift.  A constant-false marker costs one codegen branch per
    column; stays entirely inside whole-stage codegen.
    """
    children: list[Column] = []
    for c in cols:
        children.append(F.col(c))
        children.append(F.col(c).isNull())
    return children


def _with_hash(keyed: Keyed, algo: str, tags: dict[str, str] | None) -> tuple[DataFrame, str]:
    """Return (df, hash_col_name) with a per-row hash column appended.

    md5i64 is staged through projected columns (canon → md5 → hexfold) so the
    md5 is computed once per row; inlining it 30× into one expression blows up
    whole-stage codegen compile time (observed 90s for a 1k-row aggregate).
    """
    df = keyed.df
    cols = list(keyed.columns)
    if algo == "xxhash64":
        return df.withColumn("_h", F.xxhash64(*_null_safe_children(df, cols))), "_h"
    if algo == "md5i64":
        canon = _row_canon_expr(keyed, cols, tags)
        df = df.withColumn("_canon", F.expr(canon)).withColumn("_m", F.md5(F.col("_canon")))
        return df.withColumn("_h", F.expr(sqlgen.hexfold_i64("_m"))), "_h"
    if algo == "crc64":
        from tikv_data_compare_spark.functions.hashes import crc64_pandas_udf

        # Typed columns must become binary BEFORE the coalesce — coalescing a
        # bigint with a binary literal is a DATATYPE_MISMATCH AnalysisException.
        # Binary columns pass through untouched (no lossy utf8 round-trip).
        binary_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "binary"}

        def _as_bytes(c: str) -> Column:
            col = F.col(c) if c in binary_cols else F.col(c).cast("string").cast("binary")
            return F.coalesce(col, F.lit(b""))

        payload = F.concat(*[_as_bytes(c) for c in cols])
        return df.withColumn("_h", crc64_pandas_udf()(payload)), "_h"
    raise ValueError(f"algo must be one of {ALGOS}, got {algo!r}")


def _row_canon_expr(keyed: Keyed, cols: list[str], tags: dict[str, str] | None) -> str:
    inferred = sqlgen.tags_from_spark_schema(keyed.df)
    tags = {**inferred, **(tags or {})}
    pairs = [(c, tags.get(c, sqlgen.STRING)) for c in cols]
    return sqlgen.row_canon(pairs, sqlgen.SPARK)


#: physical width in bytes of fixed-size Spark types (fast byte accounting)
_FIXED_WIDTH = {
    "long": 8, "integer": 4, "short": 2, "byte": 1,
    "double": 8, "float": 4, "boolean": 1,
    "date": 4, "timestamp": 8, "timestamp_ntz": 8, "decimal": 16,
}


def _byte_len(keyed: Keyed, tags: dict[str, str] | None, fast: bool = False) -> Column:
    """Per-row byte contribution.

    KV mode (all-binary): ``len(key)+len(value)`` — exactly the reference's
    TotalBytes (checksum/checksum.go:28).  Typed mode: length of the
    canonical row string (deterministic, oracle-matchable); the fast path
    (``fast=True``, used by xxhash64 mode) charges each column its PHYSICAL
    width — a constant per fixed-size type (folded into one literal for the
    whole row), ``octet_length`` only for string/binary columns.  That
    mirrors the reference's TotalBytes semantics (an accounting metric over
    stored bytes; VALUE drift detection belongs to the XOR checksum, which
    covers every column) and costs ~0 per row, where the previous
    render-every-column-to-string measure dominated the whole aggregate
    (profiled at sf0.1: 0.88 s of the 0.94 s triple).
    """
    dts = {f.name: f.dataType.typeName() for f in keyed.df.schema.fields}
    binary_cols = [c for c in keyed.columns if dts[c] == "binary"]
    if len(binary_cols) == len(keyed.columns):
        total = None
        for c in keyed.columns:
            term = F.length(F.col(c))
            total = term if total is None else total + term
        return total
    if fast:
        const = 0
        total = None
        for c in keyed.columns:
            dt = dts[c]
            if dt in _FIXED_WIDTH:
                const += _FIXED_WIDTH[dt]
                continue
            if dt == "binary":
                term = F.coalesce(F.length(F.col(c)), F.lit(1))
            elif dt == "string":
                term = F.coalesce(F.octet_length(F.col(c)), F.lit(1))
            else:
                term = F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(1))
            total = term if total is None else total + term
        base = F.lit(const).cast("long")
        return base if total is None else base + total
    if "_canon" in keyed.df.columns:  # md5i64 path already projected it
        return F.length(F.col("_canon"))
    return F.length(F.expr(_row_canon_expr(keyed, list(keyed.columns), tags)))


def checksum(
    keyed: Keyed,
    algo: str = "xxhash64",
    tags: dict[str, str] | None = None,
    canon_bytes: bool = False,
) -> DataFrame:
    """One-row DataFrame ``(checksum, total_kvs, total_bytes)`` over ``keyed``.

    Order-independent: ``bit_xor`` of per-row hashes (the reference's Crc64Xor
    merge rule, checksum/checksum.go:26).  Scale: single full scan, partial
    aggregation per partition, no wide shuffle.

    ``canon_bytes=True`` forces the canonical (cross-engine, oracle-exact)
    byte length even in xxhash64 mode, whose default fast path sums raw
    string byte lengths (same change-detection power, Spark-only rendering).
    """
    df, h = _with_hash(keyed, algo, tags)
    return df.agg(
        F.bit_xor(F.col(h)).alias("checksum"),
        F.count(F.lit(1)).alias("total_kvs"),
        F.sum(
            _byte_len(
                Keyed(df, keyed.keys, keyed.values),
                tags,
                fast=(algo == "xxhash64") and not canon_bytes,
            )
        ).alias("total_bytes"),
    )


def compare_checksum(
    src: Keyed,
    dst: Keyed,
    algo: str = "xxhash64",
    tags: dict[str, str] | None = None,
) -> DataFrame:
    """Two-row per-side checksum report, one Spark job.

    Instead of running src and dst concurrently from two threads (reference
    checksum/checksum.go:140-168 uses an errgroup), union both sides under a
    ``side`` label and aggregate by it — one job, one pass, same parallelism
    (SURVEY.md §3.1).
    """
    check_comparable(src, dst)
    s = src.df.select(*src.columns).withColumn("side", F.lit("src"))
    d = dst.df.select(*dst.columns).withColumn("side", F.lit("dst"))
    both = Keyed(s.unionByName(d), src.keys, src.values)
    df, h = _with_hash(both, algo, tags)
    return (
        df.groupBy("side")
        .agg(
            F.bit_xor(F.col(h)).alias("checksum"),
            F.count(F.lit(1)).alias("total_kvs"),
            F.sum(
                _byte_len(Keyed(df, both.keys, both.values), tags, fast=(algo == "xxhash64"))
            ).alias("total_bytes"),
        )
        # src before dst, deterministic report order; a 2-row report needs
        # no range-partitioning sample job and shuffle, so sort in place
        .coalesce(1)
        .sortWithinPartitions(F.desc("side"))
    )


def checksum_verdict(src: Keyed, dst: Keyed, algo: str = "xxhash64", tags=None) -> dict:
    """Driver-side verdict — the reference's final triple comparison and
    pass/fail report (checksum/checksum.go:173-178).

    A side with zero rows in range produces no groupBy row; it reports the
    identity triple (checksum None, 0 kvs, 0 bytes) so empty == empty is a
    pass, not a crash.
    """
    empty = {"checksum": None, "total_kvs": 0, "total_bytes": 0}
    rows = {r["side"]: r.asDict() for r in compare_checksum(src, dst, algo, tags).collect()}
    s = rows.get("src", {"side": "src", **empty})
    d = rows.get("dst", {"side": "dst", **empty})
    equal = all(s[k] == d[k] for k in ("checksum", "total_kvs", "total_bytes"))
    return {"equal": equal, "src": s, "dst": d}


# ---------------------------------------------------------------------------
# Checksum manifests: incremental drift detection without the old snapshot
# ---------------------------------------------------------------------------

def range_bucket_boundaries(
    df: DataFrame, key: str, n_buckets: int = 256, rel_err: float = 0.001
) -> list[float]:
    """Quantile boundaries that split ``key`` into ~equal-COUNT buckets.

    The fixed-divisor bucket expressions (``floor(k / 1000)``) assume a
    uniform key space; under skew (zipf ids, hot tenants, timestamp bursts)
    they produce a few giant buckets — and a giant bucket defeats
    ``targeted_diff``'s whole point, because one drifted row re-reads the
    giant range.  One ``approxQuantile`` pass (Greenwald–Khanna, fully
    distributed) puts each boundary within ``rel_err * n`` ranks of its
    ideal cut.  Buckets are then as balanced as the key's ties allow: a
    cut can only fall between two distinct values, so a heavily repeated
    key still makes an uneven bucket.

    The boundaries depend on the input's partition count (the sketch
    merges per-partition summaries), so a recomputation can return
    slightly different cuts.  Compute them ONCE (from either side or the
    union), pass the same list to BOTH sides, and store it in the
    manifest's meta: re-deriving them per side would bucket the sides
    differently and report everything as drifted.
    """
    import math

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    if not probs:
        return []
    qs = df.stat.approxQuantile(key, probs, rel_err)
    # dedupe (heavy repeated keys can collapse adjacent quantiles) while
    # preserving order — duplicates would create permanently-empty buckets;
    # non-finite quantiles (±inf/NaN key values) are rejected loudly — a
    # repr'd `inf` literal would not parse in the generated SQL (r8 review)
    out: list[float] = []
    for q in qs:
        if not math.isfinite(q):
            raise ValueError(
                f"key column {key!r} yields a non-finite quantile boundary "
                f"({q}) — filter ±inf/NaN keys before range bucketing"
            )
        if not out or q > out[-1]:
            out.append(float(q))
    return out


def range_bucket_col(key: str, boundaries: list[float]) -> Column:
    """Bucket id Column for :func:`range_bucket_boundaries` output: bucket =
    #boundaries ≤ key, computed as one fold over a literal boundary array —
    a plan-size-O(1) expression (the array is ONE literal, not a CASE chain)
    that both ``bucket_triples`` and ``targeted_diff`` accept directly.
    NULL keys land in bucket -1 (their own auditable bucket).
    """
    import math

    if not boundaries:
        return F.when(F.col(key).isNull(), F.lit(-1)).otherwise(F.lit(0)).cast("long")
    if any(not math.isfinite(float(b)) for b in boundaries):
        raise ValueError("range bucket boundaries must be finite")
    # backtick-escape the key: unlike the F.col expressions elsewhere, this
    # generated-SQL path would otherwise break on names needing quoting
    kq = "`" + key.replace("`", "``") + "`"
    arr = "array(" + ", ".join(repr(float(b)) for b in boundaries) + ")"
    fold = (
        f"aggregate({arr}, 0L, (acc, b) -> acc + "
        f"(CASE WHEN CAST({kq} AS DOUBLE) >= b THEN 1L ELSE 0L END))"
    )
    return (
        F.when(F.col(key).isNull(), F.lit(-1).cast("long"))
        .otherwise(F.expr(fold))
        .cast("long")
    )


def bucket_triples(keyed: Keyed, bucket, algo: str = "xxhash64") -> DataFrame:
    """Per-bucket checksum triples ``(bucket, cksum, kvs, algo)``.

    ``bucket`` is a Column over the key columns (e.g. ``floor(k / 1000)``,
    a date, a region id).  ~16 bytes per bucket cross the shuffle — the
    same map-side monoid fold as :func:`checksum`, keyed by bucket.  This
    is the shared core of ``targeted_diff`` and the manifest flow below.
    """
    df, h = _with_hash(keyed, algo, None)
    return (
        df.withColumn("bucket", bucket)  # bucket keeps its own type: long,
        .groupBy("bucket")  # date, string region id — all groupable/joinable
        .agg(F.bit_xor(F.col(h)).alias("cksum"), F.count(F.lit(1)).alias("kvs"))
        .withColumn("algo", F.lit(algo))
    )


def save_checksum_manifest(
    keyed: Keyed, path: str, bucket, algo: str = "xxhash64", meta: dict | None = None
) -> int:
    """Persist a snapshot's per-bucket checksum triples as a tiny parquet
    manifest and return the bucket count.

    The ops flow this enables: a nightly compare stores ~16 B/bucket once,
    and every later run detects WHICH key ranges drifted by comparing fresh
    triples against the manifest — the previous snapshot is never rescanned
    (at 100 TB, the difference between reading one snapshot and two).
    Findings have targeted_diff's contract: any changed/added/removed row
    flips its bucket's triple; a ~2^-64 hash collision per drifted bucket
    is the residual risk, same as the reference's Crc64Xor verdict.

    ``meta`` key/values (e.g. the bucket count the expression was built
    from) are stored as constant columns; a later compare validates them
    via ``expect_meta`` so triples built from DIFFERENT bucketings can't be
    silently compared (they would report everything as drifted).
    """
    t = bucket_triples(keyed, bucket, algo)
    for k, v in (meta or {}).items():
        t = t.withColumn(k, F.lit(v))
    t.coalesce(1).write.mode("overwrite").parquet(path)
    # count the WRITTEN manifest (parquet footer metadata), not the plan —
    # re-counting t would rescan and re-hash the whole snapshot
    return keyed.df.sparkSession.read.parquet(path).count()


def compare_to_manifest(
    keyed: Keyed,
    manifest: DataFrame | str,
    bucket,
    algo: str = "xxhash64",
    expect_meta: dict | None = None,
) -> DataFrame:
    """Tall drift report of ``keyed`` (the CURRENT snapshot) against a saved
    manifest: one row per drifted bucket —

    ``(bucket, status, old_cksum, new_cksum, old_kvs, new_kvs)`` with
    status ∈ {changed, only_old, only_new}.  Empty result = no drift.

    Raises if the manifest was built with a different ``algo`` (triples of
    different hash algorithms are not comparable).  The current snapshot is
    scanned exactly once; both join inputs are post-aggregation bucket
    triples (~16 bytes per bucket), and the full-outer equi-join on the
    bucket id is a sort-merge join BY DESIGN — Spark cannot execute a
    broadcast hash join for full_outer (only the non-preserved side could
    be broadcast, and full_outer preserves both), and at ~16 B/bucket the
    SMJ exchange is negligible next to the snapshot scan that feeds it.
    """
    spark = keyed.df.sparkSession
    old = spark.read.parquet(manifest) if isinstance(manifest, str) else manifest
    checks = {"algo": algo, **(expect_meta or {})}
    for col, want in checks.items():
        if col not in old.columns:
            if col == "algo":
                continue  # pre-meta manifests carry no algo column
            raise ValueError(f"manifest has no {col!r} metadata column to validate")
        got = [r[col] for r in old.select(col).distinct().collect()]
        # an EMPTY manifest (saved from an empty snapshot) has no metadata
        # rows to validate — legitimate; every current bucket reports only_new
        if got and got != [want]:
            raise ValueError(
                f"manifest was built with {col}={got}, compare requested {want!r} "
                "— triples from different bucketings/hash algorithms are not comparable"
            )
    new = bucket_triples(keyed, bucket, algo)
    j = (
        new.select("bucket", F.col("cksum").alias("new_cksum"), F.col("kvs").alias("new_kvs"))
        .join(
            # no broadcast hint: Spark ignores broadcast for full_outer
            # equi-joins (r7 VERDICT) — the hint implied a plan it never got
            old.select(
                "bucket", F.col("cksum").alias("old_cksum"), F.col("kvs").alias("old_kvs")
            ),
            on="bucket",
            how="full_outer",
        )
    )
    status = (
        F.when(F.col("new_kvs").isNull(), F.lit("only_old"))
        .when(F.col("old_kvs").isNull(), F.lit("only_new"))
        .otherwise(F.lit("changed"))
    )
    same = F.col("old_cksum").eqNullSafe(F.col("new_cksum")) & F.col("old_kvs").eqNullSafe(
        F.col("new_kvs")
    )
    return (
        j.filter(~same)
        .select("bucket", status.alias("status"), "old_cksum", "new_cksum", "old_kvs", "new_kvs")
        .orderBy("bucket")
    )
