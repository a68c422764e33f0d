"""Checksum manifests: incremental drift detection against a saved snapshot
manifest — the previous snapshot is never rescanned."""

import tempfile

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.model import Keyed
from tikv_data_compare_spark.operators.checksum import (
    bucket_triples,
    compare_to_manifest,
    save_checksum_manifest,
)


@pytest.fixture()
def orders_keyed(spark):
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(200)], "k long, v string, amt long"
    )
    return Keyed.of(df, keys=("k",))


def BUCKET():  # 4 buckets of 50 keys (lazy: Column needs a live session)
    return F.floor(F.col("k") / 50)


def test_manifest_roundtrip_no_drift(spark, orders_keyed):
    d = tempfile.mkdtemp(prefix="tdc_manifest_")
    n = save_checksum_manifest(orders_keyed, d, BUCKET())
    assert n == 4
    assert compare_to_manifest(orders_keyed, d, BUCKET()).count() == 0


def test_manifest_localizes_drift(spark, orders_keyed):
    d = tempfile.mkdtemp(prefix="tdc_manifest_")
    save_checksum_manifest(orders_keyed, d, BUCKET())
    # mutate one row in bucket 1, delete one row in bucket 3, add key 205
    # (bucket 4, new)
    cur = orders_keyed.df
    cur = cur.withColumn("v", F.when(F.col("k") == 60, F.lit("DRIFTED")).otherwise(F.col("v")))
    cur = cur.filter(F.col("k") != 170)
    cur = cur.unionByName(spark.createDataFrame([(205, "new", 0)], cur.schema))
    report = {r["bucket"]: r for r in compare_to_manifest(Keyed.of(cur, keys=("k",)), d, BUCKET()).collect()}
    assert set(report) == {1, 3, 4}
    assert report[1]["status"] == "changed"
    assert report[1]["old_kvs"] == report[1]["new_kvs"] == 50  # same count, value drift
    assert report[3]["status"] == "changed" and report[3]["new_kvs"] == 49
    assert report[4]["status"] == "only_new" and report[4]["new_kvs"] == 1
    # an emptied bucket shows as only_old
    gone = orders_keyed.df.filter(F.col("k") >= 50)
    r2 = {r["bucket"]: r for r in compare_to_manifest(Keyed.of(gone, keys=("k",)), d, BUCKET()).collect()}
    assert r2[0]["status"] == "only_old" and r2[0]["old_kvs"] == 50


def test_manifest_rejects_algo_mismatch(spark, orders_keyed):
    d = tempfile.mkdtemp(prefix="tdc_manifest_")
    save_checksum_manifest(orders_keyed, d, BUCKET(), algo="xxhash64")
    with pytest.raises(ValueError, match="algo"):
        compare_to_manifest(orders_keyed, d, BUCKET(), algo="md5i64")


def test_manifest_agrees_with_targeted_diff_buckets(spark, orders_keyed):
    """The drifted-bucket set from the manifest flow must equal the bucket
    set where targeted_diff's live two-sided compare finds rows."""
    from tikv_data_compare_spark.operators.diff import targeted_diff

    d = tempfile.mkdtemp(prefix="tdc_manifest_")
    save_checksum_manifest(orders_keyed, d, BUCKET())
    cur_df = orders_keyed.df.withColumn(
        "amt", F.when(F.col("k") % 37 == 0, F.col("amt") + 1).otherwise(F.col("amt"))
    )
    cur = Keyed.of(cur_df, keys=("k",))
    via_manifest = {r["bucket"] for r in compare_to_manifest(cur, d, BUCKET()).collect()}
    findings = targeted_diff(orders_keyed, cur, BUCKET())
    via_live = {r["k"] // 50 for r in findings.collect()}
    assert via_manifest == via_live and via_manifest  # non-empty and equal


def test_bucket_triples_monoid_consistency(spark, orders_keyed):
    """Splitting a bucket's rows across finer buckets XOR/sum-folds back to
    the coarse triple — the same monoid law as the global checksum."""
    fine = bucket_triples(orders_keyed, F.floor(F.col("k") / 25)).collect()
    coarse = {r["bucket"]: r for r in bucket_triples(orders_keyed, BUCKET()).collect()}
    agg = {}
    for r in fine:
        cb = r["bucket"] // 2
        c, k = agg.get(cb, (0, 0))
        agg[cb] = (c ^ r["cksum"], k + r["kvs"])
    assert {b: (r["cksum"], r["kvs"]) for b, r in coarse.items()} == agg


def test_empty_manifest_reports_only_new(spark, orders_keyed):
    """A manifest saved from an empty snapshot is legitimate: a later
    compare reports every current bucket as only_new instead of crashing
    on the missing metadata rows."""
    d = tempfile.mkdtemp(prefix="tdc_manifest_")
    empty = Keyed.of(orders_keyed.df.filter(F.lit(False)), keys=("k",))
    assert save_checksum_manifest(empty, d, BUCKET()) == 0
    report = compare_to_manifest(orders_keyed, d, BUCKET()).collect()
    assert len(report) == 4
    assert all(r["status"] == "only_new" for r in report)


def test_compare_join_strategy_is_sort_merge(spark, orders_keyed):
    """The drift join is a full-outer equi-join of two ~16 B/bucket
    aggregates: Spark cannot broadcast a full_outer equi-join, so the
    intended (and documented) strategy is sort-merge — pin it so a future
    'optimization' reintroducing a silently-ignored broadcast hint (r7
    VERDICT) shows up as a plan change."""
    from tikv_data_compare_spark import plans

    d = tempfile.mkdtemp(prefix="tdc_manifest_plan_")
    save_checksum_manifest(orders_keyed, d + "/m", BUCKET())
    drift = compare_to_manifest(orders_keyed, d + "/m", BUCKET())
    strategies = plans.join_strategies(drift)
    assert "SortMergeJoin" in strategies, strategies
    assert "BroadcastHashJoin" not in strategies, strategies


def test_range_buckets_balanced_under_skew(spark):
    """Fixed-divisor bucketing collapses under key skew; quantile boundaries
    keep every bucket as balanced as the key's ties allow.

    With tied keys no method reaches exactly n/16 per bucket: a cut can only
    fall between two distinct key values.  The bound is computed from the
    keys themselves: a boundary within the sketch's rank error
    (``rel_err * n``) of the ideal cut rank puts the bucket edge between
    the tie groups at ranks ``r - m - 1`` and ``r + m``, and each bucket
    size must lie between the nearest and farthest such edges."""
    import math

    from tikv_data_compare_spark.operators.checksum import (
        range_bucket_boundaries,
        range_bucket_col,
    )

    # zipf-ish: k = floor(2^(i/250)) over 8000 rows — ~32 doublings of skew
    n, n_buckets, rel_err = 8000, 16, 0.001
    df = spark.range(n).select(
        F.floor(F.pow(F.lit(2.0), F.col("id") / 250.0)).alias("k")
    )
    bounds = range_bucket_boundaries(df, "k", n_buckets=n_buckets, rel_err=rel_err)
    assert len(bounds) == n_buckets - 1
    got = dict(
        df.withColumn("b", range_bucket_col("k", bounds))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    keys = sorted(math.floor(2.0 ** (i / 250.0)) for i in range(n))

    def below(v):  # number of keys < v
        lo, hi = 0, n
        while lo < hi:
            mid = (lo + hi) // 2
            if keys[mid] < v:
                lo = mid + 1
            else:
                hi = mid
        return lo

    m = math.ceil(rel_err * n)
    # achievable edge interval for each cut (edges 0 and n are fixed)
    edges = [(0, 0)] + [
        (below(keys[max(0, j * n // n_buckets - m - 1)]),
         below(keys[min(n - 1, j * n // n_buckets + m)]))
        for j in range(1, n_buckets)
    ] + [(n, n)]
    for b in range(n_buckets):
        lo = edges[b + 1][0] - edges[b][1]
        hi = edges[b + 1][1] - edges[b][0]
        assert lo <= got.get(b, 0) <= hi, (b, got.get(b, 0), lo, hi)
    # the fixed-divisor strawman on the same data fails BOTH ways: a hot
    # bucket several times ideal AND a sparse explosion of tiny buckets
    ideal = n // n_buckets
    naive = df.select((F.col("k") / 1000).cast("long").alias("b")).groupBy("b").count()
    naive_sizes = sorted((r["count"] for r in naive.collect()), reverse=True)
    assert naive_sizes[0] >= 4 * ideal
    assert len(naive_sizes) > 1000


def test_targeted_diff_with_auto_buckets(spark):
    """targeted_diff over quantile buckets finds EXACTLY the full-diff
    findings (boundaries computed once, reused on both sides)."""
    from tikv_data_compare_spark.operators.checksum import (
        range_bucket_boundaries,
        range_bucket_col,
    )
    from tikv_data_compare_spark.operators.diff import diff, targeted_diff

    src_df = spark.range(4000).select(
        F.floor(F.pow(F.lit(2.0), F.col("id") / 200.0)).alias("k"),
        F.col("id").alias("rowid"),
        (F.col("id") * 3).alias("val"),
    )
    dst_df = src_df.withColumn(
        "val", F.when(F.col("rowid") % 501 == 0, F.col("val") + 1).otherwise(F.col("val"))
    )
    src = Keyed.of(src_df, keys=("rowid",))
    dst = Keyed.of(dst_df, keys=("rowid",))
    bounds = range_bucket_boundaries(src_df, "k", n_buckets=32)
    bucket = range_bucket_col("k", bounds)
    full = sorted(
        (r["rowid"], r["status"]) for r in diff(src, dst).collect()
    )
    targeted = sorted(
        (r["rowid"], r["status"]) for r in targeted_diff(src, dst, bucket).collect()
    )
    assert targeted == full and len(full) > 0


def test_range_bucket_null_and_empty_edges(spark):
    from tikv_data_compare_spark.operators.checksum import range_bucket_col

    df = spark.createDataFrame([(None,), (5,), (50,)], "k long")
    got = {
        (r["k"], r["b"])
        for r in df.withColumn("b", range_bucket_col("k", [10.0])).collect()
    }
    assert got == {(None, -1), (5, 0), (50, 1)}
    # no boundaries: single bucket 0, nulls still -1
    got0 = {
        (r["k"], r["b"])
        for r in df.withColumn("b", range_bucket_col("k", [])).collect()
    }
    assert got0 == {(None, -1), (5, 0), (50, 0)}
