"""Scan-dump source tests: format roundtrip, split partitions, key range,
malformed input, and the global-counter determinism regression that the
dump roundtrip exposed."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.model import Keyed
from tikv_data_compare_spark.operators.scan import export_hex, with_global_index
from tikv_data_compare_spark.sources.scandump import load_scan_dump


@pytest.fixture(scope="module")
def dump(spark, kv_pair, tmp_path_factory):
    src, _ = kv_pair
    small = Keyed(src.df.limit(2000).cache())
    small.df.count()
    path = str(tmp_path_factory.mktemp("dump") / "SRC_scan.log.test")
    export_hex(small, path=path)
    return small, path


def test_dump_roundtrip_bitexact(spark, dump):
    """Dump → source → KV equals the original KV set (the diff-vs-original
    guarantee: a user can verify a dump against the live table)."""
    small, path = dump
    back = load_scan_dump(spark, path)
    orig = small.df.select("key", "value")
    got = back.select("key", "value")
    assert orig.exceptAll(got).count() == 0
    assert got.exceptAll(orig).count() == 0


def test_dump_chunk_partitions(spark, dump):
    """The text source splits a dump into ~maxPartitionBytes partitions at
    line boundaries with no row lost or duplicated — one big file fans out
    across the cluster."""
    small, path = dump
    one = load_scan_dump(spark, path)
    n_default = one.rdd.getNumPartitions()
    total = one.select(F.sum("cnt")).first()[0]
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2048")
    try:
        many = load_scan_dump(spark, path)
        assert many.rdd.getNumPartitions() > n_default
        assert many.count() == small.df.count()
        assert many.select(F.sum("cnt")).first()[0] == total
    finally:
        spark.conf.set(conf, old)


def test_dump_range_pushdown(spark, dump):
    """key >= lo AND key < hi runs as a Filter right above the JVM text
    scan (no Python DataSource, no shuffle in between), and results match
    the in-Spark filter on the original frame."""
    small, path = dump
    keys = sorted(r["key"] for r in small.df.select("key").collect())
    lo, hi = keys[300], keys[1200]
    back = load_scan_dump(spark, path)
    filt = back.filter(F.col("key") >= F.lit(lo)).filter(F.col("key") < F.lit(hi))
    lines = filt._jdf.queryExecution().executedPlan().toString().splitlines()
    at = next(i for i, l in enumerate(lines) if "Filter" in l and ">=" in l)
    below = lines[at + 1:]
    assert any("FileScan text" in l for l in below), lines
    assert not any("BatchScan" in l or "Exchange" in l for l in below), lines
    expected = small.df.filter(F.col("key") >= F.lit(lo)).filter(F.col("key") < F.lit(hi))
    assert filt.count() == expected.count() == 900


def test_dump_explicit_range_options(spark, dump):
    small, path = dump
    keys = sorted(r["key"] for r in small.df.select("key").collect())
    lo, hi = keys[100], keys[200]
    got = load_scan_dump(spark, path, start=lo, end=hi)
    assert got.count() == 100


def test_dump_malformed_line_raises(spark, tmp_path):
    p = tmp_path / "bad_scan.log"
    p.write_text("key:00, value:11, cnt:1.\nnot a dump line\n")
    df = load_scan_dump(spark, str(p))
    with pytest.raises(Exception, match="malformed"):
        df.collect()
    # the check survives column pruning
    with pytest.raises(Exception, match="malformed"):
        df.count()
    with pytest.raises(Exception, match="malformed"):
        df.select("value").count()


@pytest.mark.parametrize(
    "line",
    ["key:00a, value:11, cnt:1.", "key:00, value:11, cnt:9223372036854775808."],
    ids=["odd_hex", "cnt_overflow"],
)
def test_dump_out_of_format_values_raise(spark, tmp_path, line):
    """Odd-length hex (which unhex would pad) and a cnt past 2^63-1 (which a
    cast would turn into NULL) are malformed lines, not data."""
    p = tmp_path / "bad_scan.log"
    p.write_text(f"key:00, value:11, cnt:1.\n{line}\n")
    with pytest.raises(Exception, match="malformed"):
        load_scan_dump(spark, str(p)).collect()


def test_dump_crlf_and_blank_lines(spark, dump, tmp_path):
    """A CRLF copy of the dump with blank and whitespace-only lines reads
    the same rows as the LF original."""
    _, path = dump
    lines = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            lines += fh.read().splitlines()
    crlf = tmp_path / "SRC_scan.log.crlf"
    crlf.write_bytes(("\r\n".join(["", *lines[:10], "  ", *lines[10:], "\t"]) + "\r\n").encode())
    lf, got = load_scan_dump(spark, path), load_scan_dump(spark, str(crlf))
    assert got.count() == lf.count() == len(lines)
    assert got.exceptAll(lf).count() == 0


def test_dump_missing_path_raises(spark):
    with pytest.raises(Exception, match="not found"):
        load_scan_dump(spark, "/nonexistent/glob*.log").collect()


def test_global_index_deterministic_full_table(spark):
    """Regression: the counter must be dense-correct even when Catalyst does
    NOT reuse the partitioning exchange between the ranks and offsets
    branches.  The old repartitionByRange+spark_partition_id form sampled
    different boundaries per branch and corrupted cnt on a 15k-row table."""
    from pyspark.sql import Window

    df = spark.range(0, 14983).select(
        (F.col("id") * 7919 % 100003).alias("k")
    ).distinct()
    idx = with_global_index(df, ["k"], "cnt")
    chk = idx.withColumn("rank", F.row_number().over(Window.orderBy("k")))
    assert chk.filter(F.col("cnt") != F.col("rank")).count() == 0
