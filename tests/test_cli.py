"""CLI tests: codec subcommands (pure) + Spark-backed checksum/diff/scan."""

import json
import os

import pytest

from tikv_data_compare_spark import cli, codec


def test_cli_format(capsys):
    assert cli.main(["format", "--key", "6162", "--format", "hex"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["hex"] == "6162" and out["raw"] == "ab"


def test_cli_decodets(capsys):
    key = codec.hex_upper(codec.encode_ts(42))
    assert cli.main(["decodets", "--key", key, "--format", "hex"]) == 0
    assert json.loads(capsys.readouterr().out)["ts"] == 42


def test_cli_encodekey(capsys):
    assert cli.main(["encodekey", "--key", "abc", "--format", "raw"]) == 0
    enc = json.loads(capsys.readouterr().out)["encoded_hex"]
    assert codec.decode_key_v2(bytes.fromhex(enc)) == b"abc"


@pytest.fixture(scope="module")
def two_tables(spark, tmp_path_factory, lineitem):
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.model import unique_by_key

    d = tmp_path_factory.mktemp("cli")
    base = unique_by_key(lineitem, ["l_orderkey", "l_linenumber"]).limit(300)
    src, dst, dst_eq = str(d / "src.pq"), str(d / "dst.pq"), str(d / "dst_eq.pq")
    base.write.mode("overwrite").parquet(src)
    base.write.mode("overwrite").parquet(dst_eq)
    base.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 41 == 0, F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
    ).write.mode("overwrite").parquet(dst)
    return src, dst, dst_eq


def test_cli_checksum_verdicts(capsys, two_tables):
    src, dst, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    assert cli.main(["checksum", "--src", src, "--dst", dst_eq, "--keys", keys]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["equal"] is True
    assert cli.main(["checksum", "--src", src, "--dst", dst, "--keys", keys]) == 1


def test_cli_concurrency_sets_shuffle_partitions(capsys, spark, two_tables):
    """--concurrency is the reference's range-worker-pool knob
    (config/config.go:36) mapped to Spark parallelism: on a REUSED session
    (where build-time local[N] is frozen) it must still take effect as the
    runtime shuffle-partition count (r7, VERDICT #8)."""
    src, _, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rc = cli.main(
            ["checksum", "--src", src, "--dst", dst_eq, "--keys", keys, "--concurrency", "7"]
        )
        assert rc == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_cli_diff_reports(capsys, two_tables):
    src, dst, _ = two_tables
    rc = cli.main(["diff", "--src", src, "--dst", dst, "--keys", "l_orderkey,l_linenumber"])
    assert rc == 1
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert lines and all(json.loads(l)["status"] == "changed" for l in lines)


def test_cli_typed_int_key_bounds(capsys, two_tables):
    """Integer-keyed tables interpret --start/end-key as decimal integers.
    Regression: bounds went through int.from_bytes(parse_key(...)), turning
    '1000' into 825241648 and silently returning the wrong range."""
    import duckdb

    src, _, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    # pick decimal bounds straddling real data so the range is non-empty
    lo, hi = duckdb.sql(
        f"SELECT min(l_orderkey), median(l_orderkey)::BIGINT FROM read_parquet('{src}/*.parquet')"
    ).fetchone()
    expected = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet') "
        f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
    ).fetchone()[0]
    assert expected > 0
    rc = cli.main(
        ["checksum", "--src", src, "--dst", dst_eq, "--keys", keys,
         "--start-key", str(lo), "--end-key", str(hi)]
    )
    assert rc == 0
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["equal"] is True
    assert v["src"]["total_kvs"] == expected


def test_cli_typed_bound_rejects_non_decimal(two_tables):
    src, dst, _ = two_tables
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli.main(
            ["checksum", "--src", src, "--dst", dst, "--keys", "l_orderkey",
             "--start-key", "0xFF"]
        )


def test_cli_checksum_crc64_typed(capsys, two_tables):
    """--algo crc64 on a typed parquet table runs green (regression: crashed
    with DATATYPE_MISMATCH since round 1)."""
    src, _, dst_eq = two_tables
    rc = cli.main(
        ["checksum", "--src", src, "--dst", dst_eq,
         "--keys", "l_orderkey,l_linenumber", "--algo", "crc64"]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["equal"] is True


def test_cli_scan_export(capsys, two_tables, tmp_path):
    src, _, _ = two_tables
    out_dir = str(tmp_path / "dump")
    rc = cli.main(
        ["scan", "--src", src, "--keys", "l_orderkey,l_linenumber", "--out", out_dir]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["out"] == out_dir
    import glob

    assert glob.glob(f"{out_dir}/part-*")


def test_cli_scan_dual_source(capsys, two_tables, tmp_path):
    """Reference parity: one `scan` invocation dumps BOTH clusters after the
    api-version gate (scan/scan.go:74-108).  Identical tables must yield
    dumps that checksum equal."""
    src, _, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    a = str(tmp_path / "A_scan.log.1")
    b = str(tmp_path / "B_scan.log.2")
    rc = cli.main(
        ["scan", "--src", src, "--dst", dst_eq, "--keys", keys,
         "--out", a, "--out-dst", b]
    )
    assert rc == 0
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v == {"out": a, "out_dst": b}
    import glob

    assert glob.glob(f"{a}/part-*") and glob.glob(f"{b}/part-*")
    assert cli.main(["checksum", "--src", a, "--dst", b]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["equal"] is True


def test_cli_scan_out_dst_requires_dst(capsys, two_tables, tmp_path):
    """--out-dst without --dst is a flag-combination error (exit 2), not a
    silently ignored flag that looks like a one-sided dual dump (r9
    ADVICE); nothing is written."""
    import os

    src, _, _ = two_tables
    out = str(tmp_path / "only")
    odst = str(tmp_path / "ghost")
    rc = cli.main(
        ["scan", "--src", src, "--keys", "l_orderkey,l_linenumber",
         "--out", out, "--out-dst", odst]
    )
    assert rc == 2
    assert "--out-dst requires --dst" in capsys.readouterr().err
    assert not os.path.exists(out) and not os.path.exists(odst)


def test_cli_scan_dual_default_out_names_do_not_collide(capsys, two_tables, tmp_path):
    """Default dump dirs must differ even for the worst case — src and dst
    are the SAME path scanned within one second (self-compare smoke): the
    dst default carries a '_dst' marker (r9 ADVICE)."""
    import glob
    import os
    import shutil

    src, _, _ = two_tables
    t = os.path.join(str(tmp_path), "t")
    shutil.copytree(src, t)
    rc = cli.main(["scan", "--src", t, "--dst", t,
                   "--keys", "l_orderkey,l_linenumber"])
    assert rc == 0
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["out"] != v["out_dst"]
    assert "_scan_dst.log." in v["out_dst"]
    assert glob.glob(f"{v['out']}/part-*") and glob.glob(f"{v['out_dst']}/part-*")
    for p in (v["out"], v["out_dst"]):
        shutil.rmtree(p)  # defaults land beside the source inside tmp_path


def test_cli_scan_dual_gates_version_before_dumping(capsys, two_tables, tmp_path):
    """A version-mismatched pair is rejected BEFORE either side is dumped
    (the precondition the reference enforces at scan/scan.go:74-86)."""
    import json as _json
    import os

    src, _, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    tampered = str(tmp_path / "T_scan.log.1")
    assert cli.main(["scan", "--src", dst_eq, "--keys", keys, "--out", tampered]) == 0
    capsys.readouterr()
    with open(os.path.join(tampered, "_META.json"), "w") as fh:
        fh.write(_json.dumps({"kind": "dump", "api_version": "V1"}))
    # src parquet (V2) vs tampered dump (V1): kinds differ fires first — use
    # a clean V2 dump of src so only the api version differs
    clean = str(tmp_path / "C_scan.log.2")
    assert cli.main(["scan", "--src", src, "--keys", keys, "--out", clean]) == 0
    capsys.readouterr()
    out_a = str(tmp_path / "OUT_A")
    out_b = str(tmp_path / "OUT_B")
    rc = cli.main(
        ["scan", "--src", clean, "--dst", tampered, "--keys", keys,
         "--out", out_a, "--out-dst", out_b]
    )
    assert rc == 2
    assert "Different api version" in capsys.readouterr().err
    assert not os.path.exists(out_a) and not os.path.exists(out_b)


def test_cli_dump_to_dump_compare(capsys, two_tables, tmp_path):
    """The reference's real workflow: scan both clusters to dump files, then
    compare the dumps.  Our CLI scans each parquet 'cluster' to a
    {NAME}_scan.log dump (with the _META.json handshake sidecar), reopens
    both through the scandump source, and checksums/diffs them."""
    src, dst, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    d_src = str(tmp_path / "SRC_scan.log.1")
    d_eq = str(tmp_path / "EQ_scan.log.2")
    d_mut = str(tmp_path / "MUT_scan.log.3")
    for table, out in ((src, d_src), (dst_eq, d_eq), (dst, d_mut)):
        assert cli.main(["scan", "--src", table, "--keys", keys, "--out", out]) == 0
    capsys.readouterr()

    # identical tables → identical dumps
    assert cli.main(["checksum", "--src", d_src, "--dst", d_eq]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["equal"] is True
    # mutated table → unequal checksum and non-empty diff
    assert cli.main(["checksum", "--src", d_src, "--dst", d_mut]) == 1
    capsys.readouterr()
    assert cli.main(["diff", "--src", d_src, "--dst", d_mut]) == 1
    out = capsys.readouterr().out
    assert any(line.startswith("{") for line in out.splitlines())


def test_cli_handshake_rejects_api_version_mismatch(capsys, two_tables, tmp_path):
    import json as _json
    import os

    src, _, dst_eq = two_tables
    keys = "l_orderkey,l_linenumber"
    a = str(tmp_path / "A_scan.log.1")
    b = str(tmp_path / "B_scan.log.2")
    assert cli.main(["scan", "--src", src, "--keys", keys, "--out", a]) == 0
    assert cli.main(["scan", "--src", dst_eq, "--keys", keys, "--out", b]) == 0
    capsys.readouterr()
    meta_path = os.path.join(b, "_META.json")
    with open(meta_path, "w") as fh:
        fh.write(_json.dumps({"kind": "dump", "api_version": "V1"}))
    rc = cli.main(["checksum", "--src", a, "--dst", b])
    assert rc == 2
    assert "Different api version" in capsys.readouterr().err


def test_cli_handshake_rejects_mixed_kinds(capsys, two_tables, tmp_path):
    src, dst, _ = two_tables
    d = str(tmp_path / "X_scan.log.9")
    assert cli.main(["scan", "--src", src, "--keys", "l_orderkey,l_linenumber", "--out", d]) == 0
    capsys.readouterr()
    rc = cli.main(["checksum", "--src", d, "--dst", dst])
    assert rc == 2
    assert "kinds differ" in capsys.readouterr().err


def test_cli_checksum_tikv_fake_source(spark, capsys):
    """The reference's UX — compare two clusters by endpoint — through the
    connector: identical fake clusters must report equal."""
    from tikv_data_compare_spark import cli

    rc = cli.main(
        ["checksum", "--src", "tikv+fake://left", "--dst", "tikv+fake://right", "--keys", "key"]
    )
    out = capsys.readouterr().out
    assert rc == 0 and '"equal": true' in out


def test_cli_diff_tikv_fake_vs_dump(spark, tmp_path, capsys):
    """Cross-source compare: a live(fake) cluster against a scan dump of
    itself — the migration-check workflow."""
    from tikv_data_compare_spark import cli
    from tikv_data_compare_spark.model import Keyed
    from tikv_data_compare_spark.operators.scan import export_hex
    from tikv_data_compare_spark.sources.tikv import load_tikv

    dump = str(tmp_path / "FAKE_scan.log.1")
    # dump the default fake cluster (n=1000), then diff the cluster against
    # its own dump: identical KV → empty diff → rc 0
    export_hex(Keyed(load_tikv(spark, client="fake").df), path=dump)
    rc = cli.main(["diff", "--src", "tikv+fake://x", "--dst", dump, "--keys", "key"])
    capsys.readouterr()
    assert rc == 0


def test_cli_checksum_tikv_coprocessor_path(capsys, spark):
    """Two cluster sources + crc64 take the reference's own flow: per-region
    coprocessor triples compared without a row scan (the verdict carries
    path=coprocessor)."""
    rc = cli.main(
        ["checksum", "--src", "tikv+fake://a", "--dst", "tikv+fake://b", "--algo", "crc64"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["equal"] is True
    assert out["path"] == "coprocessor"
    assert out["src"]["total_kvs"] == 1000  # the fake's default corpus


def test_cli_diff_targeted_matches_full(capsys, two_tables):
    """--targeted-buckets localizes via per-bucket checksums first; the
    reported findings must be identical to the plain keyed diff."""
    src, dst, _ = two_tables
    keys = "l_orderkey,l_linenumber"
    rc = cli.main(["diff", "--src", src, "--dst", dst, "--keys", keys])
    full = sorted(l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{"))
    assert rc == 1 and full
    rc = cli.main(
        ["diff", "--src", src, "--dst", dst, "--keys", keys, "--targeted-buckets", "16"]
    )
    targeted = sorted(l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{"))
    assert rc == 1
    assert targeted == full


def test_cli_curate(capsys, spark, tmp_path):
    """End-to-end curate subcommand: kept parquet written, attrition funnel
    printed as JSON lines, first stage's n_in equals the input doc count."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kept.pq")
    rc = cli.main(["curate", "--src", src, "--out", out])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    stages = [l for l in lines if "stage" in l]
    assert [s["stage"] for s in stages] == ["exact_dedup", "near_dedup", "quality", "repetition"]
    assert stages[0]["n_in"] == docs.count()
    # funnel is monotone and reconciles with the written corpus
    for s in stages:
        assert s["n_in"] - s["n_dropped"] == s["n_out"]
    kept = spark.read.parquet(out)
    assert kept.count() == stages[-1]["n_out"]
    assert lines[-1]["out"] == out


def test_cli_curate_redact_pii_flag(capsys, spark, tmp_path):
    """--redact-pii: written survivors carry masked text, funnel unchanged
    (redaction is a transform, not a gate)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").withColumn(
        "text", F.concat(F.col("text"), F.lit(" mail u1@leak.com id 123456789"))
    )
    src = str(tmp_path / "docs.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kept.pq")
    rc = cli.main(["curate", "--src", src, "--out", out, "--redact-pii"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    stages = [l for l in lines if "stage" in l]
    kept = spark.read.parquet(out)
    assert kept.count() == stages[-1]["n_out"] > 0
    masked = kept.filter(F.col("text").contains("<EMAIL>"))
    leaked = kept.filter(
        F.col("text").contains("@leak.com") | F.col("text").contains("123456789")
    )
    assert masked.count() == kept.count() and leaked.count() == 0


def test_cli_curate_span_stage_flags(capsys, spark, tmp_path):
    """--self-dedup-span appends the ExactSubstr stage; --decontam-algo
    rides along as the span stages' winnow hash (r16)."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"alpha intro {span} unique tail one " + "pad " * 20),
            (2, f"beta body {span} other filler text " + "mat " * 20),
            (3, "a storm is coming over the hills and the farmers are "
                "bringing in the harvest before the rain starts to fall"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kept.pq")
    rc = cli.main([
        "curate", "--src", src, "--out", out,
        "--self-dedup-span", "30", "--decontam-algo", "xxhash64",
        "--near-dup-jaccard-c", "10001", "--max-dup-word-frac-c", "10000",
        "--max-top-bigram-frac-c", "10000",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    stages = {l["stage"]: l for l in lines if "stage" in l}
    assert stages["self_dedup_span"]["n_dropped"] == 1
    kept = spark.read.parquet(out)
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}


def test_cli_manifest_save_and_compare(capsys, two_tables, tmp_path):
    """manifest --save then --against: clean compare exits 0, drifted
    compare exits 1 and prints the drifted buckets; bucket-count mismatch
    is rejected before any comparison."""
    src, dst, _ = two_tables
    m = str(tmp_path / "manifest.pq")
    keys = "l_orderkey,l_linenumber"
    assert cli.main(["manifest", "--src", src, "--keys", keys, "--save", m, "--buckets", "16"]) == 0
    saved = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert saved["buckets"] == 16

    assert cli.main(["manifest", "--src", src, "--keys", keys, "--against", m, "--buckets", "16"]) == 0
    clean = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert clean["drifted_buckets"] == 0

    rc = cli.main(["manifest", "--src", dst, "--keys", keys, "--against", m, "--buckets", "16"])
    assert rc == 1
    lines = capsys.readouterr().out.strip().splitlines()
    assert json.loads(lines[-1])["drifted_buckets"] >= 1
    assert all(json.loads(ln)["status"] == "changed" for ln in lines[:-1])

    # mismatched --buckets is an operator error: clean stderr + exit 2, not
    # an uncaught ValueError traceback (r8, ADVICE)
    rc = cli.main(["manifest", "--src", src, "--keys", keys, "--against", m, "--buckets", "32"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "n_buckets" in err

    # exactly one of --save/--against
    assert cli.main(["manifest", "--src", src, "--keys", keys]) == 2


@pytest.fixture(scope="module")
def emb_parquet(spark, tmp_path_factory, embeddings):
    d = tmp_path_factory.mktemp("cli_ann")
    src = str(d / "emb.pq")
    embeddings.write.mode("overwrite").parquet(src)
    from pyspark.sql import functions as F

    q = str(d / "queries.pq")
    embeddings.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).write.mode("overwrite").parquet(q)
    return src, q


def test_cli_ann_bruteforce_and_ivfpq(capsys, emb_parquet):
    src, _ = emb_parquet
    assert cli.main(["ann", "--src", src, "--method", "bruteforce",
                     "--k", "3", "--n-queries", "4"]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 4 * 3
    assert all(r["rnk"] in (1, 2, 3) and r["neighbor_id"] != r["query_id"] for r in rows)

    assert cli.main(["ann", "--src", src, "--method", "ivfpq", "--k", "3",
                     "--n-queries", "4", "--n-cells", "8", "--n-probe", "8",
                     "--rerank", "50"]) == 0
    rows2 = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(rows2) == 4 * 3


def test_cli_ann_join_path_and_out(capsys, emb_parquet, tmp_path):
    """--queries routes ivf through the DataFrame-query join path (exact at
    exhaustive probe: must equal the bruteforce rows) and --out writes
    parquet instead of printing."""
    src, q = emb_parquet
    assert cli.main(["ann", "--src", src, "--method", "bruteforce",
                     "--k", "3", "--n-queries", "6"]) == 0
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in map(json.loads, capsys.readouterr().out.strip().splitlines())
    )
    out = str(tmp_path / "ann_out.pq")
    assert cli.main(["ann", "--src", src, "--method", "ivf", "--queries", q,
                     "--k", "3", "--n-cells", "8", "--n-probe", "8",
                     "--out", out]) == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["rows"] == 6 * 3

    import duckdb

    got = sorted(
        tuple(r) for r in duckdb.sql(
            f"SELECT query_id, neighbor_id, rnk FROM '{out}/*.parquet'"
        ).fetchall()
    )
    assert got == exact


def test_cli_ann_rejects_bad_geometry(capsys, emb_parquet):
    src, q = emb_parquet
    # dim % m != 0 is an operator error: clean stderr + exit 2
    assert cli.main(["ann", "--src", src, "--method", "pq", "--m", "7"]) == 2
    assert "dim" in capsys.readouterr().err
    # --queries only applies to the join-path methods
    assert cli.main(["ann", "--src", src, "--method", "pq", "--queries", q]) == 2
    assert "join path" in capsys.readouterr().err


def test_cli_ann_persistent_index(capsys, emb_parquet, tmp_path):
    """ann --build-index then --index: build-once/query-many, with the
    indexed exhaustive+rerank result equal to brute force."""
    src, q = emb_parquet
    idx = str(tmp_path / "idx")
    assert cli.main(["ann", "--src", src, "--build-index", idx,
                     "--n-cells", "8", "--m", "8", "--k-codes", "16"]) == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["index"] == idx and meta["n_vectors"] > 0

    assert cli.main(["ann", "--src", src, "--method", "bruteforce",
                     "--k", "3", "--n-queries", "6"]) == 0
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in map(json.loads, capsys.readouterr().out.strip().splitlines())
    )
    assert cli.main(["ann", "--src", src, "--index", idx, "--queries", q,
                     "--k", "3", "--n-probe", "8",
                     "--rerank", str(meta["n_vectors"])]) == 0
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in map(json.loads, capsys.readouterr().out.strip().splitlines())
    )
    assert got == exact

    # --index without --queries is a usage error
    assert cli.main(["ann", "--src", src, "--index", idx]) == 2

    # --compact-index: bounded file set, queries unchanged (r13)
    assert cli.main(["ann", "--compact-index", idx, "--target-files", "1"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["files_after"] <= 1 and stats["n_compactions"] == 1
    assert stats["n_vectors"] == meta["n_vectors"]
    assert cli.main(["ann", "--src", src, "--index", idx, "--queries", q,
                     "--k", "3", "--n-probe", "8",
                     "--rerank", str(meta["n_vectors"])]) == 0
    got2 = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in map(json.loads, capsys.readouterr().out.strip().splitlines())
    )
    assert got2 == exact


def test_cli_manifest_range_buckets(capsys, two_tables, tmp_path):
    """--range-key stores quantile boundaries in the manifest; compares
    rebuild the identical bucketing from the file (no flag needed), so a
    clean compare is empty and a drifted one localizes."""
    src, dst, dst_eq = two_tables
    m = str(tmp_path / "range_manifest.pq")
    keys = "l_orderkey,l_linenumber"
    assert cli.main(["manifest", "--src", src, "--keys", keys, "--save", m,
                     "--buckets", "8", "--range-key", "l_orderkey"]) == 0
    saved = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert saved["range_key"] == "l_orderkey"

    # compare with NO --buckets flag: the range path rebuilds the bucketing
    # entirely from the stored boundaries, so the knob is irrelevant (r8
    # review — validating it spuriously failed the documented no-flag flow)
    assert cli.main(["manifest", "--src", src, "--keys", keys,
                     "--against", m]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])[
        "drifted_buckets"
    ] == 0

    rc = cli.main(["manifest", "--src", dst, "--keys", keys,
                   "--against", m])
    assert rc == 1
    lines = capsys.readouterr().out.strip().splitlines()
    assert json.loads(lines[-1])["drifted_buckets"] >= 1


def test_cli_manifest_save_bad_range_key_clean_error(capsys, two_tables, tmp_path):
    """r9 (r8 ADVICE): --save --range-key with a missing or non-numeric key
    column exits 2 with a clean 'manifest:' stderr line, not a raw Py4J
    traceback — the same contract as every other CLI error path."""
    src, _, _ = two_tables
    m = str(tmp_path / "bad_manifest.pq")
    keys = "l_orderkey,l_linenumber"
    rc = cli.main(["manifest", "--src", src, "--keys", keys, "--save", m,
                   "--buckets", "8", "--range-key", "no_such_col"])
    assert rc == 2
    err = capsys.readouterr().err
    # Spark's log4j may emit its own ERROR line to stderr first — the
    # contract is OUR clean line (plus rc 2), not exclusive ownership of fd 2
    assert "manifest:" in err and "no_such_col" in err
    assert "Traceback" not in err
    assert not os.path.exists(m)


def test_cli_manifest_empty_range_manifest_clean_error(capsys, spark, two_tables, tmp_path):
    """A range-keyed manifest saved from an empty snapshot cannot carry its
    boundaries: comparing against it exits 2 with a clean message instead
    of a TypeError traceback (r8 review)."""
    src, _, _ = two_tables
    empty = str(tmp_path / "empty.pq")
    spark.createDataFrame([], "l_orderkey long, l_linenumber long, l_quantity double").write.parquet(empty)
    m = str(tmp_path / "empty_manifest.pq")
    keys = "l_orderkey,l_linenumber"
    assert cli.main(["manifest", "--src", empty, "--keys", keys, "--save", m,
                     "--buckets", "8", "--range-key", "l_orderkey"]) == 0
    capsys.readouterr()
    rc = cli.main(["manifest", "--src", src, "--keys", keys, "--against", m,
                   "--buckets", "8"])
    assert rc == 2
    assert "boundaries" in capsys.readouterr().err


def test_cli_ann_include_self(capsys, emb_parquet):
    """--include-self keeps id-colliding candidates: each corpus-drawn
    query's own vector comes back as the exact top-1."""
    src, q = emb_parquet
    assert cli.main(["ann", "--src", src, "--method", "ivf", "--queries", q,
                     "--k", "1", "--n-cells", "4", "--n-probe", "4",
                     "--include-self"]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert rows and all(
        r["neighbor_id"] == r["query_id"] and r["cosine_c"] == 10000 for r in rows
    )


def test_cli_ann_append_index(capsys, spark, emb_parquet, tmp_path):
    """--append-index grows a built index with frozen codebooks; wrong-dim
    appends exit 2 cleanly."""
    src, _ = emb_parquet
    idx = str(tmp_path / "growidx")
    assert cli.main(["ann", "--src", src, "--build-index", idx,
                     "--n-cells", "4", "--m", "8", "--k-codes", "16"]) == 0
    n0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["n_vectors"]

    extra = str(tmp_path / "extra.pq")
    from pyspark.sql import functions as F

    spark.read.parquet(src).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    ).limit(7).write.parquet(extra)
    assert cli.main(["ann", "--src", extra, "--append-index", idx]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["appended"] == 7

    bad = str(tmp_path / "bad.pq")
    spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>").write.parquet(bad)
    assert cli.main(["ann", "--src", bad, "--append-index", idx]) == 2
    assert "dim" in capsys.readouterr().err


def test_cli_diff_tolerance(capsys, spark, two_tables, tmp_path):
    """--tolerance COL=EPS suppresses sub-eps float drift and reports real
    drift; bad specs and the --targeted-buckets combination exit 2."""
    from pyspark.sql import functions as F

    src, _, _ = two_tables
    jittered = str(tmp_path / "jittered.pq")
    spark.read.parquet(src).withColumn(
        "l_quantity",
        F.col("l_quantity") + F.lit(0.000001)
        + F.when(F.col("l_orderkey") % 59 == 0, F.lit(5.0)).otherwise(F.lit(0.0)),
    ).write.parquet(jittered)
    keys = "l_orderkey,l_linenumber"
    rc = cli.main(["diff", "--src", src, "--dst", jittered, "--keys", keys,
                   "--tolerance", "l_quantity=0.001"])
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    import duckdb

    expected = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet') WHERE l_orderkey % 59 = 0"
    ).fetchone()[0]
    assert rc == 1 and len(out) == expected > 0
    assert all(r["status"] == "changed" for r in out)

    assert cli.main(["diff", "--src", src, "--dst", jittered, "--keys", keys,
                     "--tolerance", "l_quantity"]) == 2
    assert cli.main(["diff", "--src", src, "--dst", jittered, "--keys", keys,
                     "--tolerance", "l_quantity=0.001",
                     "--targeted-buckets", "16"]) == 2
    capsys.readouterr()

    # EPS:REL relative form: multiplicative ppm jitter suppressed, real
    # relative drift reported (same expected key set)
    rel_jit = str(tmp_path / "rel_jittered.pq")
    spark.read.parquet(src).withColumn(
        "l_quantity",
        F.col("l_quantity") * (F.lit(1.0) + F.lit(1e-7))
        * F.when(F.col("l_orderkey") % 59 == 0, F.lit(1.5)).otherwise(F.lit(1.0)),
    ).write.parquet(rel_jit)
    rc = cli.main(["diff", "--src", src, "--dst", rel_jit, "--keys", keys,
                   "--tolerance", "l_quantity=1e-9:1e-5"])
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1 and len(out) == expected > 0
    assert all(r["status"] == "changed" for r in out)
    assert cli.main(["diff", "--src", src, "--dst", rel_jit, "--keys", keys,
                     "--tolerance", "l_quantity=1e-9:bogus"]) == 2


def test_cli_dedup_batch_and_index_flow(capsys, spark, tmp_path):
    """dedup subcommand: batch self-pairs, then build -> query -> verify ->
    append over the persistent index, matching the library results."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        corpus.orderBy("doc_id").limit(1).withColumn("doc_id", F.lit(900001))
    )
    corpus_pq, batch_pq = str(tmp_path / "corpus.pq"), str(tmp_path / "batch.pq")
    corpus.write.parquet(corpus_pq)
    batch.write.parquet(batch_pq)

    # batch self-join pairs == library jaccard_pairs count
    rc = cli.main(["dedup", "--src", corpus_pq])
    assert rc == 0
    n_self = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["pairs"]
    assert n_self == dd.jaccard_pairs(corpus, "doc_id", "text").count()

    idx = str(tmp_path / "idx")
    rc = cli.main(["dedup", "--src", corpus_pq, "--build-index", idx])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["n_docs"] == corpus.count()

    out_pq = str(tmp_path / "pairs.pq")
    rc = cli.main(["dedup", "--src", batch_pq, "--index", idx,
                   "--corpus", corpus_pq, "--out", out_pq])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["pairs"] >= 1
    rows = spark.read.parquet(out_pq).collect()
    planted = [r for r in rows if r["new_id"] == 900001]
    assert planted and planted[0]["jaccard_c"] == 10000

    rc = cli.main(["dedup", "--src", batch_pq, "--append-index", idx])
    assert rc == 0
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert appended["appended"] == batch.count()


def test_cli_sample_methods(capsys, spark, tmp_path):
    """sample subcommand: every method runs; mixture parses the weights
    spec (rates + epochs) and rejects malformed specs cleanly."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    src = str(tmp_path / "docs.pq")
    docs.write.parquet(src)

    for extra in (
        ["--method", "hash", "--pct", "30"],
        ["--method", "stratified", "--group-col", "lang", "--k", "5"],
        ["--method", "shard", "--n-shards", "4"],
        ["--method", "sqrt-mixture", "--group-col", "lang", "--epochs-for-full", "2"],
    ):
        rc = cli.main(["sample", "--src", src] + extra)
        assert rc == 0, extra
        res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert res["rows"] > 0

    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    spec = f"{langs[0]}=10000x2,{langs[1]}=5000" if len(langs) > 1 else f"{langs[0]}=10000x2"
    out_pq = str(tmp_path / "mix.pq")
    rc = cli.main(["sample", "--src", src, "--method", "mixture",
                   "--group-col", "lang", "--weights", spec, "--out", out_pq])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == spark.read.parquet(out_pq).count() > 0

    rc = cli.main(["sample", "--src", src, "--method", "mixture",
                   "--group-col", "lang", "--weights", "bad spec"])
    assert rc == 2
    assert "weights" in capsys.readouterr().err


def test_cli_dedup_flag_conflicts_and_unverifiable_pairs(capsys, spark, tmp_path):
    """r9 review: dedup mode flags are mutually exclusive; --out with
    --build-index errors instead of silently skipping the write; --corpus
    missing an appended indexed doc leaves the pair with NULL jaccard_c
    rather than dropping it."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    a_pq, b_pq = str(tmp_path / "a.pq"), str(tmp_path / "b.pq")
    a.write.parquet(a_pq)
    b.write.parquet(b_pq)
    idx = str(tmp_path / "idx")

    rc = cli.main(["dedup", "--src", a_pq, "--build-index", idx, "--index", idx])
    assert rc == 2 and "mutually exclusive" in capsys.readouterr().err
    rc = cli.main(["dedup", "--src", a_pq, "--build-index", idx, "--out", str(tmp_path / "o")])
    assert rc == 2 and "--out" in capsys.readouterr().err
    rc = cli.main(["dedup", "--src", a_pq, "--corpus", b_pq])
    assert rc == 2 and "--corpus requires --index" in capsys.readouterr().err

    assert cli.main(["dedup", "--src", a_pq, "--build-index", idx]) == 0
    assert cli.main(["dedup", "--src", b_pq, "--append-index", idx]) == 0
    capsys.readouterr()
    # batch c duplicates one doc from a (verifiable via --corpus a) and one
    # from b (appended; NOT in --corpus -> NULL jaccard, pair still present)
    c = (
        a.orderBy("doc_id").limit(1).withColumn("doc_id", F.lit(700001))
        .unionByName(b.orderBy("doc_id").limit(1).withColumn("doc_id", F.lit(700002)))
    )
    c_pq = str(tmp_path / "c.pq")
    c.write.parquet(c_pq)
    out_pq = str(tmp_path / "pairs.pq")
    rc = cli.main(["dedup", "--src", c_pq, "--index", idx,
                   "--corpus", a_pq, "--out", out_pq])
    assert rc == 0
    capsys.readouterr()
    rows = spark.read.parquet(out_pq).collect()
    a_first = a.select(F.min("doc_id")).collect()[0][0]
    b_first = b.select(F.min("doc_id")).collect()[0][0]
    verified = [r for r in rows if r["new_id"] == 700001 and r["indexed_id"] == a_first]
    unverifiable = [r for r in rows if r["new_id"] == 700002 and r["indexed_id"] == b_first]
    assert verified and verified[0]["jaccard_c"] == 10000
    assert unverifiable and unverifiable[0]["jaccard_c"] is None


def test_cli_sample_weights_whitespace_and_curate_lm_flags(capsys, spark, tmp_path):
    """r9 review: comma-space weights specs keep the group; --lm-train
    without a cap and a negative cap both error cleanly."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    src = str(tmp_path / "docs.pq")
    docs.write.parquet(src)
    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    assert len(langs) >= 2
    spec = f"{langs[0]}=10000, {langs[1]}=10000"  # note the space
    rc = cli.main(["sample", "--src", src, "--method", "mixture",
                   "--group-col", "lang", "--weights", spec])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    both = docs.filter(docs.lang.isin(langs[:2])).count()
    assert res["rows"] == both  # full rate on both groups, space stripped

    rc = cli.main(["curate", "--src", src, "--lm-train", src])
    assert rc == 2 and "--max-lm-nll-c" in capsys.readouterr().err
    rc = cli.main(["curate", "--src", src, "--max-lm-nll-c", "-5"])
    assert rc == 2 and "max_lm_nll_c" in capsys.readouterr().err


def test_cli_search_one_shot_and_index_flow(capsys, spark, tmp_path):
    """search subcommand: one-shot BM25 ≡ index-path BM25; build -> append
    -> query over the persistent text index; flag conflicts exit 2."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    src = str(tmp_path / "docs.pq")
    docs.write.parquet(src)

    rc = cli.main(["search", "--src", src, "--query", "data query window", "--k", "3"])
    assert rc == 0
    one_shot = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(one_shot) == 3 and all(r["bm25_c"] > 0 for r in one_shot)

    idx = str(tmp_path / "tix")
    half1, half2 = str(tmp_path / "h1.pq"), str(tmp_path / "h2.pq")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(half1)
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(half2)
    assert cli.main(["search", "--src", half1, "--build-index", idx]) == 0
    capsys.readouterr()
    assert cli.main(["search", "--src", half2, "--append-index", idx]) == 0
    capsys.readouterr()
    rc = cli.main(["search", "--index", idx, "--query", "data query window", "--k", "3"])
    assert rc == 0
    via_index = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert via_index == one_shot  # build+append ≡ whole-corpus one-shot

    # colliding append surfaces as a clean error, not a stack trace
    rc = cli.main(["search", "--src", half1, "--append-index", idx])
    assert rc == 2
    assert "already exist" in capsys.readouterr().err

    # flag conflicts
    assert cli.main(["search", "--query", "x"]) == 2
    assert cli.main(["search", "--src", src, "--build-index", str(tmp_path / "z"),
                     "--out", "q"]) == 2
    assert cli.main(["search", "--src", src, "--index", idx,
                     "--build-index", str(tmp_path / "z2")]) == 2
    capsys.readouterr()


def test_cli_semdedup_and_hotkeys(capsys, spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    src = str(tmp_path / "emb.pq")
    emb.write.parquet(src)
    out = str(tmp_path / "verdicts.pq")
    rc = cli.main(["semdedup", "--src", src, "--k", "3",
                   "--threshold-c", "3000", "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["kept"] + res["dropped"] == res["total"] == 60
    assert spark.read.parquet(out).count() == 60

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(100)
    osrc = str(tmp_path / "orders.pq")
    orders.write.parquet(osrc)
    rc = cli.main(["hotkeys", "--src", osrc, "--keys", "o_orderstatus", "--top-n", "2"])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 2 and rows[0]["rank"] == 1
    assert sum(r["share_bp"] for r in rows) <= 10000


def test_cli_dedup_lines(capsys, spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "only mine\nshared footer"), (2, "shared footer"), (3, "other body")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "d.pq")
    docs.write.parquet(src)
    out = str(tmp_path / "lines.pq")
    rc = cli.main(["dedup", "--src", src, "--lines", "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"mode": "lines", "docs": 3, "out": out}
    got = {r["doc_id"]: r["new_text"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "only mine\nshared footer", 2: "", 3: "other body"}
    # --lines is exclusive with index modes
    assert cli.main(["dedup", "--src", src, "--lines",
                     "--build-index", str(tmp_path / "zz")]) == 2
    capsys.readouterr()


def test_cli_curate_c4_and_blocklist_flags(capsys, spark, tmp_path):
    """--c4-rules / --block-sources append their stages; --block-sources
    without the column exits 2 with a clean error."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_c4.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kept_c4.pq")
    rc = cli.main([
        "curate", "--src", src, "--out", out,
        "--c4-rules", "--c4-min-kept-lines", "1",
        "--block-sources", "no-such-source",
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    stages = [l["stage"] for l in lines if "stage" in l]
    assert stages[-2:] == ["boilerplate", "url_blocklist"]
    blk = [l for l in lines if l.get("stage") == "url_blocklist"][0]
    assert blk["n_dropped"] == 0  # no doc carries the blocked source

    nosrc = str(tmp_path / "docs_nosrc.pq")
    docs.drop("source").write.mode("overwrite").parquet(nosrc)
    rc = cli.main(["curate", "--src", nosrc, "--block-sources", "web"])
    assert rc == 2
    assert "source" in capsys.readouterr().err


def test_cli_tokenize(capsys, spark, tmp_path):
    """tokenize subcommand: trains merges, writes counts (+ids with --ids),
    exports the vocab, packs sequences, and the summary JSON reconciles."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs_tok.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "tokens.pq")
    vocab = str(tmp_path / "vocab.pq")
    rc = cli.main([
        "tokenize", "--src", src, "--out", out, "--vocab-out", vocab,
        "--n-merges", "16", "--vocab-top", "64", "--ids",
        "--pack-seq-len", "64",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_merges"] == 16 and summary["vocab_size"] == 272
    seqs = spark.read.parquet(summary["seqs_out"])
    assert summary["sequences"] == seqs.count() > 0
    # conservation through the CLI: sequences hold exactly the corpus tokens
    total_seq = seqs.agg(F.sum("n_tokens")).collect()[0][0]
    assert total_seq == summary["total_tokens"]
    tok = spark.read.parquet(out)
    assert summary["docs"] == tok.count() == docs.count()
    rows = tok.limit(50).collect()
    assert all(len(r["token_ids"]) == r["n_tokens_subword"] for r in rows)
    v = spark.read.parquet(vocab)
    assert v.count() == 272


def test_cli_dedup_ingest_index_with_labels(capsys, spark, tmp_path):
    """--ingest-index folds watermarked epochs (redelivery no-op) and
    --labels maintains the canonical label table alongside."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    a = str(tmp_path / "ing_a.pq")
    b = str(tmp_path / "ing_b.pq")
    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(a)
    # plant a near-dup across epochs so pairs + labels are non-trivial
    docs.filter("doc_id % 2 = 1").unionByName(
        docs.limit(1).selectExpr("doc_id + 900000 AS doc_id", "text", "lang",
                                 "source", "n_chars")
    ).write.mode("overwrite").parquet(b)
    idx = str(tmp_path / "ing_idx")
    pairs = str(tmp_path / "ing_pairs")
    labels = str(tmp_path / "ing_labels")
    for epoch, src in ((0, a), (1, b)):
        rc = cli.main([
            "dedup", "--src", src, "--ingest-index", idx,
            "--epoch", str(epoch), "--pairs-out", pairs, "--labels", labels,
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["ingested"] is True and out["labels"] == labels
    # redelivered epoch: no-op
    rc = cli.main(["dedup", "--src", b, "--ingest-index", idx,
                   "--epoch", "1", "--labels", labels])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ingested"] is False
    # labels cover the planted duplicate's component
    lab = {r["id"]: r["component"] for r in spark.read.parquet(labels).collect()}
    assert lab  # the planted cross-epoch dup guarantees at least one pair
    assert all(c <= i for i, c in lab.items())  # min-id representatives
    # flag validation
    rc = cli.main(["dedup", "--src", b, "--labels", labels])
    assert rc == 2


def test_cli_chunk(capsys, spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    src = str(tmp_path / "docs_ch.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "chunks.pq")
    rc = cli.main(["chunk", "--src", src, "--out", out,
                   "--max-words", "20", "--overlap", "4"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs"] == 50 and summary["chunks"] >= 50
    rows = spark.read.parquet(out).collect()
    assert all(r["n_chunk_words"] <= 20 for r in rows)
    # validation path
    rc = cli.main(["chunk", "--src", src, "--overlap", "200"])
    assert rc == 2
    assert "overlap" in capsys.readouterr().err


def test_cli_imagehash(capsys, spark, tmp_path):
    from test_multimodal import _gradient_png

    base = _gradient_png(32, 32)
    noisy = _gradient_png(32, 32, noise={(5, 5): 250})
    src = str(tmp_path / "imgs.pq")
    spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(noisy)), (3, bytearray(b"junk"))],
        "doc_id long, payload binary",
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "hashes.pq")
    rc = cli.main(["imagehash", "--src", src, "--out", out, "--pairs"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["images"] == 3 and res["decoded"] == 2
    assert res["pairs"] == 1  # base ~ noisy; junk never pairs
    assert spark.read.parquet(out).count() == 3


def test_cli_imagehash_error_path_releases_hashes(spark, tmp_path, monkeypatch, cache_entries):
    """The persisted hash frame is released when the pair stage raises."""
    from test_dhash_index import _png_rows
    from test_multimodal import _gradient_png

    from tikv_data_compare_spark.operators import multimodal

    src = str(tmp_path / "imgs.pq")
    _png_rows(
        spark, [(1, bytearray(_gradient_png(32, 32))), (2, bytearray(b"junk"))]
    ).write.mode("overwrite").parquet(src)

    def failing_pairs(*a, **kw):
        raise RuntimeError("injected pair failure")

    monkeypatch.setattr(multimodal, "dhash_pairs", failing_pairs)
    before = cache_entries()
    with pytest.raises(RuntimeError, match="injected pair failure"):
        cli.main(["imagehash", "--src", src, "--pairs"])
    assert cache_entries() == before


def test_cli_ingest_and_imagehash_flag_guards(capsys, spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
    src = str(tmp_path / "g.pq")
    docs.write.mode("overwrite").parquet(src)
    # --out with --ingest-index: refused, not silently ignored
    rc = cli.main(["dedup", "--src", src, "--ingest-index", str(tmp_path / "i"),
                   "--out", str(tmp_path / "o")])
    assert rc == 2 and "--out" in capsys.readouterr().err
    # explicit --epoch 0 without --ingest-index: refused (falsy-zero guard)
    rc = cli.main(["dedup", "--src", src, "--epoch", "0"])
    assert rc == 2 and "--ingest-index" in capsys.readouterr().err
    # --pairs-out without --pairs: refused
    rc = cli.main(["imagehash", "--src", src, "--pairs-out", str(tmp_path / "p")])
    assert rc == 2 and "--pairs" in capsys.readouterr().err


def test_cli_imagehash_index_roundtrip(capsys, spark, tmp_path):
    """build-index → append-index → index query through the CLI: the
    persisted-band path finds the same near-dup the batch self-join does."""
    from test_multimodal import _gradient_png

    base = _gradient_png(32, 32)
    noisy = _gradient_png(32, 32, noise={(5, 5): 250})
    corpus = str(tmp_path / "corpus.pq")
    spark.createDataFrame(
        [(1, bytearray(base))], "doc_id long, payload binary"
    ).write.mode("overwrite").parquet(corpus)
    batch = str(tmp_path / "batch.pq")
    spark.createDataFrame(
        [(2, bytearray(noisy)), (3, bytearray(b"junk"))],
        "doc_id long, payload binary",
    ).write.mode("overwrite").parquet(batch)
    idx = str(tmp_path / "dhidx")
    rc = cli.main(["imagehash", "--src", corpus, "--build-index", idx])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["n_docs"] == 1 and built["n_bands"] == 8
    rc = cli.main(["imagehash", "--src", batch, "--index", idx])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["pairs"] == 1  # noisy ~ base; junk undecodable, never pairs
    rc = cli.main(["imagehash", "--src", batch, "--append-index", idx])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["appended"] == 1  # junk's NULL hash never indexes
    # mutual exclusion guard
    rc = cli.main(["imagehash", "--src", batch, "--index", idx,
                   "--build-index", str(tmp_path / "x")])
    assert rc == 2 and "mutually exclusive" in capsys.readouterr().err


def test_cli_sample_dsir(capsys, spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "d.pq")
    docs.select("doc_id", "lang", "text").write.mode("overwrite").parquet(src)
    tgt = str(tmp_path / "t.pq")
    docs.filter("lang = 'en'").select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(tgt)
    out = str(tmp_path / "kept.pq")
    rc = cli.main(["sample", "--src", src, "--method", "dsir",
                   "--target", tgt, "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = spark.read.parquet(out)
    assert 0 < res["rows"] == kept.count() < docs.count()
    assert {"dsir_logw_c", "dsir_u_c"} <= set(kept.columns)
    # missing --target is a loud usage error
    rc = cli.main(["sample", "--src", src, "--method", "dsir"])
    assert rc == 2 and "--target" in capsys.readouterr().err


def test_cli_sample_token_budget(capsys, spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "tbd.pq")
    docs.select("doc_id", "text").write.mode("overwrite").parquet(src)
    out = str(tmp_path / "tbk.pq")
    rc = cli.main(["sample", "--src", src, "--method", "token-budget",
                   "--budget-tokens", "500", "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = spark.read.parquet(out)
    assert 0 < res["rows"] == kept.count() < docs.count()
    assert kept.agg({"tokens_before": "max"}).collect()[0][0] < 500
    # missing --budget-tokens is a loud usage error
    rc = cli.main(["sample", "--src", src, "--method", "token-budget"])
    assert rc == 2 and "--budget-tokens" in capsys.readouterr().err


def test_cli_sample_split(capsys, spark, tmp_path):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "spd.pq")
    docs.select("doc_id", "lang", "text").write.mode("overwrite").parquet(src)
    out = str(tmp_path / "spl.pq")
    rc = cli.main(["sample", "--src", src, "--method", "split", "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(out)
    assert res["rows"] == got.count() == docs.count()  # a labeling, not a filter
    dist = {r["split"]: r["n"] for r in
            got.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(dist) <= {"train", "val", "test"} and dist["train"] > dist.get("val", 0)
    # group-keyed: every lang lands wholly in one split
    out2 = str(tmp_path / "spg.pq")
    rc = cli.main(["sample", "--src", src, "--method", "split",
                   "--fractions", "train=8000,heldout=2000",
                   "--split-group-col", "lang", "--out", out2])
    assert rc == 0
    capsys.readouterr()
    per = spark.read.parquet(out2).groupBy("lang").agg(
        F.countDistinct("split").alias("n")).collect()
    assert per and all(r["n"] == 1 for r in per)
    # --split-dirs: one directory per split, the training-job layout
    out3 = str(tmp_path / "spd_dirs")
    rc = cli.main(["sample", "--src", src, "--method", "split",
                   "--split-dirs", "--out", out3])
    assert rc == 0
    capsys.readouterr()
    import os

    subdirs = {d for d in os.listdir(out3) if d.startswith("split=")}
    assert "split=train" in subdirs and len(subdirs) >= 2
    back = spark.read.parquet(out3)
    assert back.count() == docs.count()
    rc = cli.main(["sample", "--src", src, "--method", "hash",
                   "--split-dirs", "--out", out3])
    assert rc == 2 and "--split-dirs" in capsys.readouterr().err
    # malformed fractions are loud usage errors
    rc = cli.main(["sample", "--src", src, "--method", "split",
                   "--fractions", "train-9000"])
    assert rc == 2 and "NAME=BASIS_POINTS" in capsys.readouterr().err
    rc = cli.main(["sample", "--src", src, "--method", "split",
                   "--fractions", "train=9000,val=500"])
    assert rc == 2 and "10000" in capsys.readouterr().err


def test_cli_bloom(capsys, spark, tmp_path):
    items = spark.createDataFrame([(f"k{i}",) for i in range(40)], "item string")
    src = str(tmp_path / "bl_items.pq")
    items.write.mode("overwrite").parquet(src)
    idx = str(tmp_path / "bl_idx")
    rc = cli.main(["bloom", "--src", src, "--build-index", idx,
                   "--m-bits", str(63 * 64), "--k-hashes", "4"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n_items"] == 40 and res["m_bits"] == 63 * 64
    more = spark.createDataFrame([(f"m{i}",) for i in range(10)], "item string")
    src2 = str(tmp_path / "bl_more.pq")
    more.write.mode("overwrite").parquet(src2)
    rc = cli.main(["bloom", "--src", src2, "--append-index", idx])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["n_items"] == 50
    cand = spark.createDataFrame(
        [("k3",), ("m3",), ("absent-item-xyz",)], "item string"
    )
    src3 = str(tmp_path / "bl_cand.pq")
    cand.write.mode("overwrite").parquet(src3)
    out = str(tmp_path / "bl_out.pq")
    rc = cli.main(["bloom", "--src", src3, "--index", idx, "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 3 and res["flagged"] >= 2
    got = {r["item"]: r["might_contain"]
           for r in spark.read.parquet(out).collect()}
    assert got["k3"] == 1 and got["m3"] == 1
    # exactly one mode flag is required
    rc = cli.main(["bloom", "--src", src])
    assert rc == 2 and "exactly one" in capsys.readouterr().err
    rc = cli.main(["bloom", "--src", src, "--build-index", idx,
                   "--index", idx])
    assert rc == 2 and "exactly one" in capsys.readouterr().err
    # bad geometry is a loud usage error
    rc = cli.main(["bloom", "--src", src, "--build-index", idx,
                   "--m-bits", "10"])
    assert rc == 2 and "m_bits" in capsys.readouterr().err


def test_cli_dedup_subtract(capsys, spark, tmp_path):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "sub_a.pq")
    docs.select("doc_id", "text").write.mode("overwrite").parquet(src)
    other = str(tmp_path / "sub_b.pq")
    docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10**6).alias("doc_id"), "text"
    ).write.mode("overwrite").parquet(other)
    out = str(tmp_path / "sub_out.pq")
    rc = cli.main(["dedup", "--src", src, "--subtract", other, "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n7 = docs.filter(F.col("doc_id") % 7 == 0).count()
    assert res["rows"] == docs.count() and res["in_other"] >= n7
    # bloom mode: identical counts
    rc = cli.main(["dedup", "--src", src, "--subtract", other,
                   "--subtract-bloom-bits", str(63 * 80)])
    assert rc == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["in_other"] == res["in_other"]
    # subtract is its own mode; ingest-family flags are refused too
    rc = cli.main(["dedup", "--src", src, "--subtract", other, "--lines"])
    assert rc == 2 and "own mode" in capsys.readouterr().err
    rc = cli.main(["dedup", "--src", src, "--subtract", other,
                   "--pairs-out", str(tmp_path / "p")])
    assert rc == 2 and "own mode" in capsys.readouterr().err
    # operator validation errors follow the rc-2 stderr contract
    rc = cli.main(["dedup", "--src", src, "--subtract", other,
                   "--subtract-bloom-bits", "10"])
    assert rc == 2 and "m_bits" in capsys.readouterr().err


def test_cli_quality_fit_then_score(capsys, spark, tmp_path):
    """quality subcommand round-trip: fit writes the stamped model parquet
    (threshold in the JSON summary), score applies it to a corpus and
    writes the kept docs; mode validation is loud."""
    clean = ("the quick brown fox jumps over a lazy dog while reading "
             "morning papers in the quiet village library").split()
    junk = "qw3rt zxcv88 plm0k jjjj9 uuu77 m3m3m".split()
    rows = [(i, " ".join(clean[(i * 7 + j) % len(clean)] for j in range(25)))
            for i in range(30)]
    rows += [(100 + i, " ".join(junk[(i * 5 + j) % len(junk)] for j in range(25)))
             for i in range(30)]
    src = str(tmp_path / "docs.pq")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    seed = str(tmp_path / "seed.pq")
    spark.createDataFrame(
        [(r,) for _, r in rows[:15]], "text string"
    ).write.parquet(seed)
    model = str(tmp_path / "model.pq")
    rc = cli.main(["quality", "--src", src, "--seed", seed,
                   "--model-out", model, "--n-buckets", "512"])
    assert rc == 0
    fit = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fit["model"] == model and isinstance(fit["qc_thr_c"], int)

    out = str(tmp_path / "kept.pq")
    rc = cli.main(["quality", "--src", src, "--model", model, "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["n"] == 60 and 0 < res["kept"] < 60
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept_ids == set(range(30))  # clean keep, junk drop

    assert cli.main(["quality", "--src", src, "--seed", seed]) == 2
    assert cli.main(["quality", "--src", src]) == 2


def test_cli_dedup_self_trim(capsys, spark, tmp_path):
    """--self-dedup-trim cuts shared spans out of later docs (r17,
    text.self_dedup_trim) and is exclusive with the other dedup modes."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"alpha head {span} alpha tail"),
            (2, f"beta head {span} beta tail"),
            (3, "totally unrelated text body here"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "d.pq")
    docs.write.parquet(src)
    out = str(tmp_path / "trim.pq")
    rc = cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                   "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 3 and res["docs_cut"] == 1 and res["chars_trimmed"] > 0
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["kept_intact"] and got[3]["kept_intact"]
    assert not got[2]["kept_intact"]
    assert span not in got[2]["text_trimmed"]
    assert got[2]["text_trimmed"].endswith("beta tail")
    # exclusive with the index/lines/subtract modes
    assert cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                     "--lines"]) == 2
    # r18 (ADVICE): the index-flow companions are rejected too, not
    # silently dropped
    assert cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                     "--corpus", src]) == 2
    assert cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                     "--epoch", "3"]) == 2
    assert cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                     "--pairs-out", str(tmp_path / "p.pq")]) == 2
    capsys.readouterr()
    # r18: --only-ids trims just the named docs against the full corpus
    ids_pq = str(tmp_path / "ids.pq")
    spark.createDataFrame([(2,)], "doc_id long").write.parquet(ids_pq)
    out_i = str(tmp_path / "trim_only.pq")
    rc = cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                   "--only-ids", ids_pq, "--out", out_i])
    assert rc == 0
    only = spark.read.parquet(out_i).collect()
    assert [r["doc_id"] for r in only] == [2]
    assert only[0]["text_trimmed"] == got[2]["text_trimmed"]
    capsys.readouterr()
    # r18: --snap word keeps whole words around the splice
    out_w = str(tmp_path / "trim_word.pq")
    rc = cli.main(["dedup", "--src", src, "--self-dedup-trim", "24",
                   "--snap", "word", "--out", out_w])
    assert rc == 0
    got_w = {r["doc_id"]: r for r in spark.read.parquet(out_w).collect()}
    assert span not in got_w[2]["text_trimmed"]
    src_words = set(f"beta head {span} beta tail".split())
    assert set(got_w[2]["text_trimmed"].split()) <= src_words
    capsys.readouterr()


def test_cli_curate_self_dedup_trim_flag(capsys, spark, tmp_path):
    """--self-dedup-trim-span trims survivors' shared spans (a transform —
    the funnel is unchanged) through the curate CLI (r17)."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    good = ("a storm is coming over the hills and the farmers are bringing "
            "in the harvest before the rain starts to fall on open fields")
    other = ("the old lighthouse keeper walks along the shore every evening "
             "and he watches the ships as they pass by the rocky coast")
    docs = spark.createDataFrame(
        [(1, f"{good} {span}"), (2, f"{other} {span}")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.pq")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kept.pq")
    rc = cli.main([
        "curate", "--src", src, "--out", out,
        "--self-dedup-trim-span", "24",
        "--near-dup-jaccard-c", "10001", "--max-dup-word-frac-c", "10000",
        "--max-top-bigram-frac-c", "10000",
    ])
    assert rc == 0
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2}          # transform, not a gate
    assert span in got[1]               # earlier carrier keeps its span
    assert span not in got[2]           # later doc trimmed
    capsys.readouterr()
    # r18: the word-snap knob threads through; no word fragments survive
    out2 = str(tmp_path / "kept2.pq")
    rc = cli.main([
        "curate", "--src", src, "--out", out2,
        "--self-dedup-trim-span", "24", "--self-dedup-trim-snap", "word",
        "--near-dup-jaccard-c", "10001", "--max-dup-word-frac-c", "10000",
        "--max-top-bigram-frac-c", "10000",
    ])
    assert rc == 0
    got2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out2).collect()}
    assert span not in got2[2]
    words_in = set(f"{other} {span}".split())
    assert set(got2[2].split()) <= words_in  # every surviving token is a word
    capsys.readouterr()
