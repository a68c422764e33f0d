"""Similarity search tests: numpy path ≡ SQL path, metamorphic duplicates."""

import pytest
from pyspark.sql import Window, functions as F

from tikv_data_compare_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def emb(embeddings):
    return embeddings.cache()


def topk_bruteforce_sql(emb, k: int = 5, n_queries: int = 10):
    """Pure-SQL exact cosine top-k (norms precomputed once per side): the
    reference the numpy scan of ``topk_bruteforce`` is checked against."""
    with_norm = emb.withColumn("nrm", F.expr(f"sqrt({sim._dot('embedding', 'embedding')})"))
    q = with_norm.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    joined = with_norm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "CAST(ROUND(10000.0 * " + sim._dot("q_emb", "embedding") + " / (q_nrm * nrm)) AS BIGINT)"
        ).alias("cosine_c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_c"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_c", "rnk")
    )


def test_numpy_equals_sql_path(emb):
    np_rows = sorted(map(tuple, sim.topk_bruteforce(emb, k=5, n_queries=5).collect()))
    sql_rows = sorted(map(tuple, topk_bruteforce_sql(emb, k=5, n_queries=5).collect()))
    assert np_rows == sql_rows


def test_topk_excludes_self_and_respects_k(emb):
    out = sim.topk_bruteforce(emb, k=3, n_queries=4).cache()
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in per_q)
    assert out.filter(F.col("rnk") > 3).count() == 0


def test_planted_duplicate_is_top1(spark, emb):
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(777777))
    planted = emb.unionByName(dup)
    out = sim.topk_bruteforce(planted, k=1, n_queries=1).collect()
    assert out[0]["neighbor_id"] == 777777
    assert out[0]["cosine_c"] == 10000  # cosine(v, v) == 1


def test_lsh_recall_reasonable(emb):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_lsh(emb, k=5, n_queries=5, n_planes=2).collect()
    }
    # 2 planes → 4 buckets → recall well above chance; sanity floor only
    assert len(approx & exact) >= len(exact) // 4


def test_embed_dup_fingerprints(spark, emb):
    base = sim.embedding_exact_dup(emb)
    assert base.filter(F.col("n_dups") > 1).count() == 0  # fixture unique
    planted = emb.unionByName(
        emb.filter(F.col("vec_id") == 1).withColumn("vec_id", F.lit(888888))
    )
    dups = sim.embedding_exact_dup(planted).filter(F.col("n_dups") == 2)
    assert dups.count() == 1
    assert dups.collect()[0]["keep_vec_id"] == 1


def test_topk_large_k_equals_sql_path(emb):
    """k above the old per-batch 64-candidate cap must still match the exact
    SQL path (VERDICT r2 item 7)."""
    np_rows = sorted(map(tuple, sim.topk_bruteforce(emb, k=100, n_queries=2).collect()))
    sql_rows = sorted(map(tuple, topk_bruteforce_sql(emb, k=100, n_queries=2).collect()))
    assert len(np_rows) == 200
    assert np_rows == sql_rows


def test_zero_norm_pairs_score_null_like_sql(spark):
    """A zero-norm vector has no cosine: with one planted as a query and one
    as a corpus row, and k reaching every candidate, the numpy scan scores
    those pairs NULL and ranks them after every non-null score, exactly like
    the SQL reference (and DuckDB, where x / 0.0 is NULL too)."""
    import numpy as np

    vecs = np.random.RandomState(5).standard_normal((60, 8))
    vecs[0] = 0.0  # zero-norm query
    vecs[37] = 0.0  # zero-norm corpus row
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(60)], "vec_id long, embedding array<double>"
    )

    def rows(df):
        return sorted(map(tuple, df.collect()), key=lambda r: (r[0], r[1]))

    got = rows(sim.topk_bruteforce(emb, k=60, n_queries=2))
    assert got == rows(topk_bruteforce_sql(emb, k=60, n_queries=2))
    assert len(got) == 2 * 59
    assert all(r[2] is None for r in got if r[0] == 0)  # query 0: every pair NULL
    last = [r for r in got if r[0] == 1 and r[3] >= 58]  # query 1: NULLs rank last
    assert sorted((r[1], r[2]) for r in last) == [(0, None), (37, None)]


def test_lsh_buckets_high_dim_plan_builds(spark):
    """dim=512 LSH bucketing must execute — the matmul path has O(1) plan
    size, unlike the old O(dim×planes) generated SQL."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.standard_normal((40, 512))
    rows = [(i, base[i].tolist()) for i in range(40)]
    # plant one near-dup: vec 100 = vec 0 + tiny noise
    rows.append((100, (base[0] + 0.01 * rng.standard_normal(512)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bucketed = sim.lsh_buckets(emb, n_planes=12, n_tables=2)
    assert bucketed.count() == 82  # one row per (vector, table)
    pairs = sim.embedding_near_dup(emb, threshold_c=9000, n_planes=12, n_tables=2)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    assert (0, 100) in got


def test_near_dup_auto_planes_scales_with_corpus():
    assert sim.auto_planes(500) == 2          # small corpus → floor
    assert sim.auto_planes(256 * (2**10)) == 10
    assert sim.auto_planes(10**9) == 22
    assert sim.auto_planes(10**12) == 24      # capped


def test_lsh_buckets_rejects_existing_bucket_column(spark, emb):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket"):
        sim.lsh_buckets(emb.withColumn("bucket", F.lit(1)))
    with _pytest.raises(ValueError, match="bucket"):
        sim.lsh_buckets(emb.withColumnRenamed("embedding", "bucket"), vec_col="bucket")


def test_lsh_buckets_explicit_dim_matches_probed(spark, emb):
    probed = sim.lsh_buckets(emb, n_planes=4)
    given = sim.lsh_buckets(emb, n_planes=4, dim=len(emb.first()["embedding"]))
    assert sorted(r["bucket"] for r in probed.collect()) == sorted(
        r["bucket"] for r in given.collect()
    )


def test_ivf_exhaustive_probe_equals_bruteforce(spark, emb):
    """n_probe = n_cells scores every cell → must equal exact brute force."""
    exact = sim.topk_bruteforce(emb, k=5, n_queries=5)
    ivf = sim.topk_ivf(emb, k=5, n_queries=5, n_cells=4, n_probe=4)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


def test_ivf_selective_probe_recall(spark, emb):
    """Probing half the cells keeps useful recall vs exact top-5 and returns
    exactly k ranked rows per query."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=5).collect()
    }
    rows = sim.topk_ivf(emb, k=5, n_queries=5, n_cells=8, n_probe=4).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.4, recall
    from collections import Counter

    per_q = Counter(r["query_id"] for r in rows)
    assert all(v == 5 for v in per_q.values())


def test_ivf_deterministic(spark, emb):
    a = sim.topk_ivf(emb, k=3, n_queries=3, n_cells=4, n_probe=2).collect()
    b = sim.topk_ivf(emb, k=3, n_queries=3, n_cells=4, n_probe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_embedding_dedup_canonical_chain_and_singleton(spark):
    """Near-dup pairs → transitive components → kept/dropped verdicts: a
    tight 3-vector cluster collapses to its minimum id, an orthogonal
    vector keeps itself (deterministic: seeded planes, fixed vectors)."""
    from tikv_data_compare_spark.operators.similarity import embedding_dedup_canonical

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),
        (2, [0.998, 0.06, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["component"], r["kept"])
        for r in embedding_dedup_canonical(
            emb, threshold_c=9900, n_planes=2, dim=4
        ).collect()
    }
    assert out[0] == (0, 1)
    assert out[1] == (0, 0) and out[2] == (0, 0)
    assert out[10] == (10, 1)


def test_topk_boundary_tie_determinism(spark):
    """200 identical vectors → every candidate ties at the per-batch cut.
    The kept top-k must be the smallest neighbor ids regardless of how
    argpartition orders the tie, per the (score desc, id asc) contract."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    out = sim.topk_bruteforce(df, k=5, n_queries=1).orderBy("rnk").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3, 4, 5]
    assert all(r["cosine_c"] == 10000 for r in out)


def test_lsh_projection_is_left_to_right_bit_exact(spark):
    """lsh_buckets' sign bits must equal a pure-Python LEFT-TO-RIGHT float64
    accumulation of v[i]*plane[i][j] — the evaluation order the SQL oracle
    uses — bit-for-bit, so a projection near 0 can't flip sign across
    engines."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim, n, planes_n, tables = 16, 64, 6, 2
    vecs = rng.standard_normal((n, dim)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {}
    for r in (
        sim.lsh_buckets(df, n_planes=planes_n, n_tables=tables, seed=3, dim=dim)
        .select("vec_id", "bucket")
        .collect()
    ):
        got.setdefault(r["vec_id"], set()).add(r["bucket"])
    planes = sim._plane_matrix(dim, planes_n, tables, 3)
    want = {}
    for i in range(n):
        for t in range(tables):
            bits = 0
            for p in range(planes_n):
                j = t * planes_n + p
                acc = 0.0
                for c in range(dim):  # strict left-to-right, one add per term
                    acc = acc + float(vecs[i][c]) * float(planes[c, j])
                if acc >= 0.0:
                    bits |= 1 << p
            want.setdefault(i, set()).add((t << planes_n) | bits)
    assert got == want


def test_topk_n_queries_ceiling(spark, emb):
    """The ceiling binds on rows actually collected, not the vec_id
    threshold (r7, ADVICE): a sparse-id corpus passing a huge threshold is
    fine; >16384 matching rows raises before the matrix materializes."""
    # sparse corpus: threshold far above the ceiling, only a handful of rows
    sparse = emb.limit(8)
    out = sim.topk_bruteforce(sparse, k=3, n_queries=sim.MAX_COLLECTED_QUERIES + 100)
    assert out.count() == 8 * 3
    # dense synthetic corpus: one row over the ceiling must raise
    dense = spark.range(sim.MAX_COLLECTED_QUERIES + 1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="driver-collect ceiling"):
        sim._collect_queries(dense, sim.MAX_COLLECTED_QUERIES + 1)
    with pytest.raises(ValueError, match="driver-collect ceiling"):
        sim.topk_bruteforce(dense, k=5, n_queries=sim.MAX_COLLECTED_QUERIES + 1)
