"""Product-quantization ANN: codebook determinism, code compactness, ADC
recall vs the exact operator, and the degenerate-exact case."""

import pytest

from tikv_data_compare_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def emb(embeddings):
    return embeddings.cache()


def test_train_pq_shape_and_determinism(emb):
    import numpy as np

    b1 = sim.train_pq(emb, m=8, k_codes=16, sample_rows=512, seed=3)
    b2 = sim.train_pq(emb, m=8, k_codes=16, sample_rows=512, seed=3)
    assert b1.shape == (8, 16, 8)  # 64-dim fixture / m=8
    assert np.array_equal(b1, b2)
    b3 = sim.train_pq(emb, m=8, k_codes=16, sample_rows=512, seed=4)
    assert not np.array_equal(b1, b3)  # seed actually steers init

    with pytest.raises(ValueError, match="dim % m"):
        sim.train_pq(emb, m=7)


def test_pq_encode_is_m_bytes_per_vector(spark, emb):
    books = sim.train_pq(emb, m=8, k_codes=16, sample_rows=512, seed=3)
    bc = spark.sparkContext.broadcast(books)
    coded = sim.pq_encode(emb.select("vec_id", "embedding"), bc)
    rows = coded.select("vec_id", "pq_code").limit(20).collect()
    assert rows and all(len(bytes(r["pq_code"])) == 8 for r in rows)
    assert coded.count() == emb.count()  # every vector encoded, none dropped
    # deterministic: re-encoding yields identical codes
    again = {r["vec_id"]: bytes(r["pq_code"]) for r in coded.limit(20).collect()}
    assert all(again[r["vec_id"]] == bytes(r["pq_code"]) for r in rows)


def test_topk_pq_recall_vs_bruteforce(emb):
    """The refine recipe (cheap m=8/k=32 codes + exact re-rank of the ADC
    top-100 shortlist) must hold high overlap with exact cosine top-5;
    pure ADC keeps a weaker-but-real floor at finer quantization."""
    n_q, k = 10, 5
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(emb, k=k, n_queries=n_q).collect()
    }
    approx_rows = sim.topk_pq(emb, k=k, n_queries=n_q, m=8, k_codes=32, rerank=100).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert len(approx) == n_q * k
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall
    # contract bits: no self-matches, ranks are 1..k per query
    by_q = {}
    for r in approx_rows:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, k + 1)) for v in by_q.values())

    pure_adc = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_pq(emb, k=k, n_queries=n_q, m=16, k_codes=256).collect()
    }
    assert len(exact & pure_adc) / len(exact) >= 0.35


def test_topk_pq_exact_when_codebook_covers_corpus(spark):
    """A corpus built from k_codes distinct subvectors per subspace is
    losslessly quantizable: with the sample covering the whole corpus, ADC
    ranking must equal exact cosine ranking."""
    import random

    rng = random.Random(5)
    # unit-norm prototypes: every combination then has the same full-vector
    # norm, so L2-normalizing the full vector scales each subvector by the
    # SAME constant and the subspace alphabet stays exactly 4 points
    protos = []
    for _ in range(4):
        p = [rng.uniform(-1, 1) for _ in range(4)]
        n = sum(v * v for v in p) ** 0.5
        protos.append([v / n for v in p])
    rows = []
    for vid in range(40):
        v = protos[vid % 4] + protos[(vid // 4) % 4]
        rows.append((vid, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = [
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_bruteforce(df, k=3, n_queries=4).collect()
    ]
    # k_codes=8 >= 4 distinct prototypes per subspace; sample covers all 40
    approx = [
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_pq(df, k=3, n_queries=4, m=2, k_codes=8, sample_rows=40).collect()
    ]
    assert sorted(exact) == sorted(approx)


def test_train_pq_validates_inputs(spark, emb):
    with pytest.raises(ValueError, match="k_codes"):
        sim.train_pq(emb, k_codes=512)  # uint8 codes: >256 would wrap
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        sim.train_pq(empty)


@pytest.mark.parametrize("k_codes", [1, 300])
def test_every_pq_trainer_checks_k_codes_before_any_job(spark, emb, tmp_path, k_codes):
    """The uint8 codes hold 2..256 codebook entries; every PQ-training path
    rejects other sizes before its sample collect, so no Spark job runs
    (300 would otherwise train and wrap its codes silently).  The IVFPQ
    paths take ``n_probe='auto'``, whose corpus count also comes after."""
    from tikv_data_compare_spark.operators import ann_index as ai

    calls = {
        "train_pq": lambda: sim.train_pq(emb, k_codes=k_codes),
        "topk_ivfpq": lambda: sim.topk_ivfpq(emb, n_probe="auto", k_codes=k_codes),
        "topk_ivfpq_join": lambda: sim.topk_ivfpq_join(
            emb, _qdf(emb, 4), n_probe="auto", k_codes=k_codes
        ),
        "build_ann_index": lambda: ai.build_ann_index(
            emb, str(tmp_path / "idx"), k_codes=k_codes
        ),
    }
    sc = spark.sparkContext
    for name, call in calls.items():
        group = f"k_codes_check_{name}_{k_codes}"
        sc.setJobGroup(group, "k_codes validation must be job-free")
        try:
            with pytest.raises(ValueError, match="k_codes"):
                call()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == [], f"{name} ran jobs before rejecting k_codes: {jobs}"


def test_topk_pq_rerank_covering_corpus_equals_bruteforce(emb):
    """rerank >= corpus size makes the refine stage exact-score every ADC
    candidate, so the result must equal brute force EXACTLY — pins the
    per-batch candidate cap covering the rerank shortlist, not just k."""
    n = emb.count()
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=6).collect()
    )
    refined = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_pq(emb, k=5, n_queries=6, m=8, k_codes=16, rerank=n).collect()
    )
    assert exact == refined


def test_topk_ivfpq_exhaustive_equals_bruteforce(emb):
    """n_probe >= n_cells + rerank >= corpus: IVFPQ degenerates to exact
    brute force — the composed operator's correctness contract."""
    n = emb.count()
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=6).collect()
    )
    composed = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_ivfpq(
            emb, k=5, n_queries=6, n_cells=8, n_probe=8, m=8, k_codes=16, rerank=n
        ).collect()
    )
    assert exact == composed


def test_topk_ivfpq_selective_probe_recall_and_pruning(spark, emb):
    """Probing a minority of cells keeps useful recall AND provably scores
    fewer candidates than the full corpus x queries product."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=10).collect()
    }
    got_rows = sim.topk_ivfpq(
        emb, k=5, n_queries=10, n_cells=16, n_probe=8, m=8, k_codes=32, rerank=100
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}
    assert len(got) == 50
    recall = len(exact & got) / len(exact)
    assert recall >= 0.4, recall
    # ranks well-formed per query
    by_q = {}
    for r in got_rows:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_resolve_n_probe_contract():
    """'auto' probe sizing: sparse cells probe MORE cells (the r8 0.46-vs-
    0.98 recall gap was under-probing at ~125 rows/cell), dense corpora
    keep the n_cells/4 floor, tiny corpora degenerate to exhaustive, and a
    plain int passes through untouched."""
    assert sim.resolve_n_probe(4, 0, 16) == 4
    assert sim.resolve_n_probe(99, 0, 16) == 99  # callers clamp to n_cells
    # bench geometry: 2k vectors / 16 cells = 125 rows/cell -> a corpus
    # this small degenerates to exhaustive probing (= exact search; 9/16
    # probes measured only 0.62 recall in r9 — tiny corpora shouldn't
    # sub-probe)
    sparse = sim.resolve_n_probe("auto", 2000, 16)
    # sf1 geometry: 20k vectors / 16 cells = 1250 rows/cell -> density floor
    dense = sim.resolve_n_probe("auto", 20000, 16)
    assert sparse == 16 and dense == 4
    assert sparse > dense
    # a big rerank shortlist widens the target candidate pool
    assert sim.resolve_n_probe("auto", 20000, 16, rerank=2000) > dense
    # tiny corpus: every cell probed == exact search
    assert sim.resolve_n_probe("auto", 100, 16) == 16
    # monotone in corpus size (never probes MORE as cells densify)
    probes = [sim.resolve_n_probe("auto", n, 16) for n in (500, 2000, 8000, 32000)]
    assert probes == sorted(probes, reverse=True)


def test_topk_ivfpq_autoprobe_recall(emb):
    """End-to-end 'auto': on the sparse test fixture the heuristic probes
    enough cells that IVFPQ + full rerank reproduces brute force exactly,
    and never does worse than a deliberately starved fixed probe."""
    n = emb.count()
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=8).collect()
    )
    auto_rows = sim.topk_ivfpq(
        emb, k=5, n_queries=8, n_cells=16, n_probe="auto", m=8, k_codes=32, rerank=n
    ).collect()
    auto = sorted((r["query_id"], r["neighbor_id"], r["rnk"]) for r in auto_rows)
    assert auto == exact
    exact_set = {(q, nb) for q, nb, _ in exact}
    starved = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_ivfpq(
            emb, k=5, n_queries=8, n_cells=16, n_probe=1, m=8, k_codes=32, rerank=n
        ).collect()
    }
    auto_set = {(q, nb) for q, nb, _ in auto}
    assert len(auto_set & exact_set) >= len(starved & exact_set)


# ---------------------------------------------------------------------------
# DataFrame-query join path: the shape past the 16k driver-collect ceiling
# ---------------------------------------------------------------------------


def _qdf(emb, n):
    from pyspark.sql import functions as F

    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_topk_ivf_join_exhaustive_equals_bruteforce(emb):
    """n_probe >= n_cells: the cell equi-join sees every (query, vector)
    pair, so the join path must equal exact brute force — including the
    rounded score values, which both paths compute the same way."""
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_c"], r["rnk"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=6).collect()
    )
    joined = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_c"], r["rnk"])
        for r in sim.topk_ivf_join(emb, _qdf(emb, 6), k=5, n_cells=8, n_probe=8).collect()
    )
    assert exact == joined


def test_topk_ivfpq_join_exhaustive_rerank_equals_bruteforce(emb):
    """n_probe >= n_cells + rerank >= corpus: the DataFrame-query IVFPQ path
    degenerates to exact brute force, like the broadcast path."""
    n = emb.count()
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=6).collect()
    )
    composed = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_ivfpq_join(
            emb, _qdf(emb, 6), k=5, n_cells=8, n_probe=8, m=8, k_codes=16, rerank=n
        ).collect()
    )
    assert exact == composed


def test_topk_ivfpq_join_adc_only_recall(emb):
    """Without rerank, the join path returns ADC-ranked candidates from the
    probed cells only — recall floor plus well-formed ranks."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(emb, k=5, n_queries=10).collect()
    }
    rows = sim.topk_ivfpq_join(
        emb, _qdf(emb, 10), k=5, n_cells=16, n_probe=8, m=16, k_codes=256
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(exact & got) / len(exact) >= 0.35
    by_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_join_path_has_no_collect_ceiling(emb, monkeypatch):
    """Query sets the broadcast operators REJECT stream through the join
    path: with the ceiling patched below the query count, topk_ivf raises
    while topk_ivf_join returns the identical exact result."""
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_bruteforce(emb, k=3, n_queries=8).collect()
    )
    monkeypatch.setattr(sim, "MAX_COLLECTED_QUERIES", 4)
    with pytest.raises(ValueError, match="driver-collect ceiling"):
        sim.topk_ivf(emb, k=3, n_queries=8, n_cells=8, n_probe=8).collect()
    joined = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in sim.topk_ivf_join(emb, _qdf(emb, 8), k=3, n_cells=8, n_probe=8).collect()
    )
    assert exact == joined


def test_join_path_exclude_self_for_external_queries(spark, emb):
    """External query sets have unrelated id spaces: with
    exclude_self=False an id collision must NOT hide a corpus vector,
    and the ADC ranking may legitimately return the colliding id."""
    from pyspark.sql import functions as F

    # external queries numbered 0..2 — ids collide with corpus vec_ids
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = emb.count()
    incl = sim.topk_ivf_join(
        emb, q, k=1, n_cells=4, n_probe=4, exclude_self=False
    ).collect()
    # each query IS a corpus vector: with self included, its own vector is
    # the exact top-1 (cosine 1.0 -> 10000)
    assert {(r["query_id"], r["neighbor_id"]) for r in incl} == {(i, i) for i in range(3)}
    assert all(r["cosine_c"] == 10000 for r in incl)
    excl = sim.topk_ivf_join(emb, q, k=1, n_cells=4, n_probe=4).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in excl)
