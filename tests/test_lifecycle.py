"""Resource lifetime in a shared session (session.py module docstring):
an operator call leaves no CacheManager entry behind, also when it raises,
and concurrent callers on one session get the results of a serial run."""

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from test_curate import _docs
from test_sampling import _curate_dsir_corpus, _dsir_corpus, _qc_corpus

from tikv_data_compare_spark import queries_ext as qe
from tikv_data_compare_spark.operators import sampling as sp
from tikv_data_compare_spark.operators import similarity as sim
from tikv_data_compare_spark.operators.curate import curate

@pytest.fixture(autouse=True)
def _narrow_shuffles(spark):
    """Tiny fixtures: wide shuffles are pure scheduler overhead here."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _dsir_target(docs):
    return docs.filter(F.col("doc_id") % 2 == 0)


def _qc_seed(docs):
    return docs.filter((F.col("kind") == "clean") & (F.col("doc_id") < 20)).select("text")


def _curate_kept(kept) -> int:
    # the persisted kept frame is the caller's handle
    assert kept.is_cached
    n = kept.count()
    kept.unpersist()
    return n


CASES = {
    "dsir_weights": lambda spark: sp.dsir_weights(
        _dsir_corpus(spark), _dsir_target(_dsir_corpus(spark)), n_buckets=512
    ).count(),
    "dsir_sample": lambda spark: sp.dsir_sample(
        _dsir_corpus(spark), _dsir_target(_dsir_corpus(spark)), n_buckets=512
    ).count(),
    "quality_classifier": lambda spark: sp.quality_classifier(
        _qc_corpus(spark).select("doc_id", "text"), _qc_seed(_qc_corpus(spark)),
        n_buckets=512,
    ).count(),
    "q_text_fingerprints": lambda spark: qe.q_text_fingerprints(spark, SF_DIR).count(),
    "q_sampling": lambda spark: qe.q_sampling(spark, SF_DIR).count(),
    "curate_dsir_target": lambda spark: _curate_kept(curate(
        _curate_dsir_corpus(spark, 20),
        dsir_target=_dsir_target(_curate_dsir_corpus(spark, 20)),
    )[0]),
    "curate_quality_seed": lambda spark: _curate_kept(curate(
        _qc_corpus(spark).select("doc_id", "text"),
        quality_seed=_qc_seed(_qc_corpus(spark)),
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
    )[0]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_call_leaves_cache_manager_as_it_was(spark, cache_entries, name):
    """The operator's caches are released before it returns; what its
    lazy result still needs is checkpointed into it, so the result still
    evaluates (the count runs after the release)."""
    before = cache_entries()
    assert CASES[name](spark) > 0
    assert cache_entries() == before


@pytest.mark.parametrize("crawl", [False, True], ids=["shared_explode", "explicit_crawl"])
def test_quality_classifier_training_error_leaves_no_cache(
    spark, cache_entries, monkeypatch, crawl
):
    def failing_train(*a, **kw):
        raise RuntimeError("injected training failure")

    monkeypatch.setattr(sp, "_qc_train", failing_train)
    docs = _qc_corpus(spark)
    before = cache_entries()
    with pytest.raises(RuntimeError, match="injected training failure"):
        sp.quality_classifier(
            docs.select("doc_id", "text"), _qc_seed(docs),
            crawl=docs.select("text") if crawl else None, n_buckets=512,
        )
    assert cache_entries() == before


def test_concurrent_curate_and_topk_lsh_match_serial(spark, embeddings):
    """curate and an ANN query sharing one session: neither caller's
    cleanup reaches the other's state, so running them on two threads
    gives byte-identical results to running them one after the other."""
    emb = embeddings.filter(F.col("vec_id") < 80)

    def run_curate():
        kept, attrition = curate(_docs(spark))
        try:
            return (
                sorted(map(tuple, kept.collect())),
                sorted(map(tuple, attrition.collect())),
            )
        finally:
            kept.unpersist()

    def run_topk():
        return sorted(map(tuple, sim.topk_lsh(emb, k=3, n_queries=8, n_planes=2).collect()))

    serial = (run_curate(), run_topk())
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cur, f_topk = pool.submit(run_curate), pool.submit(run_topk)
        concurrent = (f_cur.result(timeout=600), f_topk.result(timeout=600))
    assert repr(concurrent) == repr(serial)
    assert serial[0][0] and serial[1]
