"""Plan-quality tests: the scale-critical physical-plan properties.

These assert the plans we designed for (SURVEY.md §4): range predicates reach
the parquet scan, checksums use partial→final aggregation, keyed diff uses a
real join strategy (never cartesian), LSH candidate generation is an
equi-join.
"""

from pyspark.sql import functions as F

from tikv_data_compare_spark import plans
from tikv_data_compare_spark.model import Keyed
from tikv_data_compare_spark.operators import dedup as dd
from tikv_data_compare_spark.operators.checksum import checksum, compare_checksum
from tikv_data_compare_spark.operators.diff import diff


def test_range_filter_pushed_to_scan(spark, lineitem):
    k = Keyed.of(lineitem, keys=("l_orderkey",)).in_range(100, 200)
    assert plans.has_pushed_filter(k.df, "l_orderkey")


def test_column_pruning_reaches_scan(spark, lineitem):
    two = lineitem.select("l_orderkey", "l_quantity")
    s = plans.plan_string(two)
    read_schema = [l for l in s.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_partkey" not in read_schema[0]


def test_checksum_uses_partial_aggregation(kv_pair):
    src, _ = kv_pair
    assert plans.has_partial_aggregation(checksum(src))
    assert plans.has_partial_aggregation(compare_checksum(src, src))
    # the 2-row report is ordered in one partition, not range-sorted
    assert "rangepartitioning" not in plans.plan_string(compare_checksum(src, src)).lower()


def test_diff_join_strategy_no_cartesian(kv_pair):
    src, dst = kv_pair
    d = diff(src, dst)
    strategies = plans.join_strategies(d)
    assert not plans.has_cartesian(d)
    assert strategies & {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}


def test_minhash_pairs_equi_join(documents):
    pairs = dd.minhash_pairs(documents.limit(50), "doc_id", "text")
    assert not plans.has_cartesian(pairs)
    assert plans.join_strategies(pairs) & {
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastHashJoin",
    }


def _synth_docs(spark):
    """A doc frame whose source already has defaultParallelism partitions
    (spark.range), so ``session.scale_out`` is a no-op and any Exchange in a
    downstream plan was introduced by the operator under test."""
    return spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha"),
            (F.col("id") % 7).cast("string"),
            F.lit("beta gamma delta epsilon"),
        ).alias("text"),
    )


def test_minhash_signatures_zero_shuffle(spark):
    """r7 map-side signatures: the whole signature computation (shingles,
    hashes, 8 permutation minima) must stay in the scan stage — no Exchange
    anywhere in the plan.  The r6 explode→distinct→groupBy shape shuffled
    O(total shingles) rows twice before LSH even started; this pins the
    rewrite so it cannot silently regress."""
    sig = dd.minhash_signatures(_synth_docs(spark), "doc_id", "text")
    assert "Exchange" not in plans.plan_string(sig)


def test_simhash_zero_shuffle(spark):
    """Same pin for the map-side simhash per-bit folds."""
    sig = dd.simhash(_synth_docs(spark), "doc_id", "text")
    assert "Exchange" not in plans.plan_string(sig)


def test_text_fingerprints_zero_shuffle(spark):
    """Map-side XOR fingerprint, winnowing, and repetition stats: no
    Exchange in any plan (winnow's only explode is the final fan-out of the
    per-doc fingerprint set, which needs no shuffle)."""
    from tikv_data_compare_spark.operators import text as tx

    docs = _synth_docs(spark)
    assert "Exchange" not in plans.plan_string(tx.fingerprint(docs, "doc_id", "text"))
    assert "Exchange" not in plans.plan_string(
        tx.winnow_fingerprints(docs, "doc_id", "text")
    )
    assert "Exchange" not in plans.plan_string(
        tx.repetition_stats(docs, "doc_id", "text")
    )


def test_analytic_joins_broadcast_dims(spark):
    import os

    from tikv_data_compare_spark.queries import q_join_region_revenue, q_join_revenue_topn

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    for q in (q_join_revenue_topn, q_join_region_revenue):
        df = q(spark, sf)
        assert "BroadcastHashJoin" in plans.join_strategies(df), q.__name__
        assert not plans.has_cartesian(df)


def test_broadcast_used_for_small_dim(spark, lineitem):
    small = spark.createDataFrame([(1,)], "l_orderkey long")
    j = lineitem.join(F.broadcast(small), "l_orderkey")
    assert "BroadcastHashJoin" in plans.join_strategies(j)


def _simple(df):
    return plans.plan_string(df, "simple")


def test_hash_sample_is_map_only(spark, documents):
    """Deterministic sampling must stay a narrow scan→project→filter plan:
    zero shuffles at any corpus size."""
    from tikv_data_compare_spark.operators.sampling import hash_sample

    s = _simple(hash_sample(documents.select("doc_id", "text"), "text", pct=10))
    assert "Exchange" not in s


def test_quantiles_single_shuffle(spark):
    """Rank + group-count + final agg all reuse ONE hash partitioning on the
    group key — exactly one Exchange in the whole plan."""
    import os

    from tikv_data_compare_spark.queries import q_quantiles

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    s = _simple(q_quantiles(spark, sf))
    assert s.count("Exchange") == 1, s


def test_fk_orphans_anti_join_no_cartesian(spark):
    import os

    from tikv_data_compare_spark.queries import q_fk_orphans

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = q_fk_orphans(spark, sf)
    s = _simple(df)
    assert "LeftAnti" in s
    assert not plans.has_cartesian(df)


def test_profile_orders_one_scan_one_expand(spark):
    """The multi-distinct profile reads orders ONCE (Expand fans out the
    distinct groups), instead of one scan per profiled column."""
    import os

    from tikv_data_compare_spark.queries import q_profile_orders

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    s = _simple(q_profile_orders(spark, sf))
    assert s.count("Scan parquet") == 1, s
    assert "Expand" in s


def test_runtime_bloom_filter_prunes_join(spark):
    """With runtime Bloom pruning enabled, a selective non-broadcast join
    must inject a bloom_filter_agg on the selective side — the row-level
    scan pruning that matters at fact-table scale."""
    import os

    from tikv_data_compare_spark.session import enable_runtime_bloom

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_bloom(spark)
        # tiny local fixtures need the size gates opened to see the rewrite
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select("l_orderkey", "o_totalprice")
        assert "bloom_filter_agg" in plans.plan_string(j, "formatted")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_scan_prunes_partitions(spark):
    """The hive-partitioned layout must answer a partition-column filter by
    directory pruning: the filter appears as PartitionFilters on the scan
    (not a post-scan data Filter over all partitions)."""
    import os

    from tikv_data_compare_spark.queries_more import q_partitioned_prune

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    s = plans.plan_string(q_partitioned_prune(spark, sf), "formatted")
    pf = [l for l in s.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderpriority" in pf[0], s


def test_funnel_two_exchanges_only(spark):
    """Four cascaded window-mins + per-user groupBy share ONE user_id
    partitioning; only the final scalar rollup adds a single-partition
    exchange — 2 Exchanges total regardless of stage count."""
    import os

    from tikv_data_compare_spark.queries_more import q_events_funnel

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    s = _simple(q_events_funnel(spark, sf))
    assert s.count("Exchange") == 2, s


def test_repair_plan_single_join(spark):
    """repair_plan is one full-outer join read twice (upserts + deletes),
    never a cartesian; the union must not introduce extra joins."""
    import os

    from tikv_data_compare_spark.queries_more import q_diff_repair

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = q_diff_repair(spark, sf)
    assert not plans.has_cartesian(df)
    assert plans.join_strategies(df) & {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}


def test_tfidf_broadcasts_doc_frequency(spark, documents):
    """The document-frequency table (≤ vocabulary size) must broadcast back
    onto the (doc, term) counts — no shuffle of the big side for the idf
    join."""
    from tikv_data_compare_spark.operators.text import tfidf_top_terms

    df = tfidf_top_terms(documents.select("doc_id", "text"))
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    # the scalar N-docs factor joins as a 1-row broadcast (BNLJ), never a
    # shuffled cartesian
    assert not plans.has_cartesian(df)


def test_contamination_broadcasts_probe_grams(spark, documents):
    from tikv_data_compare_spark.operators.text import contamination

    probes = documents.limit(5).withColumnRenamed("doc_id", "probe_id")
    out = contamination(documents.limit(50), probes, n=3)
    assert not plans.has_cartesian(out)
    assert "BroadcastHashJoin" in plans.plan_string(out)


def test_targeted_diff_semi_join_on_buckets(spark):
    from tikv_data_compare_spark.operators.diff import targeted_diff

    src_df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("v")
    )
    dst_df = src_df.withColumn(
        "v", F.when(F.col("k") % 97 == 0, F.col("v") + 1).otherwise(F.col("v"))
    )
    out = targeted_diff(
        Keyed.of(src_df, keys=("k",)),
        Keyed.of(dst_df, keys=("k",)),
        (F.col("k") / 100).cast("long"),
    )
    s = plans.plan_string(out)
    assert not plans.has_cartesian(out)
    assert "LeftSemi" in s and "BroadcastHashJoin" in s


def test_profile_columns_approx_within_tolerance(spark, lineitem):
    """HLL approx profile: same plan shape/schema as exact, every distinct
    estimate within 3·rsd of truth, null counts and row totals exact."""
    from tikv_data_compare_spark.queries import profile_columns

    cols = ["l_orderkey", "l_partkey", "l_quantity"]
    exact = {r["col_name"]: r for r in profile_columns(lineitem, cols).collect()}
    approx = {r["col_name"]: r for r in profile_columns(lineitem, cols, approx=True, rsd=0.05).collect()}
    assert exact.keys() == approx.keys()
    for c in cols:
        e, a = exact[c], approx[c]
        assert a["n_nulls"] == e["n_nulls"] and a["n_rows"] == e["n_rows"]
        assert abs(a["n_distinct"] - e["n_distinct"]) <= max(3, 0.15 * e["n_distinct"])


def test_diff_keyed_row_routes_through_targeted_diff(spark):
    """The driver's diff_keyed row runs the checksum-localized path: its
    plan must carry the mismatched-bucket broadcast semi-join (and still no
    cartesian)."""
    import os

    from tikv_data_compare_spark.queries import q_diff_keyed

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    out = q_diff_keyed(spark, sf)
    s = plans.plan_string(out)
    assert not plans.has_cartesian(out)
    assert "LeftSemi" in s and "BroadcastHashJoin" in s


def test_sessionize_single_user_exchange(spark):
    """sessionize: lag window, running-sum window, and the session groupBy
    all reuse ONE hashpartitioning(user_id) — exactly one Exchange in the
    whole plan."""
    from tikv_data_compare_spark.operators.events import sessionize

    df = spark.range(0, 1000).select(
        (F.col("id") % 37).alias("user_id"),
        F.col("id").alias("event_id"),
        (F.col("id") * 60000).alias("ms"),
    )
    s = _simple(sessionize(df))
    assert s.count("Exchange") == 1, s


def test_ann_join_path_plan_shape(spark, embeddings):
    """The DataFrame-query ANN join path must be a real equi-join on the
    cell id: never cartesian, and never STRUCTURALLY dependent on a
    broadcast — with auto-broadcast disabled (emulating a query side too
    big to broadcast, the case the path exists for) it must still plan as
    a shuffle join.  With defaults, the planner may legitimately broadcast
    a genuinely small side; both plans are exercised."""
    from tikv_data_compare_spark.operators import similarity as sim

    q = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = sim.topk_ivf_join(embeddings, q, k=3, n_cells=4, n_probe=2)
    assert not plans.has_cartesian(res)
    assert plans.join_strategies(res) & {
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        res2 = sim.topk_ivf_join(embeddings, q, k=3, n_cells=4, n_probe=2)
        assert not plans.has_cartesian(res2)
        strategies = plans.join_strategies(res2)
        assert strategies & {"SortMergeJoin", "ShuffledHashJoin"}, strategies
        assert "BroadcastHashJoin" not in strategies, strategies
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ann_index_scan_prunes_to_code_columns(spark, embeddings, tmp_path):
    """Query plans over a persisted index must read ONLY the compact
    columns (vec_id, cell, pq_code) from the vectors parquet — the float
    embeddings never existed there, and nothing may widen the scan."""
    from tikv_data_compare_spark.operators import ann_index as ai

    path = str(tmp_path / "planidx")
    ai.build_ann_index(embeddings, path, n_cells=4, m=8, k_codes=16)
    idx = ai.load_ann_index(spark, path)
    q = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = ai.topk_index(idx, q, k=3, n_probe=4)
    s = plans.plan_string(res)
    read_schemas = [l for l in s.splitlines() if "ReadSchema" in l and "pq_code" in l]
    assert read_schemas, s  # the index scan is present...
    assert all("embedding" not in l for l in read_schemas)  # ...and code-only


# ----------------------------------------------------------- r10 operators


def test_dedup_lines_join_not_window(spark, documents):
    """The first-occurrence verdict must be an (AQE-splittable) equi-join on
    the line hash, never a min-over-window — corpus-scale boilerplate lines
    are exactly the hot keys a window partition cannot split."""
    df = dd.dedup_lines(documents.limit(200), "doc_id", "text")
    s = plans.plan_string(df)
    assert "Window" not in s
    assert not plans.has_cartesian(df)
    assert plans.join_strategies(df) & {
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"
    }


def test_bm25_broadcasts_everything_but_postings(spark, documents):
    """Query terms, document frequencies and the 1-row scalars all broadcast
    into the tf join — the only shuffles are the corpus-stats aggregations;
    no cartesian anywhere (the scalars ride a broadcast nested loop, which
    is fine for ONE row)."""
    from tikv_data_compare_spark.operators.text import bm25_topk

    q = spark.createDataFrame([(0, "data query")], "query_id long, qtext string")
    df = bm25_topk(documents.limit(200), q, k=5)
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    s = plans.plan_string(df)
    assert "CartesianProduct" not in s


def test_semdedup_pair_join_is_equi(spark):
    """The within-cluster pair search is a cluster-keyed equi-join — the
    SemDeDup point is precisely that it never goes cartesian."""
    from tikv_data_compare_spark.operators.clustering import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    df = semantic_dedup(emb, k=2, n_iter=1, threshold_c=9999)
    s = plans.plan_string(df)
    assert "CartesianProduct" not in s
    assert plans.join_strategies(df) & {
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"
    }


def test_text_index_query_broadcasts_terms(spark, documents, tmp_path):
    """The index-path scoring join broadcasts the query terms into the
    postings scan — the corpus-sized side never shuffles for the probe."""
    import os

    from tikv_data_compare_spark.operators.text_index import (
        build_text_index,
        query_text_index,
    )

    p = os.path.join(tmp_path, "tix")
    build_text_index(documents.limit(200), p)
    q = spark.createDataFrame([(0, "data query")], "query_id long, qtext string")
    df = query_text_index(q, p, k=5)
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    assert "CartesianProduct" not in plans.plan_string(df)


def test_bpe_count_is_map_side_zero_shuffle(spark, documents):
    """Trained-BPE token counting is one map-side nested-HOF fold over a
    constant-folded merge literal: the FOLD adds no Exchange, no join, no
    UDF to the plan — the property that lets it run inline over 100 TB of
    documents.  Since r16 the operator widens an under-split source via
    scale_out (its own conditional Exchange, a cluster no-op — measured
    sf1 16.2→3.9 s), so the pin compares against the SAME scaled-out
    source without the fold: the Exchange count must not grow."""
    import re

    from tikv_data_compare_spark.operators import text as tx
    from tikv_data_compare_spark.session import scale_out

    merges = tx.train_bpe_merges(documents.limit(100), n_merges=8, vocab_top=32)
    src = documents.limit(100).select("doc_id", "text")
    df = tx.bpe_token_count(src, merges)
    s = plans.plan_string(df)

    def n_ex(plan):
        return len(re.findall(r"^\(\d+\) \w*Exchange", plan, re.M))

    base = plans.plan_string(scale_out(src, key="text"))
    assert n_ex(s) == n_ex(base), (
        f"the fold added shuffles: {n_ex(s)} vs baseline {n_ex(base)}\n{s[:1500]}"
    )
    assert "Join" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_decontaminate_substring_broadcasts_probe_side(spark, documents):
    """Both probe-side joins (fingerprints into the candidate join, probe
    texts into the verify) broadcast — the corpus side never shuffles for
    the join itself; no cartesian anywhere."""
    from tikv_data_compare_spark.operators import text as tx

    docs = documents.limit(120).select("doc_id", "text")
    probes = docs.filter("doc_id % 9 = 0").selectExpr(
        "doc_id AS probe_id", "substr(text, 6, 40) AS text"
    )
    df = tx.decontaminate_substring(docs, probes, min_span=24)
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    assert not plans.has_cartesian(df)


def test_chunk_text_is_map_side_zero_shuffle(spark, documents):
    """Passage chunking is one transform + explode: no Exchange, no join,
    no UDF — it composes inline with any scan."""
    from tikv_data_compare_spark.operators import text as tx

    # no .limit() in the fixture: GlobalLimit inserts its own
    # SinglePartition Exchange and would mask the operator's plan
    df = tx.chunk_text(documents.select("doc_id", "text"),
                       max_words=32, overlap=4)
    s = plans.plan_string(df)
    assert "Exchange" not in s and "Join" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_token_mixture_broadcasts_rates(spark, documents):
    """The derived rate table (one row per listed source) broadcasts into
    the selection join; no cartesian beyond the 1-row umin broadcast."""
    from tikv_data_compare_spark.operators.sampling import token_mixture_sample

    df = token_mixture_sample(
        documents.select("doc_id", "lang", "text"),
        {"en": 5000, "de": 5000}, group_col="lang",
    )
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    s = plans.plan_string(df)
    assert "CartesianProduct" not in s


def test_dsir_weights_broadcasts_bucket_tables(spark, documents, monkeypatch):
    """The driver-built literal weight table broadcasts into the scoring
    join, and the persisted (id, bucket, count) aggregate is READ FROM
    CACHE by the scoring pass — the explode+md5 map stage, the operator's
    dominant cost, runs exactly once (the bucket-count collect
    materialized it).  No sqrt chain and no decimal anywhere: the frozen
    costs are Python-computed literals (the zero-float gate).  The scoring
    runs inside the call and the result is a local checkpoint, so the plan
    checked is the one the checkpoint executed."""
    from tikv_data_compare_spark.operators.sampling import dsir_weights

    checkpointed = []
    real = type(documents).localCheckpoint

    def capturing(self, *a, **kw):
        checkpointed.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(type(documents), "localCheckpoint", capturing)
    docs = documents.select("doc_id", "text").limit(300)
    target = documents.select("doc_id", "text").limit(100)
    dsir_weights(docs, target, n_buckets=256)
    (df,) = checkpointed
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    assert plans.has_partial_aggregation(df)
    s = plans.plan_string(df)
    assert "CartesianProduct" not in s
    assert "InMemoryTableScan" in s or "InMemoryRelation" in s
    assert "SQRT" not in s.upper()
    assert "decimal" not in s.lower()


def test_bm25_idf_hoisted_off_the_candidate_path(spark, documents):
    """The r14 hoist pin (VERDICT r13 task 5): the det_ln sqrt chain
    (bm25_idf_sql) is evaluated on the bounded per-distinct-term frame
    only — the per-(query, doc, term) score projection multiplies the
    precomputed idf column and contains NO sqrt itself."""
    from tikv_data_compare_spark.operators.text import bm25_topk

    q = spark.createDataFrame([(0, "data query")], "query_id long, qtext string")
    s = plans.plan_string(bm25_topk(documents.limit(200), q, k=5))
    score_lines = [l for l in s.splitlines() if "FLOOR" in l and "1000000" in l]
    assert score_lines, "score projection not found in plan"
    assert not any("sqrt" in l.lower() for l in score_lines), (
        "det_ln re-inlined into the per-candidate score"
    )
    # the sqrt chain exists exactly once: the idf projection
    assert sum(1 for l in s.splitlines() if "SQRT" in l.upper()) == 1


def test_bloom_probe_broadcasts_bitmap(spark, documents):
    """The bounded word table (<= ceil(m/63) rows) broadcasts into the
    probe join — the probed side never shuffles its payload; the build is
    a partially-aggregated bit_or onto the bounded word space."""
    from tikv_data_compare_spark.operators import bloom as bl

    items = documents.select("text").limit(200)
    bitmap = bl.bloom_build(items, "text", 63 * 64, 4)
    probed = bl.bloom_probe(
        documents.select("doc_id", "text").limit(300), bitmap, "text",
        63 * 64, 4, id_cols=["doc_id"],
    )
    assert "BroadcastHashJoin" in plans.join_strategies(probed)
    assert plans.has_partial_aggregation(bitmap)
    s = plans.plan_string(probed)
    assert "CartesianProduct" not in s
    # the probed side never shuffles: k broadcast joins, no hash exchange
    assert "Exchange hashpartitioning" not in s


def test_contamination_single_corpus_pass(spark, documents):
    """r15 one-pass rewrite: the corpus gram explode+distinct subtree runs
    ONCE (a left broadcast join with a probe marker folds totals and hit
    counts into one aggregation) — the r6-r14 shape ran it twice, one
    subtree per count branch.  Exactly two Generates survive optimization:
    one corpus-side, one probe-side."""
    from tikv_data_compare_spark.operators import text as tx

    probes = documents.filter("doc_id % 20 = 0").select("doc_id", "text")
    out = tx.contamination(
        documents.select("doc_id", "text"), probes, probe_id_col="doc_id", n=3
    )
    import re

    s = plans.plan_string(out)
    n_generates = len(re.findall(r"^\(\d+\) Generate", s, re.MULTILINE))
    assert n_generates == 2, s
    assert "BroadcastHashJoin" in plans.join_strategies(out)
    assert "CartesianProduct" not in s


def test_text_stats_plan_shape(spark, documents):
    """text_stats's honest shape (pinned r16, VERDICT r15 task 7 — one of
    the five entries r15 caught bench-timing a pruned scan): the stopword
    table is BROADCAST (never shuffled), and the word-explode → per-doc
    aggregate → join-back tree costs at most 4 shuffle Exchanges.  A 5th
    Exchange or a vanished broadcast means the stopword join or the
    explode re-planned into something worse."""
    import re

    from tikv_data_compare_spark.operators import text as tx

    docs = documents.limit(50).select("doc_id", "text")
    s = plans.plan_string(tx.text_stats(docs))
    nodes = re.findall(r"^\(\d+\) (\w*Exchange)", s, re.M)
    assert nodes.count("BroadcastExchange") >= 1, s
    assert nodes.count("Exchange") <= 4, nodes


def test_pii_redact_zero_shuffle(spark, documents):
    """pii_redact is an ordered JVM regexp_replace chain — map-side, no
    Exchange, no Python UDF in the plan."""
    from tikv_data_compare_spark.operators import text as tx

    docs = documents.limit(50).select("doc_id", "text")
    s = plans.plan_string(tx.pii_redact(docs))
    assert "Exchange" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_decontam_rekey_gram_join_broadcasts_probes(spark, documents):
    """The r16 hot-fingerprint re-key path (default small-probe mode):
    the witness-gram join must BROADCAST the probe grams — the corpus
    gram stream stays map-side (no cartesian anywhere; the corpus text
    never shuffles through the hot path)."""
    from tikv_data_compare_spark.operators import text as tx

    docs = documents.limit(80).select("doc_id", "text")
    probes = documents.limit(5).selectExpr(
        "doc_id AS probe_id", "substr(text, 3, 60) AS text"
    )
    s = plans.plan_string(
        tx.decontaminate_substring(docs, probes, min_span=24, max_fp_df=1)
    )
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_self_dedup_trim_plan_shape(spark, documents):
    """r17 trim mode: the candidate search is a fingerprint equi-join (never
    cartesian — the drop operator's contract, shared machinery), and the
    surgery itself is one per-doc aggregate + fold — no extra shuffle
    beyond the hits aggregation."""
    from tikv_data_compare_spark.operators.text import self_dedup_trim

    df = self_dedup_trim(documents.limit(200), min_span=24)
    s = plans.plan_string(df)
    assert "CartesianProduct" not in s
    assert plans.join_strategies(df) & {
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"
    }
    # rekey split keeps the same shape (its gram join is bounded + equi)
    df2 = self_dedup_trim(documents.limit(200), min_span=24, max_fp_df=2)
    assert "CartesianProduct" not in plans.plan_string(df2)
    # r18 later_ids seam: the survivors restriction lands as semi joins,
    # never a cartesian, in both the plain and the rekey-split plans
    from pyspark.sql import functions as F

    ids = documents.limit(200).select("doc_id").where(F.col("doc_id") % 2 == 0)
    for kw in ({}, {"max_fp_df": 2}):
        df3 = self_dedup_trim(
            documents.limit(200), min_span=24, later_ids=ids, **kw
        )
        s3 = plans.plan_string(df3)
        assert "CartesianProduct" not in s3
        assert "LeftSemi" in s3, "later_ids restriction lost its semi join"


def _span_corpus(spark, n, offset=0):
    """``n`` synthetic docs sharing template spans, built with
    createDataFrame: with n >= 32 rows the local scan already has
    defaultParallelism partitions at every tested core count, so
    ``session.scale_out`` is a no-op and every Exchange in a span
    operator's plan is the operator's own."""
    templates = (
        "licensed under the apache license version two point zero",
        "the quick brown fox jumps over the lazy dog near the river",
        "all rights reserved no part of this text may be reproduced",
    )
    return spark.createDataFrame(
        [
            (i + offset, f"doc {i} {templates[i % 3]} tail {i * 7919 % 1000}")
            for i in range(n)
        ],
        "doc_id long, text string",
    )


def test_span_family_exchange_counts(spark):
    """Plan-shape pins for the exact-substring operators: the Exchange
    count of every public operator, uncapped and with the hot-fingerprint
    split (``max_fp_df``), in the formatted plan (which prints each node
    twice).  A changed count means the shared span-match core moved a
    shuffle or a broadcast."""
    from tikv_data_compare_spark.operators import text as tx

    docs = _span_corpus(spark, 64)
    probes = _span_corpus(spark, 32, offset=1000).withColumnRenamed(
        "doc_id", "probe_id"
    )
    ops = {
        "decontaminate_substring": lambda **kw: tx.decontaminate_substring(
            docs, probes, min_span=24, **kw
        ),
        "decontaminate_substring/verdict": lambda **kw: tx.decontaminate_substring(
            docs, probes, min_span=24, verdict_only=True, **kw
        ),
        "self_dedup_substring": lambda **kw: tx.self_dedup_substring(
            docs, min_span=24, **kw
        ),
        "self_dedup_kept": lambda **kw: tx.self_dedup_kept(docs, min_span=24, **kw),
        "self_dedup_trim": lambda **kw: tx.self_dedup_trim(docs, min_span=24, **kw),
        "self_dedup_trim/word": lambda **kw: tx.self_dedup_trim(
            docs, min_span=24, snap="word", **kw
        ),
    }
    # (uncapped, max_fp_df=2)
    expected = {
        "decontaminate_substring": (12, 40),
        "decontaminate_substring/verdict": (12, 40),
        "self_dedup_substring": (16, 64),
        "self_dedup_kept": (16, 66),
        "self_dedup_trim": (16, 66),
        "self_dedup_trim/word": (16, 66),
    }
    got = {
        name: tuple(
            plans.plan_string(op(max_fp_df=cap)).count("Exchange") for cap in (None, 2)
        )
        for name, op in ops.items()
    }
    assert got == expected


def test_topk_family_plan_shapes(spark, embeddings, tmp_path):
    """Plan-shape pins for the eight top-k entry points: (Exchange count,
    Python-node count) in the formatted plan (which prints each node
    twice), with and without ``rerank`` where the entry point has it.
    Python nodes are ``MapInPandas`` (the map-side scorers and cell
    assigners) and ``FlatMapCoGroupsInPandas`` (the per-cell ADC scorer of
    the DataFrame-query paths).  A changed count means the shared top-k
    pipeline moved a shuffle, a broadcast or a Python stage."""
    from tikv_data_compare_spark.operators import ann_index as ai
    from tikv_data_compare_spark.operators import similarity as sim

    emb = embeddings
    q = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    path = str(tmp_path / "idx")
    ai.build_ann_index(emb, path, n_cells=4, m=8, k_codes=16)
    idx = ai.load_ann_index(spark, path)
    geo = dict(n_cells=4, n_probe=2, m=8, k_codes=16)
    ops = {
        "topk_bruteforce": lambda: sim.topk_bruteforce(emb, k=3, n_queries=4),
        "topk_lsh": lambda: sim.topk_lsh(emb, k=3, n_queries=4, n_planes=2),
        "topk_ivf": lambda: sim.topk_ivf(emb, k=3, n_queries=4, n_cells=4, n_probe=2),
        "topk_ivf_join": lambda: sim.topk_ivf_join(emb, q, k=3, n_cells=4, n_probe=2),
        "topk_pq": lambda: sim.topk_pq(emb, k=3, n_queries=4, m=8, k_codes=16),
        "topk_pq/rerank": lambda: sim.topk_pq(emb, k=3, n_queries=4, m=8, k_codes=16, rerank=20),
        "topk_ivfpq": lambda: sim.topk_ivfpq(emb, k=3, n_queries=4, **geo),
        "topk_ivfpq/rerank": lambda: sim.topk_ivfpq(emb, k=3, n_queries=4, rerank=20, **geo),
        "topk_ivfpq_join": lambda: sim.topk_ivfpq_join(emb, q, k=3, **geo),
        "topk_ivfpq_join/rerank": lambda: sim.topk_ivfpq_join(emb, q, k=3, rerank=20, **geo),
        "topk_index": lambda: ai.topk_index(idx, q, k=3, n_probe=2),
        "topk_index/rerank": lambda: ai.topk_index(
            idx, q, k=3, n_probe=2, rerank=20, emb_for_rerank=emb
        ),
    }
    expected = {
        "topk_bruteforce": (4, 2),
        "topk_lsh": (8, 4),
        "topk_ivf": (6, 2),
        "topk_ivf_join": (8, 4),
        "topk_pq": (4, 2),
        "topk_pq/rerank": (10, 2),
        "topk_ivfpq": (4, 2),
        "topk_ivfpq/rerank": (10, 2),
        "topk_ivfpq_join": (10, 6),
        "topk_ivfpq_join/rerank": (14, 6),
        "topk_index": (8, 4),
        "topk_index/rerank": (12, 4),
    }

    def shape(df):
        s = plans.plan_string(df)
        return s.count("Exchange"), s.count("MapInPandas") + s.count("FlatMapCoGroupsInPandas")

    got = {name: shape(op()) for name, op in ops.items()}
    assert got == expected
