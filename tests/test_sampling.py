"""Deterministic sampling: replay-stable selection, quota bounds, guards."""

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.operators.sampling import hash_sample, stratified_sample


def test_hash_sample_deterministic_and_bounded(spark, documents):
    docs = documents.select("doc_id", "text")
    a = sorted(r["doc_id"] for r in hash_sample(docs, "text", pct=10).collect())
    b = sorted(r["doc_id"] for r in hash_sample(docs, "text", pct=10).collect())
    assert a == b and len(a) > 0
    total = docs.count()
    assert len(a) < total  # a strict subset, not a pass-through
    # buckets are a partition: pct=100 keeps everything, pct=0 nothing
    assert hash_sample(docs, "text", pct=100).count() == total
    assert hash_sample(docs, "text", pct=0).count() == 0


def test_hash_sample_slices_are_disjoint(spark, documents):
    docs = documents.select("doc_id", "text")
    sampled = hash_sample(docs, "text", pct=100)
    lo = {r["doc_id"] for r in sampled.filter(F.col("sample_bucket") < 10).collect()}
    hi = {r["doc_id"] for r in sampled.filter(F.col("sample_bucket") >= 10).collect()}
    assert lo.isdisjoint(hi)
    assert len(lo) + len(hi) == docs.count()


def test_stratified_sample_quota_and_determinism(spark, documents):
    docs = documents.select("doc_id", "lang", "text")
    out = stratified_sample(docs, ["lang"], k=5, tiebreak_cols=["doc_id"])
    per_group = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_group) == set(avail)
    for lang, n in per_group.items():
        assert n == min(5, avail[lang])
    again = stratified_sample(docs, ["lang"], k=5, tiebreak_cols=["doc_id"])
    key = lambda df: sorted((r["lang"], r["doc_id"], r["sample_rank"]) for r in df.collect())
    assert key(out) == key(again)


def test_sampling_guards(spark, documents):
    with pytest.raises(ValueError):
        hash_sample(documents, "text", pct=101)
    with pytest.raises(ValueError):
        stratified_sample(documents, ["lang"], k=0)
    with pytest.raises(ValueError):
        hash_sample(documents.withColumn("_sample_m", F.lit(1)), "text", pct=10)


def test_hash_sample_monotone_subset(spark, documents):
    """A lower-pct sample must be a strict subset of any higher-pct sample
    (buckets are stable, thresholds nest) — the property that makes
    train/val splits reproducible across corpus versions."""
    docs = documents.select("doc_id", "text")
    s5 = {r["doc_id"] for r in hash_sample(docs, "text", pct=5).collect()}
    s20 = {r["doc_id"] for r in hash_sample(docs, "text", pct=20).collect()}
    assert s5 <= s20
    assert len(s5) < len(s20)


def test_hash_sample_null_content_not_dropped(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "doc_id long, text string")
    assert hash_sample(df, "text", pct=100).count() == 2
    with pytest.raises(ValueError):
        hash_sample(df.withColumn("sample_bucket", F.lit(1)), "text", pct=10)


def test_stratified_sample_rejects_reserved_hash_column(spark):
    import pytest

    from tikv_data_compare_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(1, "en", "x", 9)], "doc_id long, lang string, text string, _sample_h long"
    )
    with pytest.raises(ValueError, match="_sample_h"):
        stratified_sample(df, ["lang"], k=1, tiebreak_cols=["doc_id"])


def test_shard_assignments_deterministic_and_balanced(spark, documents):
    """Shard membership/order is a pure function of content: two runs are
    identical, shards are hash-balanced, positions are 1..size per shard."""
    from tikv_data_compare_spark.operators.sampling import shard_assignments

    docs = documents.select("doc_id", "text").limit(400)
    a = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shard_assignments(docs, 8, tiebreak_cols=["doc_id"]).collect()
    }
    b = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shard_assignments(docs, 8, tiebreak_cols=["doc_id"]).collect()
    }
    assert a == b and len(a) == 400
    from collections import Counter

    sizes = Counter(s for s, _ in a.values())
    assert len(sizes) == 8
    assert max(sizes.values()) <= 2.2 * (400 / 8)  # hash balance, no hot shard
    for shard in sizes:
        poss = sorted(p for s, p in a.values() if s == shard)
        assert poss == list(range(1, len(poss) + 1))


def test_write_shards_roundtrip(spark, documents, tmp_path):
    """Written shard dirs carry exactly the assigned membership and the
    intra-shard positions restore the deterministic order."""
    from tikv_data_compare_spark.operators.sampling import (
        shard_assignments,
        write_shards,
    )

    docs = documents.select("doc_id", "text").limit(120)
    path = str(tmp_path / "shards")
    counts = write_shards(docs, path, 4, tiebreak_cols=["doc_id"])
    assert sum(counts.values()) == 120 and set(counts) <= set(range(4))
    expect = {
        (r["doc_id"], r["shard"], r["shard_pos"])
        for r in shard_assignments(docs, 4, tiebreak_cols=["doc_id"]).collect()
    }
    got = {
        (r["doc_id"], r["shard"], r["shard_pos"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Mixture sampling (r9)
# ---------------------------------------------------------------------------


def test_mixture_sample_rates_and_epochs(spark):
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(i, "web", f"web doc {i}") for i in range(400)]
        + [(1000 + i, "wiki", f"wiki doc {i}") for i in range(40)]
        + [(2000 + i, "books", f"book doc {i}") for i in range(40)],
        "doc_id long, source string, text string",
    )
    out = mixture_sample(
        docs, {"web": 2500, "wiki": (10000, 3)}, group_col="source"
    ).cache()
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert "books" not in by_src  # unlisted source dropped
    assert by_src["wiki"] == 40 * 3  # full keep x3 epochs
    assert 0 < by_src["web"] < 400  # ~25% kept, hash-thresholded
    assert out.filter((F.col("source") == "web") & (F.col("epoch") != 0)).count() == 0
    wiki_epochs = {
        r["epoch"] for r in out.filter(F.col("source") == "wiki").collect()
    }
    assert wiki_epochs == {0, 1, 2}
    # replay-safe: identical on rerun
    again = mixture_sample(docs, {"web": 2500, "wiki": (10000, 3)}, group_col="source")
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["epoch"], r["mix_bucket"]) for r in df.collect()
    )
    assert key(out) == key(again)


def test_mixture_sample_validation(spark):
    import pytest as _pytest

    from tikv_data_compare_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(1, "web", "t")], "doc_id long, source string, text string"
    )
    with _pytest.raises(ValueError, match="rate"):
        mixture_sample(docs, {"web": 10001}, group_col="source")
    with _pytest.raises(ValueError, match="epochs"):
        mixture_sample(docs, {"web": (100, 0)}, group_col="source")
    with _pytest.raises(ValueError, match="at least one"):
        mixture_sample(docs, {}, group_col="source")
    with _pytest.raises(ValueError, match="strings"):
        mixture_sample(docs, {7: 100}, group_col="source")


def test_sqrt_mixture_flattens_toward_smallest(spark):
    """Rates follow min(1, sqrt(n_min/n_g)): the 4x source keeps ~half, the
    16x source ~quarter, the smallest keeps all (and doubles when
    epochs_for_full=2)."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators.sampling import sqrt_mixture_sample

    docs = spark.createDataFrame(
        [(i, "small", f"s{i}") for i in range(50)]
        + [(1000 + i, "mid", f"m{i}") for i in range(200)]
        + [(10000 + i, "big", f"b{i}") for i in range(800)],
        "doc_id long, source string, text string",
    )
    out = sqrt_mixture_sample(docs, group_col="source", epochs_for_full=2).cache()
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_src["small"] == 100  # full rate x2 epochs
    # mid keeps ~ sqrt(50/200) = 50%, big ~ sqrt(50/800) = 25% (hash noise)
    assert 0.3 * 200 < by_src["mid"] < 0.7 * 200
    assert 0.12 * 800 < by_src["big"] < 0.38 * 800
    # buckets actually enforce the derived rate: every kept bucket < rate
    assert out.filter(F.col("mix_bucket") >= 10000).count() == 0


def test_mixture_sample_rejects_float_rates(spark):
    """A float rate (0.25 misread as a fraction) must error, not truncate
    to 0 and silently drop the group (r9 review)."""
    import pytest as _pytest

    from tikv_data_compare_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(1, "web", "t")], "doc_id long, source string, text string"
    )
    with _pytest.raises(ValueError, match="basis points"):
        mixture_sample(docs, {"web": 0.25}, group_col="source")
    with _pytest.raises(ValueError, match="integer"):
        mixture_sample(docs, {"web": (2500, 1.5)}, group_col="source")


def test_sqrt_mixture_ignores_null_group(spark):
    """NULL-group rows never join a rate, so they must not set n_min either
    — a 2-row NULL group would otherwise crush every real rate (r9
    review)."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators.sampling import sqrt_mixture_sample

    base = [(i, "web", f"w{i}") for i in range(100)]
    docs = spark.createDataFrame(
        base + [(900, None, "x"), (901, None, "y")],
        "doc_id long, source string, text string",
    )
    out = sqrt_mixture_sample(docs, group_col="source").cache()
    # web is the only (and smallest) real group -> full rate, all kept
    assert out.filter(F.col("source") == "web").count() == 100
    assert out.filter(F.col("source").isNull()).count() == 0


# ---------------------------------------------------------- token mixture


def test_token_mixture_rates_closed_form(spark):
    """Equal token-share targets over unequal corpora: the token-poor group
    binds (rate 10000), the rich one downsamples by the exact token
    ratio."""
    from tikv_data_compare_spark.operators.sampling import token_mixture_sample

    # unique texts: content-hash selection needs distinct contents (dup
    # texts share one bucket and sample together, by design)
    rows = [(i, "a", "w " * 9 + f"a{i}") for i in range(10)]          # 100 tokens
    rows += [(100 + i, "b", "w " * 9 + f"b{i}") for i in range(100)]  # 1000 tokens
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = token_mixture_sample(df, {"a": 5000, "b": 5000})
    rates = {r["source"]: r["rate_bp"] for r in out.select("source", "rate_bp").distinct().collect()}
    # gcd-normalized weights (1,1): u_a=100, u_b=1000 → b keeps 10%
    assert rates["a"] == 10000
    assert rates["b"] == 1000
    kept = out.groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in kept}
    assert counts["a"] == 10
    # ~10% of b's 100 docs by content-hash bucket (exact count is
    # data-dependent but bounded well below full)
    assert 0 < counts.get("b", 0) < 50


def test_token_mixture_unlisted_drops_and_ntok_col(spark):
    import pytest

    from tikv_data_compare_spark.operators.sampling import token_mixture_sample

    df = spark.createDataFrame(
        [(1, "a", "x y z", 30), (2, "b", "x", 1), (3, "c", "x x", 2)],
        "doc_id long, source string, text string, ntok long",
    )
    out = token_mixture_sample(df, {"a": 100, "b": 100}, ntok_col="ntok").collect()
    assert {r["source"] for r in out} <= {"a", "b"}  # 'c' dropped
    # ntok_col drives the rates: a has 30 tokens vs b's 1 → b binds
    rates = {r["source"]: r["rate_bp"] for r in out}
    assert rates.get("b", 10000) == 10000
    with pytest.raises(ValueError, match="positive weight"):
        token_mixture_sample(df, {"a": 0})
    with pytest.raises(ValueError, match="basis points"):
        token_mixture_sample(df, {"a": 0.5})
    with pytest.raises(ValueError, match="strings"):
        token_mixture_sample(df, {7: 100})


def test_token_mixture_determinism_and_share_convergence(spark, documents):
    """On the fixture corpus: replay-identical, and the post-sample token
    shares track the targets (within hash-bucket noise)."""
    from tikv_data_compare_spark.operators.sampling import token_mixture_sample

    docs = documents.select("doc_id", "lang", "text")
    targets = {"en": 6000, "de": 2000, "fr": 2000}
    a = token_mixture_sample(docs, targets, group_col="lang")
    b = token_mixture_sample(docs.repartition(7), targets, group_col="lang")
    ka = {(r["doc_id"], r["epoch"]) for r in a.select("doc_id", "epoch").collect()}
    kb = {(r["doc_id"], r["epoch"]) for r in b.select("doc_id", "epoch").collect()}
    assert ka == kb and ka
    toks = {
        r["lang"]: r["t"]
        for r in a.groupBy("lang").agg(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).collect()
    }
    if set(toks) == set(targets):  # all languages present in the fixture
        total = sum(toks.values())
        shares = {g: toks[g] / total for g in toks}
        want = {g: w / sum(targets.values()) for g, w in targets.items()}
        for g in want:
            assert abs(shares[g] - want[g]) < 0.12, (g, shares, want)


def test_token_mixture_zero_token_group_drops_not_binds(spark):
    """A listed group whose docs total zero tokens cannot anchor the
    mixture: it drops (like an unlisted group) instead of binding at u=1
    and collapsing every real group's rate to ~0 (r10 review)."""
    from tikv_data_compare_spark.operators.sampling import token_mixture_sample

    rows = [(i, "a", "w " * 9 + f"a{i}", 10) for i in range(40)]
    rows += [(100 + i, "z", "", 0) for i in range(3)]  # zero-token group
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, ntok long"
    )
    out = token_mixture_sample(df, {"a": 5000, "z": 5000}, ntok_col="ntok")
    got = out.select("source", "rate_bp").distinct().collect()
    rates = {r["source"]: r["rate_bp"] for r in got}
    assert rates == {"a": 10000}  # a keeps fully; z absent entirely


# -------------------------------------------------------------------- DSIR


def _dsir_corpus(spark):
    """Planted two-style corpus: even ids write target-style text (vocab A),
    odd ids off-target (vocab B); plus NULL/empty rows."""
    va = "alpha beta gamma delta epsilon zeta".split()
    vb = "zero one two three four five".split()
    rows = []
    for i in range(60):
        v = va if i % 2 == 0 else vb
        words = [v[(i * 7 + j * 3) % len(v)] for j in range(20)]
        rows.append((i, " ".join(words)))
    rows += [(1001, None), (1002, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_weights_planted_distribution(spark):
    from tikv_data_compare_spark.operators.sampling import dsir_weights

    docs = _dsir_corpus(spark)
    target = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100))
    got = {r["doc_id"]: r for r in dsir_weights(docs, target, n_buckets=512).collect()}
    assert len(got) == docs.count()
    # every target-style doc outweighs every off-target doc
    a_w = [got[i]["dsir_logw_c"] for i in range(0, 60, 2)]
    b_w = [got[i]["dsir_logw_c"] for i in range(1, 60, 2)]
    assert min(a_w) > max(b_w)
    assert min(a_w) > 0 > max(b_w)
    # feature counts: 20 unigrams + 19 bigrams per doc
    assert all(got[i]["dsir_n_feats"] == 39 for i in range(60))
    # NULL/empty: zero features, NULL score
    for did in (1001, 1002):
        assert got[did]["dsir_n_feats"] == 0 and got[did]["dsir_logw_c"] is None
    # deterministic
    again = {r["doc_id"]: r["dsir_logw_c"] for r in dsir_weights(
        docs, target, n_buckets=512
    ).collect()}
    assert again == {k: v["dsir_logw_c"] for k, v in got.items()}
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(docs, target, n_buckets=1)


def test_dsir_sample_importance_resampling(spark):
    from tikv_data_compare_spark.operators.sampling import dsir_sample

    docs = _dsir_corpus(spark)
    target = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100))
    kept = dsir_sample(docs, target, tau_c=0, n_buckets=512)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    n_a = sum(1 for i in ids if i < 100 and i % 2 == 0)
    n_b = sum(1 for i in ids if i < 100 and i % 2 == 1)
    # weights separate by construction: all target-style docs sit above the
    # pivot (always kept), off-target docs only survive the exponential tail
    assert n_a == 30 and n_b < 30
    assert 1001 not in ids and 1002 not in ids  # zero-feature docs drop
    # audit columns present, rule replayed
    for r in kept.collect():
        assert r["dsir_u_c"] + r["dsir_logw_c"] >= 0
    # raising tau keeps a subset
    hi = {r["doc_id"] for r in dsir_sample(
        docs, target, tau_c=2_000_000, n_buckets=512
    ).select("doc_id").collect()}
    assert hi <= ids
    # deterministic
    again = {r["doc_id"] for r in dsir_sample(
        docs, target, tau_c=0, n_buckets=512
    ).select("doc_id").collect()}
    assert again == ids


def test_dsir_xxhash64_fast_path(spark):
    """algo='xxhash64' (the r14 throughput path, dedup/checksum
    convention): same contract as md5i64 — the planted distribution still
    separates (any decent hash spreads the two vocabularies into disjoint
    buckets), zero-feature docs still drop, replay is deterministic — only
    the bucket assignment (and so the exact frozen values / kept set)
    differs."""
    from tikv_data_compare_spark.operators.sampling import (
        dsir_sample,
        dsir_weights,
    )

    docs = _dsir_corpus(spark)
    target = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100))
    got = {
        r["doc_id"]: r
        for r in dsir_weights(
            docs, target, n_buckets=512, algo="xxhash64"
        ).collect()
    }
    a_w = [got[i]["dsir_logw_c"] for i in range(0, 60, 2)]
    b_w = [got[i]["dsir_logw_c"] for i in range(1, 60, 2)]
    assert min(a_w) > max(b_w)
    assert all(got[i]["dsir_n_feats"] == 39 for i in range(60))
    assert got[1001]["dsir_logw_c"] is None
    kept = dsir_sample(docs, target, tau_c=0, n_buckets=512, algo="xxhash64")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert sum(1 for i in ids if i < 100 and i % 2 == 0) == 30
    assert 1001 not in ids and 1002 not in ids
    again = {
        r["doc_id"]
        for r in dsir_sample(
            docs, target, tau_c=0, n_buckets=512, algo="xxhash64"
        ).select("doc_id").collect()
    }
    assert again == ids
    with pytest.raises(ValueError, match="algo"):
        dsir_weights(docs, target, algo="sha1")


def test_dsir_sample_weights_reuse_seam(spark):
    """dsir_sample(weights=dsir_weights(...)) must select the identical
    kept set as the one-call form — the seam exists so a pipeline that
    already built the weights (distribution inspection, tau selection,
    multiple resampling runs) skips the second feature explode."""
    from tikv_data_compare_spark.operators.sampling import (
        dsir_sample,
        dsir_weights,
    )

    docs = _dsir_corpus(spark)
    target = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100))
    one_call = {
        r["doc_id"]
        for r in dsir_sample(docs, target, tau_c=0, n_buckets=512)
        .select("doc_id").collect()
    }
    w = dsir_weights(docs, target, n_buckets=512)
    reused = {
        r["doc_id"]
        for r in dsir_sample(docs, None, tau_c=0, n_buckets=512, weights=w)
        .select("doc_id").collect()
    }
    assert reused == one_call
    with pytest.raises(ValueError, match="target corpus or a precomputed"):
        dsir_sample(docs, None, tau_c=0)
    with pytest.raises(ValueError, match="dsir_logw_c"):
        dsir_sample(docs, None, tau_c=0, weights=docs.select("doc_id"))


def test_dsir_weights_seam_rejects_mismatched_build_params(spark):
    """dsir_weights stamps (n_buckets, algo, text_col) on the dsir_logw_c
    column metadata; the weights= seam verifies them — a frame built with
    a different geometry passed shape validation in r14 and silently
    selected a different kept set (ADVICE r14)."""
    from tikv_data_compare_spark.operators.sampling import (
        dsir_sample,
        dsir_weights,
    )

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("doc_id") % 2 == 0)
    w = dsir_weights(docs, target, n_buckets=512)
    with pytest.raises(ValueError, match="dsir_n_buckets=512.*vs 1024"):
        dsir_sample(docs, None, tau_c=0, n_buckets=1024, weights=w)
    with pytest.raises(ValueError, match="dsir_algo"):
        dsir_sample(docs, None, tau_c=0, n_buckets=512, algo="xxhash64", weights=w)
    # an unstamped (user-built) frame is accepted as-is — the mismatch is
    # undetectable there, which the docstring says out loud
    bare = spark.createDataFrame(
        [(r["doc_id"], r["dsir_logw_c"]) for r in w.collect()],
        "doc_id long, dsir_logw_c long",
    )
    assert dsir_sample(docs, None, tau_c=0, n_buckets=512, weights=bare).count() > 0


def _curate_dsir_corpus(spark, n_docs=40):
    """The two-style corpus shaped to pass curate's upstream
    Gopher/repetition gates: unique fillers keep dup-word-frac low, one
    stopword clears the ratio floor, and interleaved style words carry the
    planted distribution."""
    va = "alpha beta gamma delta epsilon zeta".split()
    vb = "zero one two three four five".split()
    rows = []
    for i in range(n_docs):
        v = va if i % 2 == 0 else vb
        words = []
        for j in range(10):
            words.append(f"u{i}w{j}")
            words.append(v[(i * 7 + j * 3) % 6])
        words.append("the")
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_dsir_gate(spark):
    from tikv_data_compare_spark.operators.curate import curate

    docs = _curate_dsir_corpus(spark)
    target = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100))
    kept, attrition = curate(docs, dsir_target=target, min_dsir_logw_c=0)
    stages = [r["stage"] for r in attrition.collect()]
    assert "dsir_quality" in stages
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # no off-target or unscoreable doc survives the threshold
    assert all(i % 2 == 0 and i < 100 for i in ids)
    assert len(ids) > 0
    kept.unpersist()
    # relative mode: top-50% pivot keeps exactly the target-style half even
    # when the absolute scale shifts (weights separate by construction) —
    # robust where min_dsir_logw_c=0 is bucket-geometry-dependent
    kept2, attr2 = curate(docs, dsir_target=target, dsir_top_frac=0.5)
    ids2 = {r["doc_id"] for r in kept2.select("doc_id").collect()}
    assert all(i % 2 == 0 and i < 100 for i in ids2)
    assert len(ids2) > 0
    kept2.unpersist()
    with pytest.raises(ValueError, match="dsir_top_frac"):
        curate(docs, dsir_target=target, dsir_top_frac=1.5)


# ------------------------------------------------------------ token budget


def test_token_budget_fill_matches_brute_force(spark):
    """Kept set == the greedy prefix of the (hash, id) order whose
    cumulative-before token count is under budget — verified against a
    pure-Python recomputation, audit columns exact."""
    import hashlib

    from tikv_data_compare_spark.operators.sampling import token_budget_sample

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(5 + i % 7))) for i in range(40)]
    rows += [(100, None), (101, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def fold(text):
        h = hashlib.md5((text or "").encode()).hexdigest()
        v = 0
        for c in h[:15]:
            v = v * 16 + int(c, 16)
        return v

    ordered = sorted(
        ((fold(t), i, len((t or "").split(" "))) for i, t in rows),
    )
    want, cum = {}, 0
    for h, i, n in ordered:
        if cum < 120:
            want[i] = (cum, n)
        cum += n
    got = {
        r["doc_id"]: (r["tokens_before"], r["n_tokens"])
        for r in token_budget_sample(docs, 120).collect()
    }
    assert got == want and 0 < len(got) < len(rows)
    # whole-corpus budget keeps everything
    assert token_budget_sample(docs, 10_000_000).count() == len(rows)
    # budget 1 keeps exactly the first doc in hash order
    first = token_budget_sample(docs, 1).collect()
    assert len(first) == 1 and first[0]["tokens_before"] == 0
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_sample(docs, 0)
    with pytest.raises(ValueError, match="budget_tokens"):
        token_budget_sample(docs, True)


def test_token_budget_score_order(spark):
    """With a score column, high scores admit first; hash+id break ties
    deterministically."""
    from tikv_data_compare_spark.operators.sampling import token_budget_sample

    rows = [(i, "a b c d e", (i % 5) * 100) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, q long")
    kept = token_budget_sample(docs, 60, score_col="q")  # 12 docs of 5 tokens
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert len(ids) == 12
    # the 6 score-400 and 6 score-300 docs fill the budget exactly
    assert all(i % 5 in (3, 4) for i in ids)
    again = {
        r["doc_id"]
        for r in token_budget_sample(docs, 60, score_col="q").select("doc_id").collect()
    }
    assert again == ids


def test_token_budget_null_scores_admit_last(spark):
    """NULL scores (e.g. dsir_weights' zero-feature docs) must not crash
    boundary sampling or corrupt the prefix — they admit LAST,
    deterministically (r12 review)."""
    from tikv_data_compare_spark.operators.sampling import token_budget_sample

    rows = [(i, "a b c d e", 100 - i) for i in range(20)]
    rows += [(100, "x y z", None), (101, "p q", None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, q long")
    kept = token_budget_sample(docs, 101, score_col="q").collect()
    ids = {r["doc_id"] for r in kept}
    # 20 scored docs × 5 tokens = 100 < 101: all scored admit, then the
    # budget-crossing FIRST null-score doc (hash order) admits; the second
    # sits at tokens_before >= 102 and drops whichever hash order holds
    assert set(range(20)) <= ids and len(ids) == 21
    nulls_kept = ids - set(range(20))
    assert all(r["tokens_before"] == 100 for r in kept if r["doc_id"] in nulls_kept)
    again = {
        r["doc_id"]
        for r in token_budget_sample(docs, 101, score_col="q").select("doc_id").collect()
    }
    assert again == ids


def test_token_budget_null_ntok_drops(spark):
    """A NULL precomputed token count DROPS the row (the dsir family's
    'unevaluable drops' convention): admitting it would consume no budget
    in the SUM prefix while its real token mass overshoots the cap
    (ADVICE r12)."""
    from tikv_data_compare_spark.operators.sampling import token_budget_sample

    rows = [(i, f"text {i}", 5) for i in range(10)]
    rows += [(100, "unknown mass", None), (101, "also unknown", None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, nt long")
    kept = token_budget_sample(docs, 10_000, ntok_col="nt").collect()
    ids = {r["doc_id"] for r in kept}
    assert ids == set(range(10))  # NULL-count docs never admit
    assert all(r["n_tokens"] == 5 for r in kept)
    # and the budget math ignores them entirely
    assert max(r["tokens_before"] for r in kept) == 45


def test_split_assign_matches_brute_force(spark):
    """Content-keyed assignment == the md5-bucket CASE recomputed in pure
    Python: full coverage (incl. NULL/empty text), bucket exposed, layout
    follows fraction insertion order."""
    import hashlib

    from tikv_data_compare_spark.operators.sampling import split_assign

    rows = [(i, f"doc number {i} body") for i in range(60)]
    rows += [(100, None), (101, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fracs = {"train": 9000, "val": 500, "test": 500}

    def fold(s):
        h = hashlib.md5((s if s is not None else "").encode()).hexdigest()
        v = 0
        for c in h[:15]:
            v = v * 16 + int(c, 16)
        return v % 10000

    got = {
        r["doc_id"]: (r["split_bucket"], r["split"])
        for r in split_assign(docs, fracs).collect()
    }
    assert len(got) == len(rows)
    for i, t in rows:
        b = fold(t)
        want = "train" if b < 9000 else ("val" if b < 9500 else "test")
        assert got[i] == (b, want)
    again = {
        r["doc_id"]: (r["split_bucket"], r["split"])
        for r in split_assign(docs, fracs).collect()
    }
    assert got == again


def test_split_assign_group_keyed_leakage_guard(spark):
    """Group-keyed: every row of a group gets the group's split (the
    leakage guard), and the assignment equals splitting the distinct keys
    themselves — the coin is the key, nothing else."""
    from tikv_data_compare_spark.operators.sampling import split_assign

    rows = [(i, i % 7, f"unique text {i}") for i in range(70)]
    docs = spark.createDataFrame(rows, "doc_id long, comp long, text string")
    fracs = {"train": 8000, "val": 1000, "test": 1000}
    out = split_assign(docs, fracs, group_col="comp")
    per_group = out.groupBy("comp").agg(
        F.countDistinct("split").alias("n"), F.first("split").alias("s")
    ).collect()
    assert all(r["n"] == 1 for r in per_group)
    keys = docs.select(F.col("comp").alias("k")).distinct()
    key_split = {
        r["k"]: r["split"]
        for r in split_assign(keys, fracs, content_col="k").collect()
    }
    assert {r["comp"]: r["s"] for r in per_group} == key_split


def test_split_assign_validation(spark, documents):
    from tikv_data_compare_spark.operators.sampling import split_assign

    docs = documents.select("doc_id", "text")
    with pytest.raises(ValueError):
        split_assign(docs, {})
    with pytest.raises(ValueError):
        split_assign(docs, {"a": 5000, "b": 4000})  # sums to 9000
    with pytest.raises(ValueError):
        split_assign(docs, {"a": 10000, "b": 0})  # zero fraction
    with pytest.raises(ValueError):
        split_assign(docs, {"a": 9999, "b": True})  # bool is not a count
    with pytest.raises(ValueError):
        split_assign(docs.withColumn("split", F.lit("x")), {"all": 10000})
    one = split_assign(docs, {"all": 10000})  # single split: no CASE at all
    assert one.filter(F.col("split") != "all").count() == 0
    assert one.count() == docs.count()


def _qc_corpus(spark):
    """Separable labeled fixture: 'clean' docs share a reference-English
    style vocabulary; 'junk' docs are keyboard-mash tokens.  Seed = a
    subset of the clean docs (the crawl-contains-seed setup the class
    balancing exists for)."""
    clean_v = ("the quick brown fox jumps over a lazy dog while reading "
               "morning papers in the quiet village library").split()
    junk_v = "qw3rt zxcv88 plm0k jjjj9 uuu77 m3m3m x9x9 v0v0v".split()
    rows = []
    for i in range(40):
        words = [clean_v[(i * 7 + j) % len(clean_v)] for j in range(30)]
        rows.append((i, " ".join(words), "clean"))
    for i in range(40, 80):
        words = [junk_v[(i * 5 + j) % len(junk_v)] for j in range(30)]
        rows.append((i, " ".join(words), "junk"))
    rows.append((80, None, "null"))
    rows.append((81, "", "empty"))
    return spark.createDataFrame(rows, "doc_id long, text string, kind string")


def test_quality_classifier_separates_and_is_deterministic(spark):
    from tikv_data_compare_spark.operators.sampling import quality_classifier

    docs = _qc_corpus(spark)
    seed = docs.filter((F.col("kind") == "clean") & (F.col("doc_id") < 20)).select("text")
    out = quality_classifier(docs.select("doc_id", "text"), seed, n_buckets=512)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 82
    meta = out.schema["q_sum_c"].metadata
    assert set(meta) == {"qc_thr_c", "qc_n_buckets", "qc_algo", "qc_text_col"}
    thr = meta["qc_thr_c"]
    # every clean doc keeps, every junk doc drops — full separation on the
    # planted vocabularies (including clean docs OUTSIDE the seed subset:
    # the model generalizes by vocabulary, not membership)
    for i in range(40):
        assert rows[i]["q_keep"] is True, f"clean doc {i} dropped"
    for i in range(40, 80):
        assert rows[i]["q_keep"] is False, f"junk doc {i} kept"
    # zero-feature docs: 0 feats, NULL score, NULL verdict (unconfirmable)
    for i in (80, 81):
        assert rows[i]["q_n_feats"] == 0
        assert rows[i]["q_sum_c"] is None and rows[i]["q_keep"] is None
    # the verdict IS the cross-multiplied threshold test
    for r in rows.values():
        if r["q_sum_c"] is not None:
            assert r["q_keep"] == (r["q_sum_c"] >= thr * r["q_n_feats"])
    # deterministic end-to-end (driver-frozen literals, no rand anywhere)
    again = {r["doc_id"]: r for r in quality_classifier(
        docs.select("doc_id", "text"), seed, n_buckets=512
    ).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_quality_classifier_explicit_crawl_and_validation(spark):
    import pytest

    from tikv_data_compare_spark.operators.sampling import quality_classifier

    docs = _qc_corpus(spark)
    seed = docs.filter(F.col("kind") == "clean").select("text")
    crawl = docs.filter(F.col("kind") == "junk").select(F.col("text").alias("body"))
    out = quality_classifier(
        docs.select("doc_id", "text"), seed, crawl=crawl,
        crawl_text_col="body", n_buckets=512,
    )
    rows = {r["doc_id"]: r["q_keep"] for r in out.collect()}
    assert all(rows[i] for i in range(40))
    assert not any(rows[i] for i in range(40, 80))
    # note on "inverted labels": they do NOT fail — the NB weights are
    # learned FROM the labels, so the seed class scores high by
    # construction whichever way round it is passed (the classifier just
    # learns the inverted notion of quality).  The degenerate case the
    # slope guard exists for is seed ≡ crawl: every bucket weight freezes
    # to exactly 0, all docs land in one histogram bin, and the ridge
    # keeps the slope at 0 → loud failure, not a silently-useless gate.
    same = docs.filter(F.col("kind") == "clean").select("text")
    with pytest.raises(ValueError, match="separate seed from crawl"):
        quality_classifier(
            docs.select("doc_id", "text"), same, crawl=same, n_buckets=512
        )
    with pytest.raises(ValueError, match="n_buckets"):
        quality_classifier(docs.select("doc_id", "text"), seed, n_buckets=1)


def test_curate_quality_classifier_gate(spark):
    from tikv_data_compare_spark.operators.curate import curate

    docs = _qc_corpus(spark).filter(F.col("doc_id").isin(
        *[i for i in range(0, 10)], *[i for i in range(40, 50)]
    )).select("doc_id", "text")
    seed = _qc_corpus(spark).filter(
        (F.col("kind") == "clean") & (F.col("doc_id") >= 20)
    ).select("text")
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    kept, attrition = curate(docs, quality_seed=seed, **off)
    try:
        stages = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        assert "quality_classifier" in stages
        kept_ids = {r["doc_id"] for r in kept.collect()}
        assert kept_ids == set(range(0, 10))
    finally:
        kept.unpersist()
    # explicit threshold override: an absurdly high bar drops everything
    kept2, attr2 = curate(docs, quality_seed=seed, min_quality_c=10**9, **off)
    try:
        stages2 = {r["stage"]: r["n_out"] for r in attr2.collect()}
        assert stages2["quality_classifier"] == 0
    finally:
        kept2.unpersist()
    # loud validation
    import pytest
    with pytest.raises(ValueError, match="min_quality_c requires"):
        curate(docs, min_quality_c=5, **off)
    with pytest.raises(ValueError, match="quality_crawl requires"):
        curate(docs, quality_crawl=seed, **off)


def test_quality_model_parquet_roundtrip_scores_identically(spark, tmp_path):
    """The fit/score seam: quality_model -> parquet -> read -> score must
    equal the one-call quality_classifier bit-for-bit (parquet preserves
    the column-metadata stamp carrying the trained threshold), and an
    unstamped weight table is rejected loudly."""
    import pytest

    from tikv_data_compare_spark.operators.sampling import (
        quality_classifier,
        quality_model,
        quality_score_with_model,
    )

    docs = _qc_corpus(spark)
    seed = docs.filter((F.col("kind") == "clean") & (F.col("doc_id") < 20)).select("text")
    corpus = docs.select("doc_id", "text")
    one_call = {tuple(r) for r in quality_classifier(corpus, seed, n_buckets=512).collect()}

    model = quality_model(corpus, seed, n_buckets=512)
    path = str(tmp_path / "qc_model.pq")
    model.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    assert (reloaded.schema["_w_c"].metadata or {}).get("qc_n_buckets") == 512
    scored = {
        tuple(r)
        for r in quality_score_with_model(corpus, reloaded).collect()
    }
    assert scored == one_call

    # a second corpus scores with the SAME frozen model (the score-many
    # half): only junk docs -> nothing keeps
    junk_only = docs.filter(F.col("kind") == "junk").select("doc_id", "text")
    j = quality_score_with_model(junk_only, reloaded)
    assert j.agg(F.sum(F.col("q_keep").cast("long"))).collect()[0][0] == 0

    bare = spark.createDataFrame(
        [(r["_b"], r["_w_c"]) for r in reloaded.collect()], "_b long, _w_c long"
    )
    with pytest.raises(ValueError, match="build stamp"):
        quality_score_with_model(corpus, bare)
    with pytest.raises(ValueError, match="quality_model"):
        quality_score_with_model(corpus, corpus)
