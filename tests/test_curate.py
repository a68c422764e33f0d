"""End-to-end curation pipeline: each stage drops exactly the planted
offenders, the attrition report reconciles, and survivors are clean."""

from pyspark.sql import functions as F

import pytest

from tikv_data_compare_spark.operators.curate import curate


@pytest.fixture(autouse=True)
def _narrow_shuffles(spark):
    """6-row fixtures through a many-stage pipeline: 32-wide shuffles are
    pure scheduler overhead here (209s → ~60s with 4)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)

GOOD = (
    "the quick brown fox jumps over the lazy dog and it runs to the river "
    "bank where a friendly old man is reading the morning paper in the sun"
)
GOOD2 = (
    "a storm is coming over the hills and the farmers are bringing in the "
    "harvest before the rain starts to fall on the open fields of wheat"
)


def _docs(spark):
    rows = [
        (1, GOOD),                       # keeper
        (2, GOOD),                       # exact duplicate of 1 → exact_dedup
        (3, GOOD + " extra tail words"), # near-dup of 1 → near_dedup
        (4, "tiny"),                     # fails quality (too few tokens)
        (5, " ".join(["the spam is here"] * 40)),  # repetition offender
        (6, GOOD2),                      # keeper
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _python_rdds(df) -> list[str]:
    """RDD lineages of the frame's leaf scans that run a PythonRDD (the
    main lineage alone hides a broadcast side's scan)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    lineages = (leaves.apply(i).execute().toDebugString() for i in range(leaves.size()))
    return [s for s in lineages if "PythonRDD" in s]


def test_curate_stages_drop_planted_offenders(spark):
    kept, attrition = curate(_docs(spark))
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {1, 6}
    rep = {r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"]) for r in attrition.collect()}
    assert rep["exact_dedup"] == (6, 5, 1)        # doc 2
    assert rep["near_dedup"] == (5, 4, 1)         # doc 3
    assert rep["quality"][2] >= 1                 # doc 4 (and possibly 5)
    # the funnel reconciles: each stage's n_in is the previous n_out
    order = ["exact_dedup", "near_dedup", "quality", "repetition"]
    for a, b in zip(order, order[1:]):
        assert rep[a][1] == rep[b][0]
    assert rep["repetition"][1] == 2
    # the report is a JVM literal frame: no PythonRDD behind it
    assert _python_rdds(attrition) == []
    assert attrition.schema.simpleString() == (
        "struct<stage:string,n_in:bigint,n_out:bigint,n_dropped:bigint>"
    )


def test_literal_frames_start_no_python_tasks(spark, documents):
    """The stopword tables of text_stats/lang_id are JVM literal frames:
    ``createDataFrame(<list>)`` would serve them through a PythonRDD and
    start Python tasks on every action (curate's attrition report is
    checked in test_curate_stages_drop_planted_offenders)."""
    from tikv_data_compare_spark.operators import text as tx

    docs = documents.select("doc_id", "text")
    assert _python_rdds(tx.text_stats(docs)) == []
    assert _python_rdds(tx.lang_id(docs)) == []


def test_curate_null_text_doc_counted_as_dropped(spark):
    """A NULL-text doc emits no row from explode-based gate stages; the
    left-joined flags frame must still count it in the funnel (dropped at
    the stage whose gate it fails) instead of vanishing (r7, ADVICE):
    n_in of exact_dedup == input doc count, and the funnel reconciles."""
    docs = _docs(spark).unionByName(
        spark.createDataFrame([(7, None)], "doc_id long, text string")
    )
    kept, attrition = curate(docs)
    rep = {r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"]) for r in attrition.collect()}
    assert rep["exact_dedup"][0] == 7  # NULL doc is in the funnel
    order = ["exact_dedup", "near_dedup", "quality", "repetition"]
    for a, b in zip(order, order[1:]):
        assert rep[a][1] == rep[b][0]
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert 7 not in kept_ids and kept_ids == {1, 6}
    # total attrition + survivors == input
    assert rep["repetition"][1] + sum(v[2] for v in rep.values()) == 7
    kept.unpersist()


def test_curate_pii_and_decontamination_stages(spark):
    docs = _docs(spark).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 6, F.concat(F.col("text"), F.lit(" mail me at bob@leak.com"))
        ).otherwise(F.col("text")),
    )
    probes = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "probe_id long, text string"
    )
    kept, attrition = curate(docs, drop_pii=True, probes=probes)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    # doc 6 dropped by pii, doc 1 dropped by decontamination → empty corpus
    assert kept_ids == set()
    rep = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
    assert rep["pii"] == 1 and rep["decontamination"] == 1


def test_curate_redact_pii_masks_survivors_without_changing_attrition(spark):
    docs = _docs(spark).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 6,
            F.concat(F.col("text"), F.lit(" mail bob@leak.com or 123456789")),
        ).otherwise(F.col("text")),
    )
    kept_plain, attr_plain = curate(docs)
    kept_red, attr_red = curate(docs, redact_pii=True)
    try:
        # a transform, not a gate: identical survivor ids and funnel counts
        assert {r["doc_id"] for r in kept_red.collect()} == {
            r["doc_id"] for r in kept_plain.collect()
        }
        assert sorted(map(tuple, attr_red.collect())) == sorted(
            map(tuple, attr_plain.collect())
        )
        texts = {r["doc_id"]: r["text"] for r in kept_red.collect()}
        assert texts[6].endswith(" mail <EMAIL> or <NUM>")
        assert texts[1] == {r["doc_id"]: r["text"] for r in kept_plain.collect()}[1]
    finally:
        kept_plain.unpersist()
        kept_red.unpersist()


def test_curate_redact_composes_with_drop_pii(spark):
    docs = _docs(spark).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 6,
            F.concat(F.col("text"), F.lit(" mail bob@leak.com")),
        ).otherwise(F.col("text")),
    )
    kept, attrition = curate(docs, drop_pii=True, redact_pii=True)
    try:
        # the flagged doc dropped at the pii GATE; redaction of the rest is
        # a no-op, but the composition must not error or double-drop
        assert {r["doc_id"] for r in kept.collect()} == {1}
        rep = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        assert rep["pii"] == 1
    finally:
        kept.unpersist()


def test_curate_decontam_max_fp_df_passthrough(spark):
    docs = _docs(spark)
    probes = spark.createDataFrame(
        [(9, "fox jumps over the lazy dog and")], "probe_id long, text string"
    )
    # a generous cap is byte-identical to the exact stage
    kept_exact, attr_exact = curate(docs, probes=probes, decontam_span=24)
    kept_cap, attr_cap = curate(
        docs, probes=probes, decontam_span=24, decontam_max_fp_df=10**9
    )
    try:
        assert {r["doc_id"] for r in kept_cap.collect()} == {
            r["doc_id"] for r in kept_exact.collect()
        }
        rep = {r["stage"]: r["n_dropped"] for r in attr_exact.collect()}
        assert rep["decontamination_exact"] >= 1  # the probe really bites
    finally:
        kept_exact.unpersist()
        kept_cap.unpersist()
    # loud validation, the bloom-knob convention
    with pytest.raises(ValueError, match="decontam_max_fp_df requires"):
        curate(docs, decontam_max_fp_df=50)


def test_curate_language_gate(spark):
    """keep_langs appends a 'language' stage: only docs predicted in the
    list survive; earlier-stage drops are not resurrected."""
    from tikv_data_compare_spark.operators.curate import curate

    en = ("the and is of to in it for on with this that was are "
          "be have from or had") .split()
    fr = "le la les et de un une est pour dans ce que sur avec ne pas au du il".split()
    rows = [(i, " ".join(en) + f" doc{i}") for i in range(8)]
    rows += [(100 + i, " ".join(fr) + f" doc{100+i}") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept, attrition = curate(
        docs, near_dup_jaccard_c=10001, keep_langs=["en"],
        max_dup_word_frac_c=10000, max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: (r["n_in"], r["n_out"]) for r in attrition.collect()}
        assert "language" in stages
        kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert kept_ids == set(range(8))  # the fr docs dropped at the language stage
        assert stages["language"][1] == 8
    finally:
        kept.unpersist()


def test_curate_language_gate_validation_and_unknown_docs(spark):
    """r8 review hardening: unknown/bare-string codes raise; docs with ZERO
    stopword evidence get a NULL prediction and drop at the language
    stage (the documented unconfirmable-language path, now reachable)."""
    import pytest

    from tikv_data_compare_spark.operators.curate import curate
    from tikv_data_compare_spark.operators.text import lang_id

    junk = spark.createDataFrame(
        [(1, "zzz qqq xxx vvv kkk www yyy"), (2, None)], "doc_id long, text string"
    )
    preds = {r["doc_id"]: r["pred_lang"] for r in lang_id(junk).collect()}
    assert preds == {1: None, 2: None}

    docs = spark.createDataFrame([(1, "the and is of to")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not in the classifier"):
        curate(docs, keep_langs=["klingon"])
    with pytest.raises(ValueError, match="not in the classifier"):
        curate(docs, keep_langs="enx")  # bare string normalized, then rejected
    # bare valid string works (normalized to ['en'])
    kept, attrition = curate(
        docs, keep_langs="EN", near_dup_jaccard_c=10001,
        max_dup_word_frac_c=10000, max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: r["n_out"] for r in attrition.collect()}
        assert "language" in stages
    finally:
        kept.unpersist()


def test_curate_fluency_gate(spark):
    """max_lm_nll_c appends a 'fluency' stage: shuffled-word docs score
    above the cap and drop; the repeated fluent docs survive; the funnel
    reconciles."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators.curate import curate
    from tikv_data_compare_spark.operators.text import ngram_lm_score

    en = ("the and is of to in it for on with this that was are "
          "be have from or had").split()
    fluent = " ".join(en)
    # shuffled = same vocabulary, never-seen bigram orders
    shuffled = " ".join(en[::2] + en[1::2][::-1])
    rows = [(i, fluent + f" doc{i} filler") for i in range(10)]
    rows += [(100, shuffled + " doc100 filler")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r["doc_id"]: r["lm_nll_c"] for r in ngram_lm_score(docs).collect()}
    cap = (max(scores[i] for i in range(10)) + scores[100]) // 2
    kept, attrition = curate(
        docs, near_dup_jaccard_c=10001, max_lm_nll_c=int(cap),
        max_dup_word_frac_c=10000, max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: (r["n_in"], r["n_out"]) for r in attrition.collect()}
        assert "fluency" in stages and stages["fluency"] == (11, 10)
        kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert kept_ids == set(range(10))
        for r in attrition.collect():
            assert r["n_in"] - r["n_dropped"] == r["n_out"]
    finally:
        kept.unpersist()

    with __import__("pytest").raises(ValueError, match="max_lm_nll_c"):
        curate(docs, max_lm_nll_c=0)


def test_curate_fluency_gate_external_train(spark):
    """lm_train scores against a clean reference model: docs fluent under
    the reference survive, out-of-distribution docs drop — and unscoreable
    (<2-word) docs drop at the fluency stage, not silently pass."""
    from tikv_data_compare_spark.operators.curate import curate
    from tikv_data_compare_spark.operators.text import ngram_lm_score

    # stopword-rich so the docs clear the quality gate and actually REACH
    # the fluency stage
    base = ("the and is of to in it for on with alpha beta gamma delta "
            "epsilon zeta eta theta iota kappa")
    ref = spark.createDataFrame(
        [(1000 + i, base) for i in range(10)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, base + " one"), (2, base + " two"),
         (3, "the and is of to in it for on with zz qq ww rr tt yy uu ii oo pp")],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["lm_nll_c"]
        for r in ngram_lm_score(docs, train=ref).collect()
    }
    cap = (max(scores[1], scores[2]) + scores[3]) // 2
    kept, attrition = curate(
        docs, near_dup_jaccard_c=10001, max_lm_nll_c=int(cap), lm_train=ref,
        max_dup_word_frac_c=10000, max_top_bigram_frac_c=10000,
    )
    try:
        kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert kept_ids == {1, 2}
    finally:
        kept.unpersist()


def test_curate_c4_and_blocklist_stages(spark):
    """c4_rules appends a 'boilerplate' stage (lorem/brace/kept-line rules)
    and blocked_sources appends 'url_blocklist'; planted offenders drop at
    their stage and the funnel reconciles."""
    import pytest
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators.curate import curate

    body = "the quick brown fox jumps over the lazy dog again today."

    def good(i):  # unique per doc so exact/near dedup stay out of the way
        return "\n".join([body] * 4 + [f"unique closing marker line {i} here."])

    rows = [
        (1, good(1), "web"),
        (2, good(2) + "\nlorem ipsum dolor sit amet.", "web"),   # lorem
        (3, good(3) + "\nvar f = function() { return 1; }", "web"),  # brace
        (4, "short line\nno punct here\nok.", "web"),  # <3 kept lines
        (5, good(5), "spamfarm.example"),  # blocklisted source
        (6, good(6), None),  # NULL source keeps (default-keep)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept, attrition = curate(
        docs,
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
        c4_rules=True, blocked_sources=["spamfarm.example"],
    )
    try:
        stages = {r["stage"]: (r["n_in"], r["n_out"]) for r in attrition.collect()}
        # quality gate (min_tokens=20) may drop doc 4's short text first —
        # construct expectations from the stage series instead of absolutes
        assert "boilerplate" in stages and "url_blocklist" in stages
        kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert 1 in kept_ids and 6 in kept_ids
        assert {2, 3, 4, 5}.isdisjoint(kept_ids)
        # boilerplate dropped 2 and 3 (lorem, brace); doc 4 fails there too
        # unless quality already took it
        n_in, n_out = stages["boilerplate"]
        assert n_in - n_out >= 2
        # blocklist dropped exactly doc 5 (doc 6's NULL source keeps)
        n_in, n_out = stages["url_blocklist"]
        assert n_in - n_out == 1
        for r in attrition.collect():
            assert r["n_in"] - r["n_dropped"] == r["n_out"]
    finally:
        kept.unpersist()

    with pytest.raises(ValueError, match="blocked_sources"):
        curate(docs, blocked_sources=[])
    with pytest.raises(ValueError, match="no 'source'"):
        curate(docs.drop("source"), blocked_sources=["web"])


def test_curate_exact_span_decontamination_stage(spark):
    """decontam_span switches the decontamination stage to the exact
    verbatim-span criterion: a doc merely REUSING probe vocabulary (high
    3-gram overlap, no long exact span) survives, while a doc embedding
    the probe verbatim drops."""
    span = "the quick brown fox jumps over the lazy dog"
    verbatim = f"document that embeds {span} exactly once plus unique filler here."
    reworded = ("quick brown animals jump; the fox is lazy; dogs jump over "
                "the brown fox sometimes, quick and lazy.")
    docs = spark.createDataFrame(
        [(1, verbatim + " " + "pad " * 30), (2, reworded + " " + "pad " * 30)],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, span)], "probe_id long, text string"
    )
    kept, attrition = curate(
        docs, probes=probes, decontam_span=30,
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        assert "decontamination_exact" in stages
        assert stages["decontamination_exact"] == 1
        kept_ids = {r["doc_id"] for r in kept.collect()}
        assert kept_ids == {2}
    finally:
        kept.unpersist()


def test_curate_self_dedup_span_stage(spark):
    """self_dedup_span appends the corpus-internal ExactSubstr gate: a doc
    sharing a verbatim span with a SMALLER-id doc drops (globally-first
    keep rule); unrelated docs and the earliest carrier keep."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"first carrier intro {span} unique tail one " + "pad " * 20),
            (2, f"second carrier body {span} other filler text " + "mat " * 20),
            (3, GOOD2 + " completely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    kept, attrition = curate(
        docs, self_dedup_span=30,
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        assert stages.get("self_dedup_span") == 1
        assert {r["doc_id"] for r in kept.collect()} == {1, 3}
    finally:
        kept.unpersist()


def test_curate_span_stages_share_one_winnow_pass(spark, monkeypatch):
    """VERDICT r15 task 6: with decontam_span == self_dedup_span, curate
    winnows the corpus ONCE and threads the persisted frame through both
    operators' doc_fps= seams — pinned by counting winnow_fingerprints
    invocations (corpus 1 + probes 1 = 2; unequal spans fall back to one
    corpus pass per operator = 3)."""
    from tikv_data_compare_spark.operators import curate as cur_mod
    from tikv_data_compare_spark.operators import text as tx

    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"alpha intro {span} unique tail one " + "pad " * 20),
            (2, f"beta body {span} other filler text " + "mat " * 20),
            (3, GOOD2 + " unrelated content"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(9, span)], "probe_id long, text string")
    calls = []
    real = tx.winnow_fingerprints

    def counting(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    monkeypatch.setattr(tx, "winnow_fingerprints", counting)
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    kept, attrition = cur_mod.curate(
        docs, probes=probes, decontam_span=30, self_dedup_span=30, **off
    )
    try:
        assert len(calls) == 2, f"expected 1 corpus + 1 probe winnow, saw {len(calls)}"
        stages = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        # decontamination (runs first) drops both carriers; self-dedup then
        # has nothing left to drop — both stages present in the funnel
        assert "decontamination_exact" in stages and "self_dedup_span" in stages
        assert {r["doc_id"] for r in kept.collect()} == {3}
    finally:
        kept.unpersist()
    calls.clear()
    kept2, _ = cur_mod.curate(
        docs, probes=probes, decontam_span=30, self_dedup_span=26, **off
    )
    try:
        assert len(calls) == 3, f"unequal spans: expected 3 winnows, saw {len(calls)}"
    finally:
        kept2.unpersist()
    # r18 (ADVICE): _fps_for memoizes by span — the drop stage and the trim
    # transform at the SAME non-shared span build ONE winnow frame, not two
    # (corpus span-30 shared + probe + one span-26 frame for both = 3)
    calls.clear()
    kept3, _ = cur_mod.curate(
        docs, probes=probes, decontam_span=30,
        self_dedup_span=26, self_dedup_trim_span=26, **off
    )
    try:
        assert len(calls) == 3, (
            f"equal-geometry drop+trim must share one winnow frame, "
            f"saw {len(calls)} winnow calls"
        )
    finally:
        kept3.unpersist()


def test_curate_trim_snap_knob(spark, monkeypatch):
    """r18: self_dedup_trim_snap threads to the operator; invalid values
    and snap-without-span raise in the PREAMBLE (zero frames built)."""
    from tikv_data_compare_spark.operators import curate as cur_mod
    from tikv_data_compare_spark.operators import text as tx

    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"head one {span} tail one " + "pad " * 15),
            (2, f"headword{span}tailword " + "mat " * 15),
        ],
        "doc_id long, text string",
    )
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    kept, _ = cur_mod.curate(
        docs, self_dedup_trim_span=24, self_dedup_trim_snap="word", **off
    )
    try:
        got = {r["doc_id"]: r["text"] for r in kept.collect()}
        assert span not in got[2]
        # word snap: the flanking fragments 'headword'/'tailword' go too
        assert "headword" not in got[2] and "tailword" not in got[2]
    finally:
        kept.unpersist()
    calls = []
    real = tx.winnow_fingerprints

    def counting(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    monkeypatch.setattr(tx, "winnow_fingerprints", counting)
    with pytest.raises(ValueError, match="snap must be"):
        cur_mod.curate(
            docs, self_dedup_trim_span=24, self_dedup_trim_snap="sentence",
            **off,
        )
    with pytest.raises(ValueError, match="requires self_dedup_trim_span"):
        cur_mod.curate(docs, self_dedup_trim_snap="word", **off)
    assert calls == [], "snap validation ran after frame building"


def test_curate_decontam_algo_override(spark):
    """decontam_algo switches only the span stages' winnow hash; the
    verbatim verdicts are algo-independent, so the kept set is identical.
    r18: the no-override fallback is xxhash64 (no longer inherits the
    near-dup ``algo``), so the md5 gate hash is the explicit override."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"alpha intro {span} unique tail one " + "pad " * 20),
            (2, GOOD2 + " unrelated content"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(9, span)], "probe_id long, text string")
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    base, _ = curate(
        docs, probes=probes, decontam_span=30, decontam_algo="md5i64", **off
    )
    fast, _ = curate(docs, probes=probes, decontam_span=30, **off)
    try:
        assert {r["doc_id"] for r in fast.collect()} == {
            r["doc_id"] for r in base.collect()
        } == {2}
    finally:
        base.unpersist()
        fast.unpersist()


def test_curate_fuzzy_decontamination_stage(spark):
    """decontam_fuzzy_jaccard_c appends the paraphrase-level screen as an
    INDEPENDENT stage: a doc that is a light rewording of a probe (high
    shingle Jaccard, no exact criterion in play) drops there, an unrelated
    doc survives; probes sharing the 'doc_id' column are renamed
    defensively like the exact stage."""
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank today in the late golden afternoon light")
    para = " ".join(base.split()[2:])  # first two words dropped
    docs = spark.createDataFrame(
        [(1, base), (2, "entirely different content about parquet files "
                        "and shuffle partitions in a cluster with many "
                        "other things to read and write in every job")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(7, para)], "doc_id long, text string")
    kept, attrition = curate(
        docs, probes=probes, decontam_fuzzy_jaccard_c=8000,
        max_contamination_hits=10**9,  # neutralize the n-gram stage
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        assert "decontamination_fuzzy" in stages
        assert stages["decontamination_fuzzy"] == 1
        assert stages["decontamination"] == 0
        assert {r["doc_id"] for r in kept.collect()} == {2}
    finally:
        kept.unpersist()
    import pytest

    with pytest.raises(ValueError, match="decontam_fuzzy_jaccard_c"):
        curate(docs, decontam_fuzzy_jaccard_c=8000)


def test_curate_exact_span_probes_sharing_id_column(spark):
    """Probes cut from the corpus itself carry the same 'doc_id' column as
    the docs side; the exact-span stage must not hit an ambiguous-column
    error (r10 review: the probe id is renamed defensively)."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    filler = "and it is on the table with a friend of the house "
    docs = spark.createDataFrame(
        [(1, f"prefix {span} suffix " + filler * 3),
         (2, "completely different text here " + filler * 3)],
        "doc_id long, text string",
    )
    probes = docs.limit(1).selectExpr("doc_id", "substr(text, 8, 40) AS text")
    kept, attrition = curate(
        docs, probes=probes, decontam_span=24,
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
    )
    try:
        stages = {r["stage"]: r["n_dropped"] for r in attrition.collect()}
        assert stages["decontamination_exact"] == 1
        assert {r["doc_id"] for r in kept.collect()} == {2}
    finally:
        kept.unpersist()


def test_curate_every_optional_stage_composes(spark):
    """All seven opt-in gates enabled together: the funnel builds, stage
    order is the documented one, counts reconcile, and the one planted
    survivor passes every gate."""
    en = ("the and is of to in it for on with this that was are be have "
          "from or had we you").split()
    body = " ".join(en) + ". " + " ".join(en[::-1]) + "."
    rows = [
        (1, body + " survivor doc one extra.", "web"),
        (2, body + " lorem ipsum dolor sit amet.", "web"),      # c4
        (3, body + " leak me now please today.", "web"),        # decontam
        (4, body + " spam source doc here now.", "blockedsrc"),  # blocklist
        (5, body + " mail bob@leak.example.com now.", "web"),   # pii
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    probes = spark.createDataFrame(
        [(9, "leak me now please today")], "probe_id long, text string"
    )
    kept, attrition = curate(
        docs,
        near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
        max_top_bigram_frac_c=10000,
        drop_pii=True,
        probes=probes, decontam_span=20,
        keep_langs=["en"],
        max_lm_nll_c=50_000_000,
        c4_rules=True, c4_min_kept_lines=1,
        blocked_sources=["blockedsrc"],
    )
    try:
        stages = [r["stage"] for r in attrition.collect()]
        assert stages == [
            "exact_dedup", "near_dedup", "quality", "repetition", "pii",
            "decontamination_exact", "language", "fluency", "boilerplate",
            "url_blocklist",
        ]
        rep = {r["stage"]: (r["n_in"], r["n_out"], r["n_dropped"])
               for r in attrition.collect()}
        for a, b in zip(stages, stages[1:]):
            assert rep[a][1] == rep[b][0]
        kept_ids = {r["doc_id"] for r in kept.collect()}
        assert kept_ids == {1}
    finally:
        kept.unpersist()


def test_curate_self_dedup_threads_hot_fp_threshold(spark):
    """decontam_max_fp_df applies to the self_dedup_span stage too (r16 —
    omitting it ran the uncapped winnow self-join, measured catastrophic
    at sf1): legal without probes when self_dedup_span is set, and the
    kept set is identical to the unthresholded run (rekey is exact)."""
    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"first carrier intro {span} unique tail one " + "pad " * 20),
            (2, f"second carrier body {span} other filler text " + "mat " * 20),
            (3, GOOD2 + " completely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    base, _ = curate(docs, self_dedup_span=30, **off)
    capped, _ = curate(docs, self_dedup_span=30, decontam_max_fp_df=1, **off)
    try:
        assert {r["doc_id"] for r in capped.collect()} == {
            r["doc_id"] for r in base.collect()
        } == {1, 3}
    finally:
        base.unpersist()
        capped.unpersist()
    # still loud with NO span stage at all
    with pytest.raises(ValueError, match="span stage"):
        curate(docs, decontam_max_fp_df=50, **off)


def test_curate_decontam_algo_requires_span_stage(spark):
    """r17 (ADVICE): decontam_algo only feeds the exact-span winnow stages
    — with neither configured it must raise, not be silently ignored."""
    docs = _docs(spark)
    with pytest.raises(ValueError, match="decontam_algo requires a span stage"):
        curate(docs, decontam_algo="xxhash64")
    # fuzzy-only decontamination does NOT consume decontam_algo either
    probes = spark.createDataFrame([(9, GOOD)], "probe_id long, text string")
    with pytest.raises(ValueError, match="decontam_algo requires a span stage"):
        curate(
            docs, probes=probes, decontam_fuzzy_jaccard_c=8000,
            decontam_algo="xxhash64",
        )


def test_curate_validations_run_before_any_frame_is_built(spark, monkeypatch):
    """r17 (ADVICE): every cheap argument validation fires BEFORE the
    shared winnow frame is built/persisted — on the old layout a bad
    keep_langs after shared_fps.persist() leaked the persisted frame.
    Pinned by counting winnow_fingerprints calls: a raising call must
    make ZERO."""
    from tikv_data_compare_spark.operators import text as tx

    docs = _docs(spark)
    probes = spark.createDataFrame([(9, GOOD)], "probe_id long, text string")
    calls = []
    real = tx.winnow_fingerprints

    def counting(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    monkeypatch.setattr(tx, "winnow_fingerprints", counting)
    for bad_kwargs, msg in [
        (dict(keep_langs=["xx"]), "keep_langs"),
        (dict(max_lm_nll_c=0), "max_lm_nll_c"),
        (dict(min_quality_c=5), "min_quality_c requires quality_seed"),
        (dict(quality_crawl=docs), "quality_crawl requires quality_seed"),
        (dict(dsir_target=docs, dsir_top_frac=1.5), "dsir_top_frac"),
        (dict(blocked_sources=[]), "blocked_sources"),
    ]:
        with pytest.raises(ValueError, match=msg):
            curate(docs, probes=probes, decontam_span=30, **bad_kwargs)
    assert calls == [], "a validation error was raised AFTER frame building"


def test_curate_self_dedup_own_geometry_winnow_is_persisted(spark, monkeypatch):
    """r17 (ADVICE): when self_dedup_span differs from decontam_span, the
    self-dedup stage gets its OWN pre-persisted winnow frame through the
    doc_fps seam (its subtree has up to three consumers under max_fp_df)
    instead of recomputing the HOF chain per consumer."""
    from tikv_data_compare_spark.operators import text as tx

    span = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"alpha intro {span} unique tail one " + "pad " * 20),
            (2, f"beta body {span} other filler text " + "mat " * 20),
            (3, GOOD2 + " unrelated content"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(9, span)], "probe_id long, text string")
    seen = {}
    # r19: curate's gate consumes the partner-count-free kept variant
    # (self_dedup_kept) — the persisted-doc_fps property pinned here is
    # the same, just through the new seam
    real = tx.self_dedup_kept

    def capturing(*a, **kw):
        fps = kw.get("doc_fps")
        seen["doc_fps"] = fps
        # snapshot at CALL time: curate() unpersists the frame before
        # returning, so a post-return storageLevel read would show cold
        if fps is not None:
            lv = fps.storageLevel
            seen["persisted_at_call"] = lv.useMemory or lv.useDisk
        return real(*a, **kw)

    monkeypatch.setattr(tx, "self_dedup_kept", capturing)
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    kept, _ = curate(
        docs, probes=probes, decontam_span=30, self_dedup_span=26,
        decontam_max_fp_df=50, **off
    )
    try:
        assert seen["doc_fps"] is not None, "self-dedup ran without a doc_fps frame"
        assert seen["persisted_at_call"], "doc_fps frame was not persisted"
    finally:
        kept.unpersist()


def test_curate_self_dedup_trim_transform(spark):
    """r17: self_dedup_trim_span is a TRANSFORM (redact_pii convention) —
    attrition is byte-identical to a non-trimming run, survivors' text has
    the shared spans cut out (matching the standalone operator), and the
    trim reference is the FULL corpus (a span donated by a doc another
    gate dropped still trims the survivor)."""
    from tikv_data_compare_spark.operators import text as tx

    span = "the quick brown fox jumps over the lazy dog tonight"
    # every doc passes the core gates (GOOD/GOOD2 shapes); 1 and 2 share
    # the planted span, 1 is the earlier carrier
    docs = spark.createDataFrame(
        [
            (1, f"{GOOD} {span}"),
            (2, f"{GOOD2} {span}"),
            (3, "the old lighthouse keeper walks along the shore every "
                "evening and he watches the ships as they pass by the "
                "rocky coast under a clear and quiet evening sky"),
        ],
        "doc_id long, text string",
    )
    off = dict(near_dup_jaccard_c=10001, max_dup_word_frac_c=10000,
               max_top_bigram_frac_c=10000)
    plain_kept, plain_attr = curate(docs, **off)
    trim_kept, trim_attr = curate(docs, self_dedup_trim_span=24, **off)
    try:
        # attrition identical: trim gates nothing
        assert sorted(map(tuple, plain_attr.collect())) == sorted(
            map(tuple, trim_attr.collect())
        )
        got = {r["doc_id"]: r["text"] for r in trim_kept.collect()}
        exp = {
            r["doc_id"]: r["text_trimmed"]
            for r in tx.self_dedup_trim(docs, min_span=24).collect()
        }
        assert set(got) == {1, 2, 3}, f"core gates dropped docs: {sorted(got)}"
        assert got == {k: exp[k] for k in got}
        assert span in got[1] and span not in got[2]
        assert got[3] == exp[3] and "lighthouse" in got[3]
    finally:
        plain_kept.unpersist()
        trim_kept.unpersist()
    # composes with the DROP stage at a different span, and the algo/cap
    # knobs are legal with trim as the only span stage
    both_kept, both_attr = curate(
        docs, self_dedup_span=30, self_dedup_trim_span=24,
        decontam_max_fp_df=50, decontam_algo="xxhash64", **off
    )
    try:
        stages = {r["stage"] for r in both_attr.collect()}
        assert "self_dedup_span" in stages
        # doc 2 dropped by the stage; doc 1 kept whole (earlier carrier)
        ids = {r["doc_id"] for r in both_kept.collect()}
        assert ids == {1, 3}
    finally:
        both_kept.unpersist()


def test_curate_span_floor_validated_in_preamble(spark, monkeypatch):
    """A too-small span must raise from curate()'s preamble (zero frames
    built), not from the operator after the winnow frame is persisted."""
    from tikv_data_compare_spark.operators import text as tx

    docs = _docs(spark)
    calls = []
    real = tx.winnow_fingerprints

    def counting(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    monkeypatch.setattr(tx, "winnow_fingerprints", counting)
    for kw in (
        dict(self_dedup_span=5),
        dict(self_dedup_trim_span=3),
        dict(probes=docs.selectExpr("doc_id AS probe_id", "text"),
             decontam_span=2),
    ):
        with pytest.raises(ValueError, match="winnow geometry floor"):
            curate(docs, **kw)
    assert calls == []


def test_curate_error_path_releases_persisted_frames(spark, monkeypatch):
    """A gate raising mid-funnel leaks no persisted frame: the shingle
    cache and the winnow cache (warmed by overlapped count jobs) are
    released on the error path, like on success."""
    import time

    from tikv_data_compare_spark.operators import text as tx

    sc = spark.sparkContext

    def persistent_rdds():
        # let any in-flight warm-up job start, finish and register its
        # cache: wait for a 5 s window with no active job
        deadline = time.time() + 120
        quiet_since = time.time()
        while time.time() < deadline and time.time() - quiet_since < 5:
            if sc.statusTracker().getActiveJobsIds():
                quiet_since = time.time()
            time.sleep(0.2)
        return set(sc._jsc.getPersistentRDDs().keys())

    before = persistent_rdds()

    def failing_gate(*a, **kw):
        raise RuntimeError("injected gate failure")

    monkeypatch.setattr(tx, "repetition_stats", failing_gate)
    with pytest.raises(RuntimeError, match="injected gate failure"):
        curate(_docs(spark), self_dedup_trim_span=24)
    assert persistent_rdds() <= before
