"""Text operator tests: closed-form checks on constructed docs + invariances."""

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.operators import text as tx


def test_text_stats_closed_form(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat."), (2, "a b"), (3, "word")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.text_stats(df).collect()}
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["n_chars"] == 12
    assert rows[1]["n_stopwords"] == 1  # 'the'
    assert rows[1]["n_punct"] == 1
    # mean word len: (12 - 3 + 1) / 3 = 10/3 → 33333
    assert rows[1]["mean_word_len_c"] == 33333
    assert rows[2]["n_stopwords"] == 1  # 'a'
    assert rows[3]["n_tokens"] == 1 and rows[3]["n_stopwords"] == 0


def test_langid_prefers_matching_stopwords(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog", "en"), (2, "der hund und die katze", "de")],
        "doc_id long, text string, lang string",
    )
    rows = {r["doc_id"]: r for r in tx.lang_id(df).collect()}
    assert rows[1]["pred_lang"] == "en"
    assert rows[2]["pred_lang"] == "de"


def test_fingerprint_deterministic_and_content_keyed(spark, documents):
    docs = documents.limit(30)
    a = {r["doc_id"]: r["fingerprint"] for r in tx.fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in tx.fingerprint(docs.orderBy(F.rand(3))).collect()}
    assert a == b  # row order irrelevant
    # same text under a different id → same fingerprint
    moved = docs.limit(1).withColumn("doc_id", F.lit(424242))
    fp_orig = tx.fingerprint(docs.limit(1)).collect()[0]["fingerprint"]
    fp_moved = tx.fingerprint(moved).collect()[0]["fingerprint"]
    assert fp_orig == fp_moved


def test_fingerprint_short_docs(spark):
    df = spark.createDataFrame([(1, "hi"), (2, "one two")], "doc_id long, text string")
    rows = tx.fingerprint(df).collect()
    assert len(rows) == 2  # < 3 tokens → whole-text shingle, no crash


def test_token_count_bpe_ish(spark):
    df = spark.createDataFrame(
        [(1, "short words only"), (2, "supercalifragilistic word")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.token_count(df).collect()}
    assert rows[1]["n_words"] == 3 and rows[1]["n_tokens_bpe"] == 3
    # 'supercalifragilistic' (20 chars) → 1 + (20-6)//6 = 3 tokens
    assert rows[2]["n_tokens_bpe"] == 3 + 1


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing (k=5, w=4): any common substring of length >= w+k-1 = 8
    chars must yield at least one shared fingerprint between two docs."""
    common = "the quick brown fox jumps"
    df = spark.createDataFrame(
        [
            (1, f"XXXX {common} YYYY padding words here"),
            (2, f"completely different prefix {common} and suffix"),
            (3, "nothing in common with the others at all zzzz"),
        ],
        "doc_id long, text string",
    )
    fps = tx.winnow_fingerprints(df, "doc_id", "text", k=5, w=4)
    rows = fps.collect()
    sets = {}
    for r in rows:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[1] & sets[2], "docs sharing a long substring must share a fingerprint"
    # fingerprints are content-derived: identical docs → identical sets
    df2 = spark.createDataFrame([(9, f"XXXX {common} YYYY padding words here")], "doc_id long, text string")
    again = {r["fp"] for r in tx.winnow_fingerprints(df2, "doc_id", "text", k=5, w=4).collect()}
    assert again == sets[1]


def test_winnow_short_doc_has_fingerprint(spark):
    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    rows = tx.winnow_fingerprints(df, "doc_id", "text", k=5, w=4).collect()
    assert len(rows) == 1


def test_quality_flags_rules(spark):
    """Each rule flips independently; keep is the conjunction."""
    long_ok = "the quick brown fox jumps over the lazy dog and runs far " * 3
    df = spark.createDataFrame(
        [
            (1, long_ok),                       # passes everything
            (2, "too short"),                   # fails ok_len
            (3, ". , ! . , ! " * 40),           # punctuation-heavy
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.quality_flags(df).collect()}
    assert rows[1]["keep"] == 1
    assert rows[2]["ok_len"] == 0 and rows[2]["keep"] == 0
    assert rows[3]["ok_punct"] == 0 and rows[3]["keep"] == 0


def test_pii_counts_against_python_re(spark):
    import re

    texts = [
        (1, "contact bob@example.com or visit https://example.com/page now"),
        (2, "card 1234567890 and pin 12345 and code 999999"),
        (3, "clean text with no identifiers at all"),
        (4, "a@b.co a@b.co https://x.io 1234567"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in tx.pii_counts(df).collect()}
    for doc_id, text in texts:
        exp_email = len(re.findall(tx.PII_EMAIL_RE, text))
        exp_url = len(re.findall(tx.PII_URL_RE, text))
        exp_num = len(re.findall(tx.PII_LONGNUM_RE, text))
        r = rows[doc_id]
        assert (r["n_email"], r["n_url"], r["n_longnum"]) == (exp_email, exp_url, exp_num)
        assert r["has_pii"] == int(exp_email + exp_url + exp_num > 0)


def test_pii_redact_matches_python_re_chain(spark):
    import re

    texts = [
        (1, "contact bob@example.com or visit https://example.com/page now"),
        (2, "card 1234567890 and pin 12345 and code 999999"),
        (3, "clean text with no identifiers at all"),
        (4, "a@b.co a@b.co https://x.io/route/123456789 1234567"),
        (5, "mixed u123456@host.net then 777777777 end"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in tx.pii_redact(df).collect()}
    for doc_id, text in texts:
        exp = text
        for pat, tok in tx.PII_REDACTIONS:
            exp = re.sub(pat, tok, exp)
        assert got[doc_id] == exp, doc_id
    # the clean doc is byte-unchanged
    assert got[3] == texts[2][1]


def test_pii_redact_is_fixed_point_and_audits_clean(spark):
    df = spark.createDataFrame(
        [
            (1, "bob@example.com https://x.io/123456789 999999"),
            (2, "nothing to mask"),
        ],
        "doc_id long, text string",
    )
    once = {r["doc_id"]: r["text"] for r in tx.pii_redact(df).collect()}
    twice = {
        r["doc_id"]: r["text"] for r in tx.pii_redact(tx.pii_redact(df)).collect()
    }
    assert twice == once  # placeholders never re-match: one pass is final
    audit = {r["doc_id"]: r["has_pii"] for r in tx.pii_counts(tx.pii_redact(df)).collect()}
    assert audit == {1: 0, 2: 0}


def test_pii_redact_out_col_preserves_original(spark):
    df = spark.createDataFrame([(1, "mail bob@example.com")], "doc_id long, text string")
    r = tx.pii_redact(df, out_col="red").collect()[0]
    assert r["text"] == "mail bob@example.com"
    assert r["red"] == "mail <EMAIL>"


def test_top_bigrams_ranking_and_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "single")],
        "doc_id long, text string",
    )
    got = [(r["rnk"], r["bigram"], r["n"]) for r in tx.top_bigrams(df, k=3).collect()]
    # bigrams: doc1 → (a b)×2, (b a)×1; doc2 → (a b), (b c); doc3 → none
    assert got == [(1, "a b", 3), (2, "b a", 1), (3, "b c", 1)]


def test_repetition_stats_closed_form(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),        # 4 words, 1 distinct; bigrams: 'a a' ×3 of 3
            (2, "a b c d"),        # all distinct; each bigram once of 3
            (3, "spam"),           # single word: no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.repetition_stats(df).collect()}
    assert rows[1]["dup_word_frac_c"] == 7500      # (4-1)/4
    assert rows[1]["top_bigram_frac_c"] == 10000   # 3/3
    assert rows[2]["dup_word_frac_c"] == 0
    assert rows[2]["top_bigram_frac_c"] == 3333    # 1/3
    assert rows[3]["dup_word_frac_c"] == 0
    assert rows[3]["top_bigram_frac_c"] == 0


def test_contamination_flags_benchmark_overlap(spark):
    from tikv_data_compare_spark.operators.text import contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # contains probe
            (2, "completely unrelated content about databases"),  # clean
            (3, "quick brown fox"),                                # exactly one probe 3-gram
            (4, "hi"),                                             # short doc, no probe match
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "quick brown fox jumps over")],
        "probe_id long, text string",
    )
    rows = {r["doc_id"]: r for r in contamination(docs, probes, n=3).collect()}
    # doc 1: 7 grams, probe has 3 grams, all 3 appear in doc 1
    assert rows[1]["n_grams"] == 7 and rows[1]["n_hit_grams"] == 3
    assert rows[2]["n_hit_grams"] == 0
    assert rows[3]["n_grams"] == 1 and rows[3]["n_hit_grams"] == 1
    assert rows[3]["hit_frac_c"] == 10000
    assert rows[4]["n_hit_grams"] == 0


def test_contamination_self_probe_full_overlap(spark):
    from tikv_data_compare_spark.operators.text import contamination

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v u")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in contamination(docs, docs.withColumnRenamed("doc_id", "probe_id"), n=3).collect()}
    assert all(r["hit_frac_c"] == 10000 for r in out.values())


def test_compression_ratio_matches_zlib_and_separates_tails(spark):
    import zlib

    from tikv_data_compare_spark.operators.text import compression_ratio

    texts = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),  # repetitive
        (2, "The quick brown fox jumps over the lazy dog near a river bank."),
        (3, ""),  # empty → NULL ratio
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    for doc_id, text in texts:
        raw = text.encode()
        r = rows[doc_id]
        assert r["n_bytes"] == len(raw)
        assert r["n_compressed"] == len(zlib.compress(raw, 6))
        if raw:
            assert r["compression_ratio_c"] == round(10000 * len(zlib.compress(raw, 6)) / len(raw))
        else:
            assert r["compression_ratio_c"] is None
    # the repetitive doc must compress strictly better than natural prose
    assert rows[1]["compression_ratio_c"] < rows[2]["compression_ratio_c"]


def test_lang_id_ngram_real_languages(spark):
    """Cavnar-Trenkle rank profiles trained on small real-language corpora
    must classify held-out sentences of the same languages correctly."""
    from tikv_data_compare_spark.operators.text import lang_id_ngram, train_lang_profiles

    train = [
        ("en", "the quick brown fox jumps over the lazy dog and runs away with it"),
        ("en", "this is a sentence written in the english language for testing things"),
        ("en", "what could possibly go wrong with all of these words in english"),
        ("de", "der schnelle braune fuchs springt ueber den faulen hund und rennt weg"),
        ("de", "dies ist ein satz der in deutscher sprache geschrieben wurde zum testen"),
        ("de", "was koennte mit all diesen woertern auf deutsch schon schiefgehen"),
        ("fr", "le renard brun rapide saute par dessus le chien paresseux et il court"),
        ("fr", "ceci est une phrase ecrite en langue francaise pour tester des choses"),
        ("fr", "quest ce qui pourrait mal tourner avec tous ces mots en francais"),
        ("es", "el rapido zorro marron salta sobre el perro perezoso y se escapa con el"),
        ("es", "esta es una frase escrita en lengua espanola para probar algunas cosas"),
        ("es", "que podria salir mal con todas estas palabras en espanol"),
    ]
    tdf = spark.createDataFrame(train, "lang string, text string")
    profiles = train_lang_profiles(tdf, top=80)
    assert sorted(profiles) == ["de", "en", "es", "fr"]
    assert all(len(v) <= 80 for v in profiles.values())

    held_out = [
        (1, "the weather over here is nice and the people are friendly", "en"),
        (2, "die katze schlaeft den ganzen tag und die sonne scheint hell", "de"),
        (3, "le chat dort toute la journee et le soleil brille tres fort", "fr"),
        (4, "el gato duerme todo el dia y el sol brilla con mucha fuerza", "es"),
    ]
    hdf = spark.createDataFrame([(i, t) for i, t, _ in held_out], "doc_id long, text string")
    pred = {r["doc_id"]: r["pred_lang"] for r in lang_id_ngram(hdf, profiles, top=80).collect()}
    for i, _, want in held_out:
        assert pred[i] == want, (i, pred[i], want)


def test_lang_id_ngram_deterministic_and_bounded(spark, documents):
    """Profiles trained twice on the same labeled corpus are identical, and
    classification emits exactly one row per non-null-text doc."""
    from tikv_data_compare_spark.operators.text import lang_id_ngram, train_lang_profiles

    docs = documents.limit(300)
    p1 = train_lang_profiles(docs, top=50)
    p2 = train_lang_profiles(docs, top=50)
    assert p1 == p2
    out = lang_id_ngram(docs, p1, top=50)
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert set(r["pred_lang"] for r in rows) <= set(p1)


def test_lang_id_ngram_accuracy_floor(spark):
    """A SEEDED 100-doc held-out set with a pinned accuracy floor: the
    held-out-sentence test pins behavior on 4 sentences, but a profile-
    RANKING regression could still pass it — 0.90 over 100 generated docs
    cannot be met by a broken out-of-place distance (r8, VERDICT #7)."""
    import random

    from tikv_data_compare_spark.operators.text import lang_id_ngram, train_lang_profiles

    pools = {
        "en": ("the quick brown fox jumps over lazy dog and runs away with it this is "
               "a sentence written in english language for testing things what could "
               "possibly go wrong all of these words weather here nice people are "
               "friendly").split(),
        "de": ("der schnelle braune fuchs springt ueber den faulen hund und rennt weg "
               "dies ist ein satz in deutscher sprache geschrieben wurde zum testen was "
               "koennte mit all diesen woertern auf deutsch schon schiefgehen katze "
               "schlaeft ganzen tag sonne scheint hell").split(),
        "fr": ("le renard brun rapide saute par dessus chien paresseux et il court ceci "
               "est une phrase ecrite en langue francaise pour tester des choses quest "
               "ce qui pourrait mal tourner avec tous ces mots chat dort toute la "
               "journee soleil brille tres fort").split(),
        "es": ("el rapido zorro marron salta sobre perro perezoso y se escapa con esta "
               "es una frase escrita en lengua espanola para probar algunas cosas que "
               "podria salir mal todas estas palabras gato duerme todo dia sol brilla "
               "mucha fuerza").split(),
    }
    rng = random.Random(42)
    train = [
        (lang, " ".join(rng.choice(pool) for _ in range(14)))
        for lang, pool in sorted(pools.items())
        for _ in range(6)
    ]
    held = [
        (i, lang, " ".join(rng.choice(pools[lang]) for _ in range(12)))
        for i, lang in enumerate(lang for lang in sorted(pools) for _ in range(25))
    ]
    profiles = train_lang_profiles(
        spark.createDataFrame(train, "lang string, text string"), top=80
    )
    hdf = spark.createDataFrame(
        [(i, t) for i, _, t in held], "doc_id long, text string"
    )
    pred = {r["doc_id"]: r["pred_lang"] for r in lang_id_ngram(hdf, profiles, top=80).collect()}
    correct = sum(pred[i] == lang for i, lang, _ in held)
    assert correct / len(held) >= 0.90, (correct, len(held))


def test_pack_token_bins_contract(spark, documents):
    """Concatenate-and-cut packing: a doc joins the bin its START offset
    falls in, so every bin's token total minus its last doc stays under
    budget; membership/order are two-run deterministic; positions are
    1..size per bin."""
    from tikv_data_compare_spark.operators.text import pack_token_bins

    docs = documents.select("doc_id", "text").limit(300)
    a = pack_token_bins(docs, budget=200, n_shards=4).collect()
    b = pack_token_bins(docs, budget=200, n_shards=4).collect()
    key = lambda r: (r["doc_id"], r["pack_bin"], r["pack_pos"])  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b)) and len(a) == 300

    by_bin = {}
    for r in a:
        by_bin.setdefault(r["pack_bin"], []).append((r["pack_pos"], r["n_tok"]))
    for rows in by_bin.values():
        rows.sort()
        assert [p for p, _ in rows] == list(range(1, len(rows) + 1))
        # all docs but the last START inside the bin -> their sum < budget
        assert sum(t for _, t in rows[:-1]) < 200

    with pytest.raises(ValueError, match="budget"):
        pack_token_bins(docs, budget=0)


def test_pack_token_bins_null_text(spark):
    """NULL text packs like empty text (1 token) instead of corrupting the
    shard cumsum with size(NULL) = -1 (r8 review)."""
    from tikv_data_compare_spark.operators.text import pack_token_bins

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in pack_token_bins(df, budget=10, n_shards=2).collect()}
    assert len(rows) == 3
    assert rows[2]["n_tok"] == 1 and rows[3]["n_tok"] == 1
    assert rows[1]["n_tok"] == 3
    assert all(r["pack_bin"] >= 0 and r["pack_pos"] >= 1 for r in rows.values())


# ---------------------------------------------------------------------------
# Bigram-LM fluency score (r9)
# ---------------------------------------------------------------------------


def test_ngram_lm_score_separates_fluent_from_shuffled(spark):
    """Docs made of the corpus's common bigrams score LOWER mean NLL than a
    doc of the same words in never-seen orders — the CCNet separation."""
    from tikv_data_compare_spark.operators.text import ngram_lm_score

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(1, 9)] + [(9, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_lm_score(docs).collect()}
    assert rows[1]["lm_n_bigrams"] == 5
    # every repeated doc shares the same score; the shuffled doc is worse
    assert len({rows[i]["lm_nll_c"] for i in range(1, 9)}) == 1
    assert rows[9]["lm_nll_c"] > rows[1]["lm_nll_c"]


def test_ngram_lm_score_short_and_null_docs(spark):
    from tikv_data_compare_spark.operators.text import ngram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "single"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_lm_score(docs).collect()}
    assert len(rows) == 4
    assert rows[1]["lm_n_bigrams"] == 2 and rows[1]["lm_nll_c"] is not None
    for d in (2, 3, 4):
        assert rows[d]["lm_n_bigrams"] == 0 and rows[d]["lm_nll_c"] is None


def test_ngram_lm_score_external_train_and_unseen(spark):
    """With a separate train corpus, a doc of unseen bigrams costs more
    than a doc the model saw; unseen-prefix floors at ln(V) not ln(0)."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators.text import ngram_lm_score

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(100, 110)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zz qq ww")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in ngram_lm_score(score, train=train).collect()}
    assert rows[1]["lm_nll_c"] < rows[2]["lm_nll_c"]
    assert rows[2]["lm_nll_c"] is not None  # smoothing: no infinities


def test_ngram_lm_score_min_count_prunes(spark):
    """A bigram below min_count falls back to the smoothing floor, so its
    doc's score rises vs the unpruned model."""
    from tikv_data_compare_spark.operators.text import ngram_lm_score

    docs = spark.createDataFrame(
        [(i, "common pair here") for i in range(1, 6)] + [(6, "rare duo once")],
        "doc_id long, text string",
    )
    full = {r["doc_id"]: r["lm_nll_c"] for r in ngram_lm_score(docs).collect()}
    pruned = {
        r["doc_id"]: r["lm_nll_c"]
        for r in ngram_lm_score(docs, min_count=2).collect()
    }
    assert pruned[6] > full[6]  # its bigrams were pruned out of the model
    assert pruned[1] >= full[1]  # survivors only lose smoothing mass


def test_ngram_lm_score_validation(spark):
    import pytest as _pytest

    from tikv_data_compare_spark.operators.text import ngram_lm_score

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="min_count"):
        ngram_lm_score(docs, min_count=0)
    with _pytest.raises(ValueError, match="alpha"):
        ngram_lm_score(docs, alpha=0)


# --------------------------------------------------------------------- BPE


def test_bpe_train_hand_computed(spark):
    # corpus word counts: 'aa'×4, 'ab'×2, 'b'×1  (hex: a=61, b=62)
    df = spark.createDataFrame(
        [(1, "aa aa ab"), (2, "aa aa ab b")], "doc_id long, text string"
    )
    merges = tx.train_bpe_merges(df, n_merges=4)
    # pair counts round 1: (61,61)=4 from 'aa', (61,62)=2 from 'ab' → merge (61,61)
    # round 2: only (61,62)=2 remains → merge; round 3: nothing ≥2 → stop
    assert merges == [("61", "61"), ("61", "62")]
    out = {
        r["doc_id"]: r["n_tokens_subword"]
        for r in tx.bpe_token_count(df, merges).collect()
    }
    # doc1: 'aa'→1, 'aa'→1, 'ab'→1 = 3; doc2: + 'b'→1 = 4
    assert out == {1: 3, 2: 4}


def test_bpe_leftmost_nonoverlap_and_rank_order(spark):
    # 'aaa' under merge (61,61): leftmost pass → [6161, 61] = 2 tokens,
    # and the follow-up merge (6161,61) then joins them into 1.
    df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    one = tx.bpe_token_count(df, [("61", "61")]).collect()[0]["n_tokens_subword"]
    assert one == 2
    both = tx.bpe_token_count(df, [("61", "61"), ("6161", "61")]).collect()[0][
        "n_tokens_subword"
    ]
    assert both == 1
    # python-side trainer applies the identical semantics
    seg = tx._bpe_seg0_py("aaa").replace(",61,,61,", ",6161,")
    assert seg == ",6161,,61,"


def test_bpe_train_partitioning_invariant(spark, documents):
    docs = documents.limit(200)
    a = tx.train_bpe_merges(docs, n_merges=16, vocab_top=64)
    b = tx.train_bpe_merges(docs.repartition(7), n_merges=16, vocab_top=64)
    assert a == b and len(a) == 16


def test_bpe_null_empty_and_multibyte(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "é"), (4, "a  b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_tokens_subword"]
        for r in tx.bpe_token_count(df, [("C3", "A9")]).collect()
    }
    # NULL/empty text → 0 tokens; 'é' = C3 A9 merged → 1; 'a  b' has an
    # empty middle word contributing 0 → 2
    assert out == {1: 0, 2: 0, 3: 1, 4: 2}


def test_pack_token_bins_redenominated(spark):
    df = spark.createDataFrame(
        [(i, "w " * (i % 5)) for i in range(40)], "doc_id long, text string"
    )
    counted = tx.bpe_token_count(tx.token_count(df), [])
    packed = tx.pack_token_bins(
        counted, budget=4, n_shards=2, ntok_col="n_tokens_subword"
    ).collect()
    by_id = {r["doc_id"]: r for r in packed}
    sub = {r["doc_id"]: r["n_tokens_subword"] for r in counted.collect()}
    # n_tok column reflects the supplied denomination
    assert all(r["n_tok"] == sub[r["doc_id"]] for r in packed)
    # concatenate-and-cut invariant: within every bin, the tokens BEFORE the
    # last doc fit the budget (a doc only starts a new bin when the running
    # total would place its start outside the current one)
    bins = {}
    for r in sorted(packed, key=lambda r: (r["pack_bin"], r["pack_pos"])):
        bins.setdefault(r["pack_bin"], []).append(r["n_tok"])
    for toks in bins.values():
        assert sum(toks[:-1]) < 4 or toks[:-1] == []
    assert len(by_id) == 40


# ------------------------------------------------------------------- C4


def test_c4_flags_rules_closed_form(spark):
    body = "the quick brown fox jumps over the lazy dog."
    df = spark.createDataFrame(
        [
            (1, "\n".join([body] * 3)),                       # clean, 3 kept
            (2, body + "\nLorem Ipsum dolor."),               # lorem (any case)
            (3, body + "\nif (x) { y(); }"),                  # brace
            (4, body + "\nshort one.\nno punct line here\nenable javascript now."),
            (5, None),                                        # NULL text
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tx.c4_flags(df).collect()}
    assert rows[1]["c4_keep"] and rows[1]["n_kept_lines"] == 3
    assert rows[2]["has_lorem"] and not rows[2]["c4_keep"]
    assert rows[3]["has_brace"] and not rows[3]["c4_keep"]
    # doc 4: body keeps; 'short one.' (<3 words), no-punct line, javascript
    # line all drop → 1 kept line < 3 → doc drops
    assert rows[4]["n_lines"] == 4 and rows[4]["n_kept_lines"] == 1
    assert not rows[4]["c4_keep"]
    assert rows[4]["c4_text"] == body
    # NULL text: one empty line, nothing kept, drops
    assert rows[5]["n_kept_lines"] == 0 and not rows[5]["c4_keep"]
    # threshold is a parameter
    relaxed = {r["doc_id"]: r for r in tx.c4_flags(df, min_kept_lines=1).collect()}
    assert relaxed[4]["c4_keep"]


# ---------------------------------------------------- exact-substring decon


def test_decontaminate_substring_span_contract(spark):
    """The winnow+verify composition is exact at the span threshold: a doc
    sharing exactly min_span chars with a probe is flagged; min_span-1 is
    not — the GPT-3-style N-gram overlap criterion."""
    span = "abcdefghijklmnopqrst"  # 20 chars
    assert len(span) == 20
    docs = spark.createDataFrame(
        [
            # boundaries chosen so the shared run is EXACTLY the span: the
            # chars adjacent to it differ from the probe's ('X'/'Y' vs
            # spaces), so no accidental extension across the boundary
            (1, "leftfillerX" + span + "Yrightfiller"),        # exact 20 shared
            (2, "leftfillerX" + span[:-1] + "Yrightside"),     # only 19 shared
            (3, None),
            (4, "totally unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "PROBE PREFIX " + span + " PROBE SUFFIX")],
        "probe_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in tx.decontaminate_substring(docs, probes, min_span=20).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_contam_probes"] == 1
    assert not out[2]["contaminated"]
    assert not out[3]["contaminated"] and out[3]["n_contam_probes"] == 0
    assert not out[4]["contaminated"]
    assert len(out) == 4  # every doc present


def test_winnow_and_decontaminate_xxhash64_algo_path(spark, documents):
    """r15 algo knob: the winnow no-false-negative guarantee holds for any
    deterministic gram hash and the verify is verbatim, so the xxhash64
    fast path's VERIFIED columns equal the md5 gate path's on real docs
    with planted spans; fingerprint values themselves differ.

    r18: the span operators' DEFAULT algo is xxhash64 (the proven-identical
    throughput hash — VERDICT r17 task 1), pinned by signature here; the
    md5 side of each equivalence is therefore requested explicitly."""
    import inspect

    for op in (tx.decontaminate_substring, tx.self_dedup_substring,
               tx.self_dedup_trim):
        assert inspect.signature(op).parameters["algo"].default == "xxhash64"
    # winnow_fingerprints itself keeps the oracle-replayable default: a
    # doc_fps frame built with ITS default feeds the gated md5 rows
    assert (
        inspect.signature(tx.winnow_fingerprints).parameters["algo"].default
        == "md5i64"
    )
    docs = documents.limit(40).select("doc_id", "text").cache()
    donor = docs.filter(F.col("doc_id") == docs.agg(F.min("doc_id")).collect()[0][0])
    dtext = donor.collect()[0]["text"]
    docs2 = docs.union(
        spark.createDataFrame([(900001, "zz " + dtext[5:50] + " qq")],
                              "doc_id long, text string")
    )
    probes = spark.createDataFrame(
        [(77, "PAD " + dtext[5:50] + " PAD")], "probe_id long, text string"
    )
    cols = ["doc_id", "n_contam_probes", "contaminated"]
    md5_out = {
        tuple(r[c] for c in cols)
        for r in tx.decontaminate_substring(
            docs2, probes, min_span=24, algo="md5i64"
        ).collect()
    }
    xx_out = {
        tuple(r[c] for c in cols)
        for r in tx.decontaminate_substring(
            docs2, probes, min_span=24, algo="xxhash64"
        ).collect()
    }
    assert md5_out == xx_out
    assert any(r[2] for r in md5_out)  # the planted doc is flagged
    # self-dedup: full verified output identical across algos (no fp cap)
    sd_md5 = sorted(
        map(
            tuple,
            tx.self_dedup_substring(docs2, min_span=24, algo="md5i64").collect(),
        )
    )
    sd_xx = sorted(
        map(tuple, tx.self_dedup_substring(docs2, min_span=24, algo="xxhash64").collect())
    )
    assert sd_md5 == sd_xx
    # fingerprint VALUES differ across hash families (same doc set)
    fp_md5 = {r["fp"] for r in tx.winnow_fingerprints(docs, k=5, w=20).collect()}
    fp_xx = {
        r["fp"]
        for r in tx.winnow_fingerprints(docs, k=5, w=20, algo="xxhash64").collect()
    }
    assert fp_md5 != fp_xx and len(fp_xx) > 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tx.winnow_fingerprints(docs, algo="sha9000")
    docs.unpersist()


def test_winnow_doc_fps_reuse_seam(spark, documents):
    """r15 doc_fps= seam: passing a precomputed winnow frame yields the
    identical verified output for both consumers; a frame built at a
    different geometry raises via the column-metadata stamp (the dsir
    weights= convention)."""
    docs = documents.limit(40).select("doc_id", "text").cache()
    dtext = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    probes = spark.createDataFrame(
        [(77, "PAD " + dtext[5:50] + " PAD")], "probe_id long, text string"
    )
    fps24 = tx.winnow_fingerprints(docs, k=5, w=20)  # min_span 24, md5 stamp
    cols = ["doc_id", "n_contam_probes", "contaminated"]
    base = {
        tuple(r[c] for c in cols)
        for r in tx.decontaminate_substring(
            docs, probes, min_span=24, algo="md5i64"
        ).collect()
    }
    seam = {
        tuple(r[c] for c in cols)
        for r in tx.decontaminate_substring(
            docs, probes, min_span=24, algo="md5i64", doc_fps=fps24
        ).collect()
    }
    assert seam == base
    sd_base = sorted(
        map(
            tuple,
            tx.self_dedup_substring(docs, min_span=24, algo="md5i64").collect(),
        )
    )
    sd_seam = sorted(
        map(
            tuple,
            tx.self_dedup_substring(
                docs, min_span=24, algo="md5i64", doc_fps=fps24
            ).collect(),
        )
    )
    assert sd_seam == sd_base
    # geometry mismatch raises: w differs (min_span 30 → w 26, frame has 20)
    with pytest.raises(ValueError, match="winnow_w=20.*vs 26"):
        tx.decontaminate_substring(
            docs, probes, min_span=30, algo="md5i64", doc_fps=fps24
        )
    # algo-stamp mismatch stays loud — and since r18 the DEFAULT algo is
    # xxhash64, so a winnow_fingerprints-default (md5) frame passed to a
    # consumer-default call is exactly this error
    with pytest.raises(ValueError, match="winnow_algo"):
        tx.self_dedup_substring(docs, min_span=24, doc_fps=fps24)
    # shape check stays loud
    with pytest.raises(ValueError, match="doc_fps must carry"):
        tx.decontaminate_substring(docs, probes, min_span=24, doc_fps=docs)
    # an unstamped frame (same values, metadata stripped) is accepted
    bare = spark.createDataFrame(
        [(r["doc_id"], r["fp"]) for r in fps24.collect()], "doc_id long, fp long"
    )
    # (an unstamped frame can't be algo-verified, so the CALLER must match
    # the hash family the frame was built with — md5 here)
    seam2 = {
        tuple(r[c] for c in cols)
        for r in tx.decontaminate_substring(
            docs, probes, min_span=24, algo="md5i64", doc_fps=bare
        ).collect()
    }
    assert seam2 == base
    docs.unpersist()


def test_decontaminate_substring_max_fp_df_cap(spark, documents):
    """Hot-fingerprint handling is EXACT at any threshold — even
    max_fp_df=1, which marks nearly every fingerprint hot and routes almost
    the whole corpus through the gram re-key path — and a zero/negative
    threshold raises."""
    import pytest

    docs = documents.limit(40).select("doc_id", "text").cache()
    dtext = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    probes = spark.createDataFrame(
        [(77, "PAD " + dtext[5:50] + " PAD")], "probe_id long, text string"
    )
    cols = ["doc_id", "n_contam_probes", "contaminated"]
    exact = {
        tuple(r[c] for c in cols)
        for r in tx.decontaminate_substring(docs, probes, min_span=24).collect()
    }
    assert any(r[2] for r in exact)
    for cap in (1, 3, 10**9):
        rekey = {
            tuple(r[c] for c in cols)
            for r in tx.decontaminate_substring(
                docs, probes, min_span=24, max_fp_df=cap
            ).collect()
        }
        assert rekey == exact, f"rekey mode diverged from exact at cap={cap}"
    for bad in (0, -5):
        with pytest.raises(ValueError, match="max_fp_df"):
            tx.decontaminate_substring(docs, probes, min_span=24, max_fp_df=bad)
    docs.unpersist()


def test_decontaminate_substring_equals_bruteforce(spark, documents):
    """End result == brute-force exact check on real fixture docs with
    planted probe spans (winnow guarantees recall, verify kills the false
    positives)."""
    docs = documents.limit(60).select("doc_id", "text").cache()
    probes = (
        docs.filter(F.col("doc_id") % 9 == 0)
        .selectExpr("doc_id AS probe_id", "substr(text, 6, 45) AS text")
    ).cache()
    got = {
        r["doc_id"]: r["contaminated"]
        for r in tx.decontaminate_substring(docs, probes, min_span=24).collect()
    }
    # brute force via a cross join in-plan
    brute = {
        r["doc_id"]: bool(r["hit"])
        for r in docs.crossJoin(probes.selectExpr("text AS _pt")).withColumn(
            "_h",
            F.expr(
                "coalesce(CASE WHEN length(_pt) >= 24 THEN "
                "exists(transform(sequence(1, length(_pt) - 23), i -> substr(_pt, i, 24)), "
                "g -> contains(text, g)) ELSE false END, false)"
            ),
        ).groupBy("doc_id").agg(F.max("_h").alias("hit")).collect()
    }
    assert got == brute
    assert any(got.values())  # planted spans guarantee hits

    # r19 verdict_only: the (id, contaminated) projection equals brute force
    # too — including through the collapsed hot gram join (max_fp_df=1 marks
    # nearly every fingerprint hot, routing almost everything through it)
    for kw in ({}, {"max_fp_df": 1}, {"max_fp_df": 3}):
        vo = tx.decontaminate_substring(
            docs, probes, min_span=24, verdict_only=True, **kw
        )
        assert vo.columns == ["doc_id", "contaminated"]
        assert {r["doc_id"]: r["contaminated"] for r in vo.collect()} == brute

    import pytest
    with pytest.raises(ValueError, match="min_span"):
        tx.decontaminate_substring(docs, probes, min_span=5, k=5)


def test_decontaminate_fuzzy_flags_paraphrases(spark):
    """Paraphrase-level screen: a probe that is a light rewording of a doc
    (shared 3-shingle majority) flags at the threshold; unrelated docs and
    NULL text never flag; an exact copy flags at jaccard 10000."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    para = "quick brown fox jumps over the lazy dog near the old river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),                       # paraphrase-hit
            (2, "completely different words about spark and parquet files"),
            (3, None),
            (4, base),                       # duplicate content also hits
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, para), (101, base)], "probe_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in tx.decontaminate_fuzzy(docs, probes, threshold_bp=8000).collect()
    }
    assert len(out) == 4
    assert out[1]["contaminated"] and out[1]["n_fuzzy_probes"] == 2
    assert out[1]["max_jaccard_c"] == 10000  # the exact-copy probe
    assert not out[2]["contaminated"] and out[2]["n_candidate_probes"] == 0
    assert not out[3]["contaminated"]
    assert out[4]["contaminated"]  # same content, same verdict (content-pure)

    import pytest

    with pytest.raises(ValueError, match="threshold_bp"):
        tx.decontaminate_fuzzy(docs, probes, threshold_bp=0)
    with pytest.raises(ValueError, match="probe_id_col"):
        tx.decontaminate_fuzzy(docs, probes.withColumnRenamed("probe_id", "doc_id"),
                               probe_id_col="doc_id")


def test_decontaminate_fuzzy_verify_is_exact(spark, documents):
    """Every verified verdict equals the brute-force shingle Jaccard of
    that (doc, probe) pair — the LSH prune only limits WHICH pairs are
    screened, never the score of a screened pair."""
    from tikv_data_compare_spark.operators import dedup as dd

    docs = documents.limit(40).select("doc_id", "text").cache()
    probes = docs.selectExpr(
        "doc_id AS probe_id",
        "CASE WHEN size(split(text, ' ')) > 2 THEN "
        "concat_ws(' ', slice(split(text, ' '), 3, size(split(text, ' ')) - 2)) "
        "ELSE text END AS text",
    ).filter(F.col("probe_id") % 3 == 0).cache()
    got = tx.decontaminate_fuzzy(docs, probes, threshold_bp=8000)
    flagged = {r["doc_id"]: r["max_jaccard_c"] for r in got.collect()
               if r["n_candidate_probes"] > 0}
    assert flagged, "planted paraphrases must produce candidates"
    # brute force: exact jaccard of every doc x probe pair, keep the max
    # over the pairs the operator screened
    d_sh = {r["doc_id"]: set(r["_sh"]) for r in
            dd.shingle_arrays(docs, "doc_id", "text").collect()}
    p_sh = {r["probe_id"]: set(r["_sh"]) for r in
            dd.shingle_arrays(probes, "probe_id", "text").collect()}
    for did, maxj in flagged.items():
        best = max(
            round(10000 * len(d_sh[did] & ps) / len(d_sh[did] | ps))
            for ps in p_sh.values()
        )
        # the operator's max is over CANDIDATES only, so it is <= the
        # all-pairs best; the planted construction makes them equal here
        assert maxj == best, (did, maxj, best)


def test_bpe_encode_ids_closed_form(spark):
    merges = [("61", "61"), ("61", "62")]  # 'aa'->256, 'ab'->257
    df = spark.createDataFrame(
        [(1, "aa ab b"), (2, "aaa"), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["token_ids"] for r in tx.bpe_encode(df, merges).collect()}
    assert out[1] == [256, 257, 0x62]
    assert out[2] == [256, 0x61]  # leftmost pass: [aa, a]
    assert out[3] == []
    # id sequence and count derive from the same segmentation
    both = tx.bpe_token_count(tx.bpe_encode(df, merges), merges)
    for r in both.collect():
        assert len(r["token_ids"]) == r["n_tokens_subword"]


def test_bpe_vocab_decodes_ids(spark):
    merges = [("61", "61"), ("6161", "62")]
    vocab = dict(tx.bpe_vocab(merges))
    assert len(vocab) == 258 and vocab[256] == "6161" and vocab[257] == "616162"
    assert vocab[0x41] == "41"
    # decoding the id stream reconstructs the word's utf-8 bytes
    df = spark.createDataFrame([(1, "aaab")], "doc_id long, text string")
    ids = tx.bpe_encode(df, merges).collect()[0]["token_ids"]
    assert bytes.fromhex("".join(vocab[i] for i in ids)) == b"aaab"


def test_substring_rekey_catches_hot_only_pairs(spark):
    """The adversarial case for a hot-fingerprint threshold — a pair whose
    ONLY shared content is boilerplate hot enough to exceed it.  Merely
    dropping hot fingerprints would miss such pairs; the gram re-key path
    must flag them, byte-identical to uncapped.
    """
    import random

    rng = random.Random(416)
    license_span = "Licensed under the Apache License Version 2 point 0 you may not use this file"
    rows = []
    # 30 docs all carrying the license verbatim (its winnow fps go hot at
    # cap=5), each padded with unique random text so no OTHER span is shared
    for i in range(30):
        pad_a = "".join(rng.choice("abcdefghij ") for _ in range(80))
        pad_b = "".join(rng.choice("klmnopqrst ") for _ in range(80))
        rows.append((i, f"{pad_a} {license_span} {pad_b}"))
    # plus clean docs sharing nothing
    for i in range(30, 40):
        rows.append((i, "".join(rng.choice("uvwxyz ") for _ in range(180))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        r["doc_id"]: r["kept"]
        for r in tx.self_dedup_substring(df, min_span=24).collect()
    }
    # uncapped ground truth: doc 0 keeps, docs 1..29 drop, clean docs keep
    assert exact == {i: (i == 0 or i >= 30) for i in range(40)}
    rekey = {
        r["doc_id"]: r["kept"]
        for r in tx.self_dedup_substring(df, min_span=24, max_fp_df=5).collect()
    }
    assert rekey == exact

    # decontamination flavor of the same trap: probe = the license text
    probes = spark.createDataFrame(
        [(1, f"intro text {license_span} outro text")], "probe_id long, text string"
    )
    dec_exact = {
        r["doc_id"]: r["contaminated"]
        for r in tx.decontaminate_substring(df, probes, min_span=24).collect()
    }
    assert dec_exact == {i: i < 30 for i in range(40)}
    dec_rekey = {
        r["doc_id"]: r["contaminated"]
        for r in tx.decontaminate_substring(
            df, probes, min_span=24, max_fp_df=5
        ).collect()
    }
    assert dec_rekey == dec_exact
    # r19 verdict_only on the SAME quadratic trap: the collapsed hot gram
    # join (one row per distinct license gram) must flag the identical set
    dec_vo = {
        r["doc_id"]: r["contaminated"]
        for r in tx.decontaminate_substring(
            df, probes, min_span=24, max_fp_df=5, verdict_only=True
        ).collect()
    }
    assert dec_vo == dec_exact


def test_self_dedup_substring_equals_bruteforce(spark, documents):
    """End result == pure-Python brute force over all ordered pairs, on real
    fixture docs + planted cross-doc spans + NULL/short rows (winnow
    guarantees recall, verify kills false positives — like the
    decontaminate contract, but self-joined)."""
    N = 24
    base = [(r["doc_id"], r["text"]) for r in documents.limit(60).select("doc_id", "text").collect()]
    # plant: a later doc copying a 40-char span from an earlier one, plus a
    # NULL and a too-short doc
    donor = base[3][1]
    planted = [
        (900001, "xx " + donor[10:50] + " yy"),
        (900002, None),
        (900003, "tiny"),
    ]
    rows = base + planted
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_dup_partners"], r["n_dup_starts"], r["n_dup_chars"], r["kept"])
        for r in tx.self_dedup_substring(df, min_span=N).collect()
    }
    # pure-Python brute force with the same definitions
    import itertools

    partners: dict = {}
    starts: dict = {}
    by_id = dict(rows)
    for ida, idb in itertools.combinations(sorted(by_id), 2):
        at, bt = by_id[ida], by_id[idb]
        if at is None or bt is None or len(at) < N or len(bt) < N:
            continue
        ss = [i for i in range(1, len(bt) - N + 2) if bt[i - 1 : i - 1 + N] in at]
        if ss:
            partners.setdefault(idb, set()).add(ida)
            starts.setdefault(idb, set()).update(ss)
    exp = {}
    for did in by_id:
        sv = sorted(starts.get(did, ()))
        chars = 0
        for prev, cur in zip([None] + sv, sv):
            chars += N if prev is None else min(N, cur - prev)
        exp[did] = (len(partners.get(did, ())), len(sv), chars, did not in partners)
    assert got == exp
    assert not got[900001][3]  # planted copy is dropped (later occurrence)
    assert got[900002] == (0, 0, 0, True) and got[900003] == (0, 0, 0, True)
    assert any(not v[3] for v in got.values())

    # r16 rekey mode (default): EXACT at any threshold — the aggressive
    # cap=1 routes nearly all docs through the gram re-key path, cap=2
    # exercises the mixed cold-verify + gram-join split; full 4-tuple
    # output (partners, starts, chars, kept) must equal brute force
    for cap in (1, 2):
        rekeyed = {
            r["doc_id"]: (
                r["n_dup_partners"], r["n_dup_starts"], r["n_dup_chars"], r["kept"]
            )
            for r in tx.self_dedup_substring(df, min_span=N, max_fp_df=cap).collect()
        }
        assert rekeyed == exp, f"rekey mode diverged from brute force at cap={cap}"

    import pytest
    with pytest.raises(ValueError, match="min_span"):
        tx.self_dedup_substring(df, min_span=5, k=5)


def test_self_dedup_kept_matches_full_operator(spark, documents):
    """r19: the partner-count-free gate variant (self_dedup_kept — the
    collapsed hot gram join + distinct dropped-id set) must return exactly
    the full operator's ``kept`` column for every doc, on the same
    fixture + planted-span + NULL/short corpus as the brute-force test,
    at every hot-fingerprint cap (None = pure winnow path, 1 = nearly
    everything re-keyed, 2 = mixed split)."""
    N = 24
    base = [
        (r["doc_id"], r["text"])
        for r in documents.limit(60).select("doc_id", "text").collect()
    ]
    donor = base[3][1]
    planted = [
        (900001, "xx " + donor[10:50] + " yy"),
        (900002, None),
        (900003, "tiny"),
    ]
    df = spark.createDataFrame(base + planted, "doc_id long, text string")
    for cap in (None, 1, 2):
        full = {
            r["doc_id"]: r["kept"]
            for r in tx.self_dedup_substring(df, min_span=N, max_fp_df=cap).collect()
        }
        gate = {
            r["doc_id"]: r["kept"]
            for r in tx.self_dedup_kept(df, min_span=N, max_fp_df=cap).collect()
        }
        assert gate == full, f"kept verdicts diverged at cap={cap}"
    # later_ids seam: restricted run returns exactly the full run's rows
    # for the restricted ids (the curate survivors-only geometry)
    some_ids = spark.createDataFrame(
        [(base[0][0],), (900001,), (900003,)], "doc_id long"
    )
    full = {
        r["doc_id"]: r["kept"]
        for r in tx.self_dedup_kept(df, min_span=N, max_fp_df=2).collect()
    }
    sub = {
        r["doc_id"]: r["kept"]
        for r in tx.self_dedup_kept(
            df, min_span=N, max_fp_df=2, later_ids=some_ids
        ).collect()
    }
    assert set(sub) == {base[0][0], 900001, 900003}
    assert all(full[d] == kp for d, kp in sub.items())


def test_bpe_encode_broadcast_matches_literal(spark, documents):
    """The scale path (broadcast ranks + Arrow priority-merge) must produce
    bit-identical id sequences to the plan-literal SQL fold — trained
    merges on real fixture docs, plus NULL/empty/multibyte rows."""
    docs = documents.limit(40).select("doc_id", "text")
    merges = tx.train_bpe_merges(docs, n_merges=64)
    assert len(merges) >= 16
    extra = spark.createDataFrame(
        [(100001, None), (100002, ""), (100003, "héllo wörld héllo"), (100004, "  a  ")],
        "doc_id long, text string",
    )
    both = docs.unionByName(extra)
    lit = {r["doc_id"]: r["token_ids"] for r in tx.bpe_encode(
        both, merges, encode_mode="literal"
    ).collect()}
    bc = {r["doc_id"]: r["token_ids"] for r in tx.bpe_encode(
        both, merges, encode_mode="broadcast"
    ).collect()}
    assert lit == bc
    assert bc[100001] == [] and bc[100002] == []


def test_bpe_encode_rank_floor_edge(spark):
    """A merge table violating the trained-rank invariant (an earlier rank's
    pattern only becomes adjacent AFTER a later rank fires) must still match
    the sequential fold: rank 0 ('AB','C') never applies because 'AB' is
    minted by rank 1 — the floor forbids revisiting rank 0."""
    merges = [("4142", "43"), ("41", "42")]  # ids: 414243->256, 4142->257
    df = spark.createDataFrame([(1, "ABC")], "doc_id long, text string")
    lit = tx.bpe_encode(df, merges, encode_mode="literal").collect()[0]["token_ids"]
    bc = tx.bpe_encode(df, merges, encode_mode="broadcast").collect()[0]["token_ids"]
    assert lit == bc == [257, 0x43]  # NOT [256]: sequential never re-runs rank 0


def test_bpe_encode_repeated_pair_ranks(spark):
    """The same pair learned at two ranks: each rank is one pass, both paths
    agree (rank lists + floor on the broadcast side)."""
    merges = [("61", "61"), ("6161", "6161"), ("61", "61")]
    df = spark.createDataFrame(
        [(1, "a" * 9), (2, "a" * 4), (3, "aa")], "doc_id long, text string"
    )
    lit = {r["doc_id"]: r["token_ids"] for r in tx.bpe_encode(
        df, merges, encode_mode="literal"
    ).collect()}
    bc = {r["doc_id"]: r["token_ids"] for r in tx.bpe_encode(
        df, merges, encode_mode="broadcast"
    ).collect()}
    assert lit == bc
    assert lit[2] == [257]  # 'aaaa' minted by the rank-1 re-merge
    assert lit[3] == [258]  # duplicate-minted '6161': LAST_WIN id in both paths


def test_bpe_encode_auto_routes_on_merge_count(spark):
    """auto == literal at gated sizes (merge literal visible in the plan);
    above BPE_ENCODE_LITERAL_MAX_MERGES the plan carries a constant-size
    mapInPandas instead, and ids still decode to the original bytes."""
    import pytest

    df = spark.createDataFrame([(1, "aa ab")], "doc_id long, text string")
    small = [("61", "61")]
    plan_lit = tx.bpe_encode(df, small, encode_mode="auto")._jdf.queryExecution().toString()
    assert "named_struct" in plan_lit  # merge table as a plan literal
    # >512 merges: mostly inapplicable pairs + one real ('61','61')
    big = [(f"{a:02X}", f"{b:02X}") for a in range(24) for b in range(24)][:600]
    big[0] = ("61", "61")
    assert len(big) > tx.BPE_ENCODE_LITERAL_MAX_MERGES
    auto_df = tx.bpe_encode(df, big, encode_mode="auto")
    plan_bc = auto_df._jdf.queryExecution().toString()
    assert "mapinpandas" in plan_bc.lower()
    assert "named_struct" not in plan_bc  # no merge literal in the plan
    out = auto_df.collect()[0]["token_ids"]
    vocab = dict(tx.bpe_vocab(big))
    assert bytes.fromhex("".join(vocab[i] for i in out)) == b"aaab"
    with pytest.raises(ValueError, match="encode_mode"):
        tx.bpe_encode(df, small, encode_mode="bogus")


# ---------------------------------------------------------------- chunking


def test_chunk_text_closed_form(spark):
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b"), (3, None)], "doc_id long, text string"
    )
    rows = tx.chunk_text(df, max_words=4, overlap=1).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by[1], key=lambda r: r["chunk_idx"])
    # stride 3: starts 0,3,6,9 — last window start 9 because window at 6
    # ends at word 9 (covers w6..w9)... window [6,10) reaches the end, so
    # chunks are 0,3,6
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [r["n_chunk_words"] for r in c1] == [4, 4, 4]
    # overlap contract: last word of chunk c == first word of chunk c+1
    for a, b in zip(c1, c1[1:]):
        assert a["chunk_text"].split()[-1] == b["chunk_text"].split()[0]
    # short and NULL docs yield exactly one chunk
    assert len(by[2]) == 1 and by[2][0]["chunk_text"] == "a b"
    assert len(by[3]) == 1 and by[3][0]["chunk_text"] == ""


def test_chunk_text_coverage_and_validation(spark):
    import pytest

    n = 53
    df = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(n)))], "doc_id long, text string"
    )
    rows = sorted(
        tx.chunk_text(df, max_words=16, overlap=4).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # de-overlapped concatenation reconstructs the document exactly
    rebuilt = rows[0]["chunk_text"].split()
    for r in rows[1:]:
        rebuilt += r["chunk_text"].split()[4:]
    assert rebuilt == [str(i) for i in range(n)]
    # last chunk short, all others full
    assert all(r["n_chunk_words"] == 16 for r in rows[:-1])
    assert rows[-1]["n_chunk_words"] <= 16
    with pytest.raises(ValueError, match="overlap"):
        tx.chunk_text(df, max_words=8, overlap=8)
    with pytest.raises(ValueError, match="max_words"):
        tx.chunk_text(df, max_words=0)


def test_bpe_vocab_variant_equals_inline_fold(spark, documents):
    """The distinct-word join variant (the 32k-merge scale path) must count
    identically to the map-side fold — same per-word fold, different
    amortization."""
    docs = documents.limit(80).select("doc_id", "text")
    docs = docs.unionByName(
        spark.createDataFrame([(990001, None), (990002, "")],
                              "doc_id long, text string")
    )
    merges = tx.train_bpe_merges(docs, n_merges=24, vocab_top=128)
    a = {r["doc_id"]: r["n_tokens_subword"]
         for r in tx.bpe_token_count(docs, merges).collect()}
    b = {r["doc_id"]: r["n_tokens_subword"]
         for r in tx.bpe_token_count_via_vocab(docs, merges).collect()}
    assert a == b and len(a) == 82


def test_bpe_counts_match_pure_python_reference(spark):
    """Random unicode corpora: the Spark HOF fold must count exactly what an
    independent pure-Python BPE applier counts (same merges)."""
    import random

    rng = random.Random(1234)
    alphabet = "ab cd€é漢 xyz"
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = tx.train_bpe_merges(df, n_merges=20, vocab_top=64)

    def py_count(text):
        total = 0
        for w in (text or "").split(" "):
            seg = tx._bpe_seg0_py(w)
            for l, r in merges:
                seg = seg.replace(f",{l},,{r},", f",{l}{r},")
            total += (len(seg) - len(seg.replace(",", ""))) // 2
        return total

    got = {r["doc_id"]: r["n_tokens_subword"]
           for r in tx.bpe_token_count(df, merges).collect()}
    assert got == {i: py_count(t) for i, t in docs}


def test_pack_sequences_conservation_and_cuts(spark, documents):
    """Concatenate-and-cut at token granularity: per shard, the sequences
    re-concatenate to exactly the docs' id streams in pack order; every
    sequence is seq_len ids except each shard's last; replay-identical."""
    from tikv_data_compare_spark.operators.sampling import content_shards

    docs = documents.limit(60).select("doc_id", "text")
    merges = tx.train_bpe_merges(docs, n_merges=16, vocab_top=64)
    L, S = 37, 4
    seqs = tx.pack_sequences(docs, merges, seq_len=L, n_shards=S).collect()
    by_shard = {}
    for r in seqs:
        by_shard.setdefault(r["shard"], []).append(r)
    # expected stream per shard: bpe ids in (content-hash, id) order
    enc = tx.bpe_encode(docs, merges)
    staged = content_shards(enc, S, content_col="text").collect()
    expect = {}
    for r in sorted(staged, key=lambda r: (r["_shard"], r["_sample_h"], r["doc_id"])):
        expect.setdefault(r["_shard"], []).extend(r["token_ids"])
    for shard, rows in by_shard.items():
        rows = sorted(rows, key=lambda r: r["seq_idx"])
        got = [i for r in rows for i in r["token_ids"]]
        assert got == expect[shard]
        assert [r["seq_idx"] for r in rows] == list(range(len(rows)))
        assert all(r["n_tokens"] == L for r in rows[:-1])
        assert 1 <= rows[-1]["n_tokens"] <= L
    assert set(expect) == set(by_shard)
    # determinism under partitioning
    again = tx.pack_sequences(docs.repartition(7), merges, seq_len=L, n_shards=S)
    key = lambda rows: sorted((r["shard"], r["seq_idx"], tuple(r["token_ids"])) for r in rows)
    assert key(again.collect()) == key(seqs)

    import pytest
    with pytest.raises(ValueError, match="seq_len"):
        tx.pack_sequences(docs, merges, seq_len=0)


def test_self_dedup_trim_equals_bruteforce(spark, documents):
    """r17 span-surgical mode: trimmed text == pure-Python surgery over the
    brute-force start set (remove the union of [i, i+N) from the later
    doc), on real fixture docs + planted spans + NULL/short rows; the
    rekey split must be byte-identical; n_trimmed_chars must equal the
    drop operator's n_dup_chars and kept_intact its kept."""
    N = 24
    base = [
        (r["doc_id"], r["text"])
        for r in documents.limit(40).select("doc_id", "text").collect()
    ]
    donor = base[3][1]
    rows = base + [
        (900001, "xx " + donor[10:50] + " yy"),
        (900002, None),
        (900003, "tiny"),
        (900004, donor[:N]),  # exactly one span: trims to empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_trimmed"], r["n_trimmed_chars"], r["kept_intact"])
        for r in tx.self_dedup_trim(df, min_span=N).collect()
    }
    import itertools

    by_id = dict(rows)
    starts: dict = {}
    for ida, idb in itertools.combinations(sorted(by_id), 2):
        at, bt = by_id[ida], by_id[idb]
        if at is None or bt is None or len(at) < N or len(bt) < N:
            continue
        ss = [i for i in range(1, len(bt) - N + 2) if bt[i - 1 : i - 1 + N] in at]
        if ss:
            starts.setdefault(idb, set()).update(ss)
    exp = {}
    for did, t in by_id.items():
        sv = starts.get(did)
        if not sv:
            exp[did] = (t, 0, True)
            continue
        cov = set()
        for s in sv:
            cov.update(range(s - 1, s - 1 + N))  # starts are 1-based
        trimmed = "".join(c for i, c in enumerate(t) if i not in cov)
        exp[did] = (trimmed, len(t) - len(trimmed), False)
    assert got == exp
    assert got[900004] == ("", N, False)
    assert got[900002] == (None, 0, True) and got[900003] == ("tiny", 0, True)

    # rekey split: byte-identical at any threshold (the exactness contract)
    for cap in (1, 2):
        rekeyed = {
            r["doc_id"]: (r["text_trimmed"], r["n_trimmed_chars"], r["kept_intact"])
            for r in tx.self_dedup_trim(df, min_span=N, max_fp_df=cap).collect()
        }
        assert rekeyed == exp, f"trim rekey diverged at cap={cap}"

    # cross-operator invariants vs the drop verdict
    drop = {
        r["doc_id"]: (r["n_dup_chars"], r["kept"])
        for r in tx.self_dedup_substring(df, min_span=N).collect()
    }
    for did, (_, n_trim, intact) in got.items():
        assert n_trim == drop[did][0], did
        assert intact == drop[did][1], did


def test_self_dedup_trim_later_ids_restriction(spark, documents):
    """r18 later_ids seam: trimming a subset of docs returns exactly the
    full run's rows for those ids — the earlier-carrier reference and the
    hot-fingerprint statistics stay corpus-wide — across plain, rekey-split
    and word-snapped configurations."""
    N = 24
    base = [
        (r["doc_id"], r["text"])
        for r in documents.limit(30).select("doc_id", "text").collect()
    ]
    donor = base[3][1]
    rows = base + [
        (900001, "xx " + donor[10:50] + " yy"),
        (900002, "aa " + donor[12:52] + " bb"),
        (900003, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # an id set containing hit docs, clean docs, and the NULL-text doc
    want = sorted({base[5][0], base[7][0], 900001, 900002, 900003})
    ids = spark.createDataFrame([(i,) for i in want], "doc_id long")
    for kw in (
        {},
        {"max_fp_df": 2},
        {"snap": "word"},
        {"max_fp_df": 1, "snap": "word"},
    ):
        full = {
            r["doc_id"]: tuple(r)
            for r in tx.self_dedup_trim(df, min_span=N, **kw).collect()
        }
        sub = sorted(
            map(
                tuple,
                tx.self_dedup_trim(
                    df, min_span=N, later_ids=ids, **kw
                ).collect(),
            )
        )
        assert sub == sorted(full[i] for i in want), f"diverged under {kw}"
        assert [t[0] for t in sub] == want  # exactly one row per asked id
    # the DROP operator shares the seam: verdicts-for-a-subset equal the
    # full run's rows (kept still means vs the FULL corpus)
    drop_full = {
        r["doc_id"]: tuple(r)
        for r in tx.self_dedup_substring(df, min_span=N).collect()
    }
    drop_sub = sorted(
        map(
            tuple,
            tx.self_dedup_substring(df, min_span=N, later_ids=ids).collect(),
        )
    )
    assert drop_sub == sorted(drop_full[i] for i in want)


def test_self_dedup_trim_word_snap_equals_bruteforce(spark, documents):
    """r18 snap='word' (VERDICT r17 task 4): each removed interval extends
    to the enclosing whitespace boundaries so no word is partially cut —
    checked against a pure-Python re-implementation of the snapping rule
    over the brute-force start set, on fixture docs + planted MID-WORD
    spans; kept_intact must equal the unsnapped run's, n_trimmed_chars
    can only grow, and the splice is always whitespace-delimited."""
    import itertools

    N = 24
    base = [
        (r["doc_id"], r["text"])
        for r in documents.limit(30).select("doc_id", "text").collect()
    ]
    donor = base[3][1]
    span = donor[10:44]  # 34 chars, interior of a real doc
    rows = base + [
        # span flanked by non-whitespace on both sides: both cut edges
        # land mid-word and must snap outward
        (900001, f"intro headword{span}tailword outro"),
        # span flanked by whitespace: snapping is a no-op
        (900002, f"clean lead {span} clean tail"),
        (900003, None),
        (900004, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_trimmed"], r["n_trimmed_chars"], r["kept_intact"])
        for r in tx.self_dedup_trim(df, min_span=N, snap="word").collect()
    }
    plain = {
        r["doc_id"]: (r["text_trimmed"], r["n_trimmed_chars"], r["kept_intact"])
        for r in tx.self_dedup_trim(df, min_span=N).collect()
    }

    by_id = dict(rows)
    starts: dict = {}
    for ida, idb in itertools.combinations(sorted(by_id), 2):
        at, bt = by_id[ida], by_id[idb]
        if at is None or bt is None or len(at) < N or len(bt) < N:
            continue
        ss = [i for i in range(1, len(bt) - N + 2) if bt[i - 1 : i - 1 + N] in at]
        if ss:
            starts.setdefault(idb, set()).update(ss)

    def ref_word_trim(t: str, sv: set) -> str:
        # the engine's whitespace class: the six ASCII chars of Java \s
        # (Python re \s additionally matches unicode spaces — pin ASCII)
        ws = {i + 1 for i, c in enumerate(t) if c in " \t\n\x0b\f\r"}
        cov: set = set()
        for s in sorted(sv):
            e = s + N - 1
            l = s
            if s > 1 and (s - 1) not in ws and s not in ws:
                l = max((w for w in ws if w < s), default=0) + 1
            r = e
            if e < len(t) and e not in ws and (e + 1) not in ws:
                r = min((w for w in ws if w > e), default=len(t) + 1) - 1
            cov.update(range(l - 1, r))  # 0-based cover of 1-based [l, r]
        return "".join(c for i, c in enumerate(t) if i not in cov)

    exp = {}
    for did, t in by_id.items():
        sv = starts.get(did)
        if not sv:
            exp[did] = (t, 0, True)
        else:
            trimmed = ref_word_trim(t, sv)
            exp[did] = (trimmed, len(t) - len(trimmed), False)
    assert got == exp
    # the planted mid-word doc: whole flanking words removed, the splice
    # sits between the surviving whitespace-delimited tokens
    assert got[900001][0] == "intro  outro"
    # whitespace-flanked span: word snap adds nothing over the plain cut
    assert got[900002][0] == plain[900002][0]
    # snapping only widens cuts and never changes WHETHER a doc was hit
    for did in got:
        assert got[did][1] >= plain[did][1], did
        assert got[did][2] == plain[did][2], did
    # rekey split stays byte-identical under snapping too
    rekeyed = {
        r["doc_id"]: (r["text_trimmed"], r["n_trimmed_chars"], r["kept_intact"])
        for r in tx.self_dedup_trim(
            df, min_span=N, snap="word", max_fp_df=2
        ).collect()
    }
    assert rekeyed == exp
    import pytest

    with pytest.raises(ValueError, match="snap must be"):
        tx.self_dedup_trim(df, min_span=N, snap="sentence")
