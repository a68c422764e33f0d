"""Extension queries: dedup, similarity search, text analysis, multimodal.

These are the LLM-training-data-pipeline operators beyond the reference's
surface (SURVEY.md §2.7/§7.4), built on the same cross-engine canon/hash
primitives so almost all of them are DuckDB-oracle checkable.  The Spark
implementations live in tikv_data_compare_spark/operators/{dedup,similarity,
text}.py; this module wires them to the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tikv_data_compare_spark.functions import fsutil, sqlgen
from tikv_data_compare_spark.functions.sqlgen import DUCK
from tikv_data_compare_spark.operators import dedup as dd
from tikv_data_compare_spark.operators import similarity as sim
from tikv_data_compare_spark.operators import text as tx
from tikv_data_compare_spark.queries import MINHASH_P, MINHASH_PERMS, STOPWORDS, _load
from tikv_data_compare_spark.session import tune

# ========================================================== dedup: exact


#: deterministic line-dedup fixture (the corpus has single-line docs, so the
#: C4 boilerplate shape is planted the same way PII_SYNTH plants matches):
#: every 97th doc's body is replaced by a shared line (exact body dup — the
#: all-dropped edge when it carries no boilerplate, e.g. doc 97), every 3rd
#: doc gains a newsletter footer, every 4th a rights footer in two variants.
#: The same expression text runs in both engines.
LINE_SYNTH = (
    "concat(CASE WHEN doc_id % 97 = 0 THEN 'copied boilerplate body' ELSE text END,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(chr(10), 'subscribe to our newsletter today') ELSE '' END,"
    " CASE WHEN doc_id % 4 = 0 THEN concat(chr(10), 'all rights reserved ', CAST(doc_id % 2 AS STRING)) ELSE '' END)"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both EXACT dedup granularities in one labeled row set:

    - ``part='exact'``: whole-document content groups (``exact_groups``) —
      (content fingerprint, kept doc, group size), ``h=''``;
    - ``part='lines'`` (r10): C4-style corpus-level line dedup
      (``dedup_lines`` over the ``LINE_SYNTH``-planted corpus) — per doc
      (kept lines, dropped lines, md5 of the rebuilt text), so the
      global first-occurrence verdict AND the order-preserving rebuild are
      both inside the hash gate;
    - ``part='subtract'`` (r12): cross-corpus exact-content subtraction
      (``subtract_corpus`` — the incremental-crawl dedup) against a
      planted other-corpus (the ``doc_id % 7`` slice re-keyed, so every
      flagged doc is known); the gate runs the BLOOM-prefilter mode
      (5040 bits / 4 probes) while the oracle computes plain membership —
      hash-matching proves the bloom path's exactness end-to-end, not
      just the happy path."""
    tune(spark)
    docs = _load(spark, sf_dir, "documents")
    other = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    sub = dd.subtract_corpus(
        docs.select("doc_id", "text"), other, bloom_m_bits=63 * 80
    ).select(
        F.lit("subtract").alias("part"),
        F.col("doc_id").cast("long").alias("a"),
        F.col("in_other").cast("long").alias("b"),
        F.lit(0).cast("long").alias("c"),
        F.lit("").alias("h"),
    )
    exact = dd.exact_groups(docs, "doc_id", "text").select(
        F.lit("exact").alias("part"),
        F.col("content_id").alias("a"),
        F.col("keep_doc_id").alias("b"),
        F.col("n_dups").alias("c"),
        F.lit("").alias("h"),
    )
    planted = docs.select("doc_id", F.expr(LINE_SYNTH).alias("t2"))
    lines = dd.dedup_lines(planted, "doc_id", "t2").select(
        F.lit("lines").alias("part"),
        F.col("doc_id").alias("a"),
        F.col("n_kept").alias("b"),
        F.col("n_dropped").alias("c"),
        F.md5("new_text").alias("h"),
    )
    return exact.unionByName(lines).unionByName(sub)


ORACLE_DEDUP_EXACT = f"""
WITH base AS (SELECT doc_id, {LINE_SYNTH} AS t2 FROM documents),
ls AS (SELECT doc_id, string_split(t2, chr(10)) AS lsx FROM base),
occ AS (SELECT doc_id, unnest(lsx) AS line, unnest(range(len(lsx))) AS pos FROM ls),
firsts AS (SELECT line, min(doc_id * 1000000 + pos) AS fp FROM occ GROUP BY line),
k AS (SELECT o.doc_id, o.pos, o.line, (o.doc_id * 1000000 + o.pos = f.fp) AS kept
      FROM occ o JOIN firsts f ON o.line = f.line)
SELECT 'exact' AS part, CAST({sqlgen.hexfold_i64('_m')} AS BIGINT) AS a,
       CAST(min(doc_id) AS BIGINT) AS b,
       CAST(count(*) AS BIGINT) AS c, '' AS h
FROM (SELECT doc_id, md5(text) AS _m FROM documents)
GROUP BY 2
UNION ALL
SELECT 'lines' AS part, CAST(doc_id AS BIGINT) AS a,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS b,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS c,
       md5(COALESCE(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY pos), '')) AS h
FROM k GROUP BY doc_id
UNION ALL
-- r12 cross-corpus subtraction: membership of each doc's content in the
-- planted other-corpus (the %7 slice re-keyed) — dedup.subtract_corpus,
-- whose gated run goes through the BLOOM prefilter mode
SELECT 'subtract' AS part, CAST(d.doc_id AS BIGINT) AS a,
       CAST(CASE WHEN coalesce(d.text, '') IN
            (SELECT coalesce(text, '') FROM documents WHERE doc_id % 7 = 0)
            THEN 1 ELSE 0 END AS BIGINT) AS b,
       CAST(0 AS BIGINT) AS c, '' AS h
FROM documents d
"""


# ========================================================== dedup: minhash


DUCK_SHINGLES = f"""
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
        THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        ELSE [text] END) AS w
    FROM (SELECT doc_id, text, {sqlgen.split_words('text', DUCK)} AS ws FROM documents)
  )
"""


def _duck_shingles_for(src: str, idc: str) -> str:
    """DuckDB replay of ``dedup.shingle_arrays`` over an arbitrary
    ``(idc, text)`` source — the parametric form of :data:`DUCK_SHINGLES`
    (which stays pinned to ``documents``); one generator so cross-corpus
    oracles (r13 fuzzy decontamination) cannot drift from the self-join
    ones."""
    return f"""
  SELECT DISTINCT {idc}, w FROM (
    SELECT {idc}, unnest(CASE WHEN len(ws) >= 3
        THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        ELSE [text] END) AS w
    FROM (SELECT {idc}, text, {sqlgen.split_words('text', DUCK)} AS ws FROM ({src}))
  )
"""


def _duck_minhash_sig_for(shingle_src: str, idc: str) -> str:
    """DuckDB replay of ``dedup.minhash_signatures`` (default 8-perm
    geometry) over an arbitrary ``(idc, w)`` shingle source."""
    mins = ", ".join(
        f"CAST(min((CAST({a} AS BIGINT) * _h1 + {b}) % {MINHASH_P}) AS BIGINT) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    return f"""
  SELECT {idc}, {mins}
  FROM (
    SELECT {idc}, ({sqlgen.hexfold_i64('_m')}) & 1073741823 AS _h1
    FROM (SELECT {idc}, md5(w) AS _m FROM ({shingle_src}))
  )
  GROUP BY {idc}
"""


def _oracle_minhash_sig_cte() -> str:
    return _duck_minhash_sig_for(DUCK_SHINGLES, "doc_id")


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pipeline, candidate + verify stages in one row: docs
    sharing ≥1 of 4 two-perm LSH bands (scalable band-explode equi-join —
    shuffle on band hash, no cartesian), each candidate pair verified with
    its exact word-shingle Jaccard.  The oracle recomputes the signatures,
    the banded pair set AND the Jaccard declaratively, so the signature
    computation (minhash_signatures), the band join (minhash_pairs) and the
    verify stage (jaccard_pairs) are all hash-gated by this single row.

    Second label since r9 — ``side='index_cross'``: the PERSISTENT dedup
    index path (operators/dedup_index.py, the incremental-ingest shape: at
    100 TB you dedup each new batch against a stored band table instead of
    re-deduping the corpus).  The corpus docs (doc_id % 3 != 0) are built
    into an on-disk index, the batch docs (doc_id % 3 == 0) query it, and
    the candidates run the SAME exact-Jaccard verify — because signatures
    are per-document pure functions, the result must equal the batch
    self-join restricted to one-side-in-batch pairs, which is exactly what
    the oracle's WHERE clause selects.  The build → parquet → load → query
    roundtrip is inside the hash gate, not just the in-session math — and
    since r9 the index is BUILT THROUGH THE STREAMING INGEST PATH (two
    ``ingest_batch_into_dedup_index`` epoch calls: bootstrap build +
    watermarked append, streaming/dedup_stream.py), so the incremental
    maintenance flow is hash-gated the same way checksum_range_compare
    gates its streaming manifest folds.

    Third label since r10 — ``side='labels'``: INCREMENTAL CANONICALIZATION
    over the streamed pair log.  Each epoch's candidate pairs (epoch-0
    intra, epoch-1 intra+cross, then the batch query's cross pairs) are
    folded one at a time into a persisted ``(id, component)`` label table
    (``fold_pairs_into_labels`` → ``graph.incremental_components`` →
    ``swap_commit``), and the final table is emitted as
    ``(doc_a=id, doc_b=component, jaccard_c=component size)``.  The oracle
    recomputes the labeling as a one-shot recursive-CTE closure over the
    same restricted pair set (every candidate pair except batch-intra,
    which no epoch ever emits) — so the epoch-at-a-time union-find fold is
    hash-gated against the from-scratch transitive closure."""
    import os

    from tikv_data_compare_spark.operators import dedup_index as di
    from tikv_data_compare_spark.streaming.dedup_stream import (
        fold_pairs_into_labels,
        ingest_batch_into_dedup_index,
    )

    tune(spark)
    docs = _load(spark, sf_dir, "documents")
    base = dd.jaccard_pairs(docs, "doc_id", "text")
    tmp = fsutil.scratch_dir(prefix="dedup_idx_")
    idx_path = os.path.join(tmp, "idx")
    labels_path = os.path.join(tmp, "labels")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    ingest_batch_into_dedup_index(
        corpus.filter(F.col("doc_id") % 3 == 1), idx_path, epoch_id=0,
        labels_path=labels_path,
    )
    ingest_batch_into_dedup_index(
        corpus.filter(F.col("doc_id") % 3 == 2), idx_path, epoch_id=1,
        labels_path=labels_path,
    )
    cross = di.query_dedup_index(docs.filter(F.col("doc_id") % 3 == 0), idx_path)
    cross_pairs = cross.select(
        F.least("new_id", "indexed_id").alias("doc_a"),
        F.greatest("new_id", "indexed_id").alias("doc_b"),
    )
    fold_pairs_into_labels(cross_pairs, labels_path)
    labels = spark.read.parquet(labels_path)
    label_rows = labels.join(
        labels.groupBy("component").agg(F.count("*").alias("_sz")), "component"
    ).select(
        F.lit("labels").alias("side"),
        F.col("id").alias("doc_a"),
        F.col("component").alias("doc_b"),
        F.col("_sz").cast("long").alias("jaccard_c"),
    )
    verified = dd.jaccard_for_pairs(cross_pairs, docs, "doc_id", "text")
    return (
        base.select(F.lit("all").alias("side"), "doc_a", "doc_b", "jaccard_c")
        .unionByName(
            verified.select(
                F.lit("index_cross").alias("side"), "doc_a", "doc_b", "jaccard_c"
            )
        )
        .unionByName(label_rows)
    )


ORACLE_DEDUP_COMPONENTS = f"""
WITH RECURSIVE sig AS ({_oracle_minhash_sig_cte()}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
       (a.m0 = b.m0 AND a.m1 = b.m1) OR (a.m2 = b.m2 AND a.m3 = b.m3)
    OR (a.m4 = b.m4 AND a.m5 = b.m5) OR (a.m6 = b.m6 AND a.m7 = b.m7))
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u
)
SELECT CAST(u AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY u
"""


ORACLE_DEDUP_MINHASH_PAIRS = f"""
WITH RECURSIVE sig AS ({_oracle_minhash_sig_cte()}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
       (a.m0 = b.m0 AND a.m1 = b.m1) OR (a.m2 = b.m2 AND a.m3 = b.m3)
    OR (a.m4 = b.m4 AND a.m5 = b.m5) OR (a.m6 = b.m6 AND a.m7 = b.m7))
),
words AS ({DUCK_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ninter
  FROM cand c JOIN words wa ON wa.doc_id = c.doc_a JOIN words wb ON wb.doc_id = c.doc_b AND wa.w = wb.w
  GROUP BY c.doc_a, c.doc_b
),
jac AS (
  SELECT c.doc_a, c.doc_b,
         CAST(ROUND(10000.0 * coalesce(i.ninter, 0) / (sa.n + sb.n - coalesce(i.ninter, 0))) AS BIGINT) AS jaccard_c
  FROM cand c
  JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
),
lg AS (
  -- the pair set the streamed epochs actually emit: every candidate pair
  -- except batch-intra (both sides doc_id % 3 = 0 — the batch is only
  -- QUERIED against the index, never self-joined)
  SELECT doc_a, doc_b FROM cand WHERE NOT (doc_a % 3 = 0 AND doc_b % 3 = 0)
),
ledges AS (
  SELECT doc_a AS u, doc_b AS v FROM lg
  UNION
  SELECT doc_b AS u, doc_a AS v FROM lg
),
lreach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM ledges)
  UNION
  SELECT e.v, lreach.r FROM lreach JOIN ledges e ON e.u = lreach.u
),
llab AS (SELECT u AS id, min(r) AS component FROM lreach GROUP BY u),
lsz AS (SELECT component, count(*) AS sz FROM llab GROUP BY component)
SELECT 'all' AS side, doc_a, doc_b, jaccard_c FROM jac
UNION ALL
-- the persistent-index path: batch docs (doc_id % 3 = 0) queried against an
-- index of the rest — per-doc-pure signatures make it exactly the self-join
-- pair set restricted to one-side-in-batch
SELECT 'index_cross' AS side, doc_a, doc_b, jaccard_c FROM jac
WHERE (doc_a % 3 = 0) <> (doc_b % 3 = 0)
UNION ALL
-- incremental canonicalization (r10): the epoch-folded label table must
-- equal the from-scratch min-reachable closure over the same pair set
SELECT 'labels' AS side, CAST(l.id AS BIGINT) AS doc_a,
       CAST(l.component AS BIGINT) AS doc_b, CAST(s.sz AS BIGINT) AS jaccard_c
FROM llab l JOIN lsz s ON l.component = s.component
"""


# ========================================================== dedup: simhash


def _oracle_simhash_cte() -> str:
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (({sqlgen.shiftright('_h', i, DUCK)}) & 1) = 1 THEN 1 ELSE -1 END) >= 0"
        f" THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"""
  SELECT doc_id, CAST({bits} AS BIGINT) AS simhash
  FROM (
    SELECT doc_id, {sqlgen.hexfold_i64('_m')} AS _h
    FROM (SELECT doc_id, md5(w) AS _m
          FROM (SELECT doc_id, unnest({sqlgen.split_words('text', DUCK)}) AS w FROM documents))
  )
  GROUP BY doc_id
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: share ≥1 of 4 8-bit bands AND hamming ≤ 3.
    The oracle recomputes the 32-bit majority-vote signatures (so the
    ``simhash`` signature operator is hash-gated through this row too),
    the band join, and the bit_count verify."""
    tune(spark)
    return dd.simhash_pairs(_load(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH sig AS ({_oracle_simhash_cte()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
     (a.simhash & 255) = (b.simhash & 255)
  OR (({sqlgen.shiftright('a.simhash', 8, DUCK)}) & 255) = (({sqlgen.shiftright('b.simhash', 8, DUCK)}) & 255)
  OR (({sqlgen.shiftright('a.simhash', 16, DUCK)}) & 255) = (({sqlgen.shiftright('b.simhash', 16, DUCK)}) & 255)
  OR (({sqlgen.shiftright('a.simhash', 24, DUCK)}) & 255) = (({sqlgen.shiftright('b.simhash', 24, DUCK)}) & 255))
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ====================================================== similarity search


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 10),
    ranked on the *rounded* score so both engines rank identically."""
    tune(spark)
    return sim.topk_bruteforce(_load(spark, sf_dir, "embeddings"), k=5, n_queries=10)


ORACLE_SIMILARITY_TOPK = """
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE vec_id < 10),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         CAST(ROUND(10000.0 * list_dot_product(q.embedding, e.embedding) /
              (sqrt(list_dot_product(q.embedding, q.embedding)) * sqrt(list_dot_product(e.embedding, e.embedding)))) AS BIGINT) AS cosine_c
  FROM q JOIN e ON e.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_c DESC, neighbor_id ASC) AS BIGINT) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, cosine_c, rnk FROM ranked WHERE rnk <= 5
"""


def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every approximate-ANN path, run in its provably-exact configuration
    and union-labeled by ``mode`` — one oracle (the brute-force SQL ×4
    modes) hash-gates ALL the machinery:

    - ``ivf``: k-means coarse quantizer + cell equi-join at n_probe =
      n_cells (every cell probed ⇒ exact);
    - ``pq_rerank``: PQ codebook train/encode + ADC lookup scoring with
      rerank >= corpus (the exact-rescore covers every ADC candidate ⇒
      exact) — gates the codebooks, the m-byte codes, the LUT scoring and
      the refine join;
    - ``ivfpq_rerank``: the composed FAISS layout (coarse cells + PQ codes
      + ADC + rerank), exhaustive probe + full rerank ⇒ exact;
    - ``ivfpq_join_rerank``: the DataFrame-query join path (map-side query
      probing, cell equi-join, batch ADC decode, keyed rerank joins — the
      shape past the 16k driver-collect ceiling), same exact configuration;
    - ``index_rerank`` (r8): the PERSISTED index path — the index is built
      to a temp dir, loaded back, and queried via topk_index at the same
      exact configuration: the save → read-back → query roundtrip is
      hash-gated, not just the in-session math.  Since r12 the build runs
      THROUGH THE STREAMING INGEST PATH (two ``ingest_batch_into_ann_index``
      epoch calls: bootstrap build on the even vec_ids + watermarked
      frozen-codebook append of the odd ones,
      streaming/ann_index_stream.py) — codebooks train on epoch 0 only,
      but exhaustive probe + full rerank keeps the result EXACT regardless
      (the rerank contract), so the incremental maintenance flow is
      hash-gated the way the dedup index's side='index_cross' gates its
      streaming folds.

    Selective-probe recall and pruning stay pytest-covered
    (tests/test_similarity.py, tests/test_pq.py)."""
    import os

    from tikv_data_compare_spark.operators import ann_index as ai

    tune(spark)
    emb = _load(spark, sf_dir, "embeddings")
    n = emb.count()  # rerank >= corpus makes the refine stage exact
    qdf = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def lbl(df: DataFrame, mode: str, score_col: str) -> DataFrame:
        return df.select(
            F.lit(mode).alias("mode"),
            "query_id",
            "neighbor_id",
            F.col(score_col).alias("score_c"),
            "rnk",
        )

    ivf = sim.topk_ivf(emb, k=5, n_queries=10, n_cells=8, n_probe=8)
    pq = sim.topk_pq(emb, k=5, n_queries=10, m=8, k_codes=32, rerank=n)
    ivfpq = sim.topk_ivfpq(
        emb, k=5, n_queries=10, n_cells=8, n_probe=8, m=8, k_codes=32, rerank=n
    )
    ivfpq_join = sim.topk_ivfpq_join(
        emb, qdf, k=5, n_cells=8, n_probe=8, m=8, k_codes=32, rerank=n
    )
    idx_path = os.path.join(fsutil.scratch_dir(prefix="ann_idx_"), "idx")
    from tikv_data_compare_spark.streaming.ann_index_stream import (
        ingest_batch_into_ann_index,
    )

    ingest_batch_into_ann_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx_path, epoch_id=0,
        build_opts={"n_cells": 8, "m": 8, "k_codes": 32},
    )
    ingest_batch_into_ann_index(
        emb.filter(F.col("vec_id") % 2 == 1), idx_path, epoch_id=1
    )
    via_index = ai.topk_index(
        ai.load_ann_index(spark, idx_path), qdf, k=5, n_probe=8, rerank=n,
        emb_for_rerank=emb,
    )
    return (
        lbl(ivf, "ivf", "cosine_c")
        .unionByName(lbl(pq, "pq_rerank", "score_c"))
        .unionByName(lbl(ivfpq, "ivfpq_rerank", "score_c"))
        .unionByName(lbl(ivfpq_join, "ivfpq_join_rerank", "score_c"))
        .unionByName(lbl(via_index, "index_rerank", "score_c"))
    )


#: the brute-force top-k SQL replicated per exact-configuration ANN mode:
#: each labeled branch of q_similarity_topk_ivf must equal it row-for-row
ORACLE_SIMILARITY_TOPK_MODES = """
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE vec_id < 10),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         CAST(ROUND(10000.0 * list_dot_product(q.embedding, e.embedding) /
              (sqrt(list_dot_product(q.embedding, q.embedding)) * sqrt(list_dot_product(e.embedding, e.embedding)))) AS BIGINT) AS score_c
  FROM q JOIN e ON e.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_c DESC, neighbor_id ASC) AS BIGINT) AS rnk
  FROM scored
),
topk AS (SELECT query_id, neighbor_id, score_c, rnk FROM ranked WHERE rnk <= 5)
SELECT m.mode, t.query_id, t.neighbor_id, t.score_c, t.rnk
FROM (VALUES ('ivf'), ('pq_rerank'), ('ivfpq_rerank'), ('ivfpq_join_rerank'),
             ('index_rerank')) m(mode)
CROSS JOIN topk t
"""


#: fixed LSH geometry for the oracle-gated near-dup query: the seeded plane
#: matrix is a pure function of (dim, planes, tables, seed), so the SAME
#: normalized plane values can be embedded as literals in the DuckDB oracle
#: — the emitted pair set is deterministic, not just "approximately right".
NEAR_DUP_DIM = 64  # fixture embedding dim (all sf; asserted in the query)
NEAR_DUP_PLANES = 4
NEAR_DUP_TABLES = 2
NEAR_DUP_SEED = 7
NEAR_DUP_THRESHOLD_C = 3000


def q_similarity_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (hyperplane-LSH bucket equi-join +
    exact cosine verify, operators/similarity.py embedding_near_dup).

    Run with FIXED plane geometry (dim/planes/tables/seed above) so the
    candidate set is a deterministic function of the data: the oracle
    rebuilds the same seeded hyperplanes as SQL literals, recomputes every
    vector's sign-bit bucket per table, joins on bucket equality in either
    table, and applies the same exact-cosine threshold — a full hash gate
    on the bucketing, the pair join, and the verify stage (auto_planes
    sizing stays pytest-covered)."""
    tune(spark)
    return sim.embedding_near_dup(
        _load(spark, sf_dir, "embeddings"),
        threshold_c=NEAR_DUP_THRESHOLD_C,
        n_planes=NEAR_DUP_PLANES,
        n_tables=NEAR_DUP_TABLES,
        seed=NEAR_DUP_SEED,
        dim=NEAR_DUP_DIM,
    )


def _near_dup_ctes() -> str:
    """Shared CTE chain (e → proj → buck → pairs → verified) recomputing the
    fixed-geometry LSH near-dup pair set in DuckDB: the normalized seeded
    hyperplanes are embedded as double literals (shortest-roundtrip repr —
    parses to the identical float64), buckets are recomputed as sign-bit
    integers (summed left-to-right, the same accumulation order as
    ``lsh_buckets``), and pairs must collide in ≥1 table AND pass the exact
    rounded-cosine threshold."""
    from tikv_data_compare_spark.operators.similarity import _plane_matrix

    planes = _plane_matrix(NEAR_DUP_DIM, NEAR_DUP_PLANES, NEAR_DUP_TABLES, NEAR_DUP_SEED)
    proj_cols = []
    for j in range(NEAR_DUP_PLANES * NEAR_DUP_TABLES):
        terms = " + ".join(
            f"v[{i + 1}] * {planes[i, j]!r}" for i in range(NEAR_DUP_DIM)
        )
        proj_cols.append(f"({terms}) AS d{j}")
    buckets = []
    for t in range(NEAR_DUP_TABLES):
        bits = " + ".join(
            f"(CASE WHEN d{t * NEAR_DUP_PLANES + p} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(NEAR_DUP_PLANES)
        )
        buckets.append(f"({t} * {1 << NEAR_DUP_PLANES} + {bits}) AS b{t}")
    collide = " OR ".join(f"a.b{t} = b.b{t}" for t in range(NEAR_DUP_TABLES))
    cos = (
        "CAST(ROUND(10000.0 * list_dot_product(va, vb) / "
        "(sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))) AS BIGINT)"
    )
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
proj AS (SELECT vec_id, v, {", ".join(proj_cols)} FROM e),
buck AS (SELECT vec_id, v, {", ".join(buckets)} FROM proj),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
  FROM buck a JOIN buck b ON a.vec_id < b.vec_id AND ({collide})
),
verified AS (
  SELECT vec_a, vec_b, {cos} AS cosine_c FROM pairs WHERE {cos} >= {NEAR_DUP_THRESHOLD_C}
)"""


def oracle_similarity_near_dup() -> str:
    """DuckDB oracle for the fixed-geometry near-dup query (see
    :func:`_near_dup_ctes`)."""
    return f"WITH {_near_dup_ctes()} SELECT vec_a, vec_b, cosine_c FROM verified"


def q_similarity_embed_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dedup decisions, both operators in one labeled row set:

    - ``part='exact'``: exact-duplicate groups via canonical vector
      fingerprint (``embedding_exact_dup``) — (fingerprint, kept id, group
      size);
    - ``part='near_canonical'``: the end-to-end near-dup decision
      (``embedding_dedup_canonical``: fixed-geometry LSH pairs → connected
      components → kept-iff-component-minimum), one verdict per vector —
      (vec id, component, kept).

    - ``part='semdedup'`` (r10): the SemDeDup verdict (``clustering.
      semantic_dedup``: bit-deterministic fixed-point k-means, k=4 ×2 Lloyd
      rounds, then within-cluster cosine ≥ 3000 drops the higher id) — one
      (vec id, cluster, kept) row per vector.  The oracle replays BOTH
      Lloyd rounds in SQL (``_oracle_kmeans_ctes``), so the distributed
      trainer itself — not just the verdict join — is inside the hash gate.

    The oracle recomputes the exact fingerprints AND the transitive closure
    of the SQL-recomputed LSH pair set (recursive CTE), so the closure +
    verdict machinery is hash-gated, not just property-tested."""
    from tikv_data_compare_spark.operators.clustering import semantic_dedup

    tune(spark)
    emb = _load(spark, sf_dir, "embeddings")
    sem = semantic_dedup(
        emb, k=SEMDEDUP_K, n_iter=SEMDEDUP_ITER, threshold_c=SEMDEDUP_THRESHOLD_C
    ).select(
        F.lit("semdedup").alias("part"),
        F.col("vec_id").alias("a"),
        F.col("cluster").alias("b"),
        F.col("kept").alias("c"),
    )
    exact = sim.embedding_exact_dup(emb).select(
        F.lit("exact").alias("part"),
        F.col("vec_fp").alias("a"),
        F.col("keep_vec_id").alias("b"),
        F.col("n_dups").alias("c"),
    )
    canon = sim.embedding_dedup_canonical(
        emb,
        threshold_c=NEAR_DUP_THRESHOLD_C,
        n_planes=NEAR_DUP_PLANES,
        n_tables=NEAR_DUP_TABLES,
        seed=NEAR_DUP_SEED,
        dim=NEAR_DUP_DIM,
    ).select(
        F.lit("near_canonical").alias("part"),
        F.col("vec_id").alias("a"),
        F.col("component").alias("b"),
        F.col("kept").alias("c"),
    )
    return exact.unionByName(canon).unionByName(sem)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding-column profile, the sanity pass before any ANN
    build, in one row per language:

    - per-vector array profiling (JVM higher-order ``aggregate``/``size``/
      ``array_min``/``array_max``, no Python): rounded L2 norms summed
      exactly as integers, global min/max component, dimension drift check;
    - the element-wise centroid via posexplode → (lang, pos) aggregation —
      the distributed vector-reduce shape (map-side partial sums per
      component, one shuffle keyed on (lang, pos)) k-means update steps are
      built from — reported as the centroid L2 norm.

    Catches zero/denormal vectors (sum_norm_c), dimension drift (dim_min ≠
    dim_max), and component outliers (min_comp_c/max_comp_c)."""
    tune(spark)
    emb = _load(spark, sf_dir, "embeddings")
    docs = _load(spark, sf_dir, "documents").select(F.col("doc_id").alias("vec_id"), "lang")
    j = emb.join(docs, "vec_id")
    sumsq = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    per_vec = j.select(
        "lang",
        "embedding",
        F.expr("CAST(size(embedding) AS BIGINT)").alias("dim"),
        F.expr(f"CAST(ROUND(10000.0 * sqrt({sumsq})) AS BIGINT)").alias("norm_c"),
        F.expr("CAST(ROUND(10000.0 * CAST(array_min(embedding) AS DOUBLE)) AS BIGINT)").alias("vmin_c"),
        F.expr("CAST(ROUND(10000.0 * CAST(array_max(embedding) AS DOUBLE)) AS BIGINT)").alias("vmax_c"),
    )
    stats = per_vec.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("dim").alias("dim_min"),
        F.max("dim").alias("dim_max"),
        F.sum("norm_c").cast("long").alias("sum_norm_c"),
        F.min("vmin_c").alias("min_comp_c"),
        F.max("vmax_c").alias("max_comp_c"),
    )
    comp = j.select("lang", F.posexplode("embedding").alias("pos", "x")).withColumn(
        "xd", F.expr("CAST(x AS DOUBLE)")
    )
    cent = comp.groupBy("lang", "pos").agg(F.avg("xd").alias("m"))
    norms = cent.groupBy("lang").agg(
        F.expr("CAST(ROUND(10000.0 * sqrt(sum(m * m))) AS BIGINT)").alias("centroid_norm_c"),
    )
    return stats.join(norms, "lang").select(
        "lang", "n_vecs", "dim_min", "dim_max", "sum_norm_c",
        "min_comp_c", "max_comp_c", "centroid_norm_c",
    )


ORACLE_EMBEDDING_STATS = """
WITH j AS (
  SELECT e.vec_id, d.lang, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
per_vec AS (
  SELECT lang, v,
         CAST(len(v) AS BIGINT) AS dim,
         CAST(ROUND(10000.0 * sqrt(list_dot_product(v, v))) AS BIGINT) AS norm_c,
         CAST(ROUND(10000.0 * list_min(v)) AS BIGINT) AS vmin_c,
         CAST(ROUND(10000.0 * list_max(v)) AS BIGINT) AS vmax_c
  FROM j
),
stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(min(dim) AS BIGINT) AS dim_min, CAST(max(dim) AS BIGINT) AS dim_max,
         CAST(sum(norm_c) AS BIGINT) AS sum_norm_c,
         CAST(min(vmin_c) AS BIGINT) AS min_comp_c, CAST(max(vmax_c) AS BIGINT) AS max_comp_c
  FROM per_vec GROUP BY lang
),
comp AS (
  SELECT lang, pos, v[pos] AS x
  FROM (SELECT lang, v, unnest(generate_series(1, len(v))) AS pos FROM j)
),
cent AS (SELECT lang, pos, avg(x) AS m FROM comp GROUP BY lang, pos),
norms AS (
  SELECT lang, CAST(ROUND(10000.0 * sqrt(sum(m * m))) AS BIGINT) AS centroid_norm_c
  FROM cent GROUP BY lang
)
SELECT stats.lang, n_vecs, dim_min, dim_max, sum_norm_c, min_comp_c, max_comp_c, centroid_norm_c
FROM stats JOIN norms ON stats.lang = norms.lang
"""


#: SemDeDup gate geometry: k small enough that the SQL Lloyd replay stays
#: readable, threshold at the near-dup canon (3000 drops ~half the fixture
#: corpus — both verdicts exercised; 6000 drops none).
SEMDEDUP_K = 4
SEMDEDUP_ITER = 2
SEMDEDUP_THRESHOLD_C = 3000


def _oracle_kmeans_ctes(k: int, n_iter: int) -> str:
    """CTE chain replaying operators/clustering.kmeans in DuckDB: canon
    fixed-point vectors (``vi``), lowest-id seeds (``c0``), then per round
    an argmin assignment (row_number over score asc, cluster asc — the same
    lowest-index tie-break as the Spark array_position form) and an
    exact-integer-sum centroid update; ``afin`` is the final assignment.
    Score is (c·c − 2·v·c) with the shared ||v||² term dropped — identical
    expression tree to clustering._assign_expr."""
    from tikv_data_compare_spark.operators.clustering import CANON_SCALE

    score = (
        "(list_dot_product({p}.c, {p}.c)"
        " - 2.0 * list_dot_product(CAST(vi.vi AS DOUBLE[]), {p}.c))"
    )
    ctes = [
        "vi AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(ROUND(x * {CANON_SCALE}) AS BIGINT)) AS vi FROM embeddings)",
        "c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, CAST(vi AS DOUBLE[]) AS c "
        f"FROM (SELECT vec_id, vi FROM vi ORDER BY vec_id LIMIT {k}))",
    ]
    prev = "c0"
    for i in range(1, n_iter + 1):
        sc = score.format(p=prev)
        ctes.append(
            f"s{i} AS (SELECT vec_id, vi, j FROM (SELECT vi.vec_id, vi.vi, {prev}.j, "
            f"row_number() OVER (PARTITION BY vi.vec_id ORDER BY {sc} ASC, {prev}.j ASC) AS rn "
            f"FROM vi CROSS JOIN {prev}) WHERE rn = 1)"
        )
        ctes.append(
            f"u{i} AS (SELECT j, pos, sum(x) AS s, count(*) AS n FROM "
            f"(SELECT j, unnest(vi) AS x, unnest(range(len(vi))) AS pos FROM s{i}) GROUP BY j, pos)"
        )
        ctes.append(
            f"m{i} AS (SELECT j, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c FROM u{i} GROUP BY j)"
        )
        ctes.append(
            f"c{i} AS (SELECT {prev}.j, COALESCE(m{i}.c, {prev}.c) AS c "
            f"FROM {prev} LEFT JOIN m{i} ON {prev}.j = m{i}.j)"
        )
        prev = f"c{i}"
    sc = score.format(p=prev)
    ctes.append(
        f"afin AS (SELECT vec_id, j AS cluster FROM (SELECT vi.vec_id, {prev}.j, "
        f"row_number() OVER (PARTITION BY vi.vec_id ORDER BY {sc} ASC, {prev}.j ASC) AS rn "
        f"FROM vi CROSS JOIN {prev}) WHERE rn = 1)"
    )
    return ",\n".join(ctes)


def oracle_similarity_embed_dup() -> str:
    return f"""
WITH RECURSIVE {_near_dup_ctes()},
{_oracle_kmeans_ctes(SEMDEDUP_K, SEMDEDUP_ITER)},
ec AS (SELECT e.vec_id, e.v, afin.cluster FROM e JOIN afin USING (vec_id)),
sd_dropped AS (
  SELECT DISTINCT b2.vec_id
  FROM ec a2 JOIN ec b2 ON a2.cluster = b2.cluster AND a2.vec_id < b2.vec_id
  WHERE CAST(ROUND(10000.0 * list_dot_product(a2.v, b2.v) /
        (sqrt(list_dot_product(a2.v, a2.v)) * sqrt(list_dot_product(b2.v, b2.v)))) AS BIGINT)
        >= {SEMDEDUP_THRESHOLD_C}
),
nd_edges AS (
  SELECT vec_a AS u, vec_b AS v FROM verified
  UNION
  SELECT vec_b AS u, vec_a AS v FROM verified
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM nd_edges)
  UNION
  SELECT ne.v, reach.r FROM reach JOIN nd_edges ne ON ne.u = reach.u
),
comp AS (SELECT u AS vec_id, min(r) AS component FROM reach GROUP BY u)
SELECT 'exact' AS part,
       CAST({sqlgen.hexfold_i64('_m')} AS BIGINT) AS a,
       CAST(min(vec_id) AS BIGINT) AS b,
       CAST(count(*) AS BIGINT) AS c
FROM (SELECT vec_id,
             md5(array_to_string(list_transform(embedding,
                 x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 100000) AS BIGINT) AS VARCHAR)), ',')) AS _m
      FROM embeddings)
GROUP BY 2
UNION ALL
SELECT 'near_canonical' AS part,
       CAST(v.vec_id AS BIGINT) AS a,
       CAST(COALESCE(c.component, v.vec_id) AS BIGINT) AS b,
       CAST(CASE WHEN COALESCE(c.component, v.vec_id) = v.vec_id THEN 1 ELSE 0 END AS BIGINT) AS c
FROM embeddings v LEFT JOIN comp c ON c.vec_id = v.vec_id
UNION ALL
SELECT 'semdedup' AS part,
       CAST(af.vec_id AS BIGINT) AS a,
       CAST(af.cluster AS BIGINT) AS b,
       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS c
FROM afin af LEFT JOIN sd_dropped dr ON dr.vec_id = af.vec_id
"""


# =========================================================== text analysis


#: deterministic PII synthesis (the fixture corpus contains no natural
#: emails/URLs/digit runs, so matches are planted per doc_id — the same
#: expression text runs in both engines, like the multimodal payloads)
PII_SYNTH = (
    "concat(text,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' u', CAST(doc_id AS STRING), '@example.com') ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' https://data.example.org/d/', CAST(doc_id AS STRING)) ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN concat(' id ', CAST(1000000 + doc_id AS STRING)) ELSE '' END)"
)


#: deterministic C4-offender synthesis (the fixture corpus is single-line
#: with no braces/lorem/javascript, so each rule's trigger is planted per
#: doc_id; the base text gets a terminal '.' so ordinary docs survive as a
#: kept line and the gate separates docs by their PLANTED offenses)
C4_SYNTH = (
    "concat(text, '.',"
    " CASE WHEN doc_id % 5 = 0 THEN concat(chr(10), 'lorem ipsum dolor sit amet.') ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(chr(10), 'var f = function() { return 1; }') ELSE '' END,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(chr(10), 'click here') ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN concat(chr(10), 'no terminal punctuation on this line') ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN concat(chr(10), 'enable JavaScript to continue viewing.') ELSE '' END)"
)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring stats + PII audit in one per-doc row: tokens, chars,
    mean word length, stopword and punctuation counts (``text_stats``), and
    the ``pii_counts`` redaction pre-pass run over a deterministically
    PII-augmented copy of the text (emails/URLs/long digit runs planted per
    doc_id — the fixture corpus has none naturally, so the oracle genuinely
    gates the match counting, with the patterns restricted to Java∩RE2
    syntax).

    Since r10 the row also gates the C4 boilerplate rules (``c4_flags``)
    over a C4-offender-planted copy (lorem-ipsum / curly-brace /
    short-line / no-terminal-punctuation / javascript lines planted per
    doc_id): kept-line count, both doc-level flags, the keep verdict AND
    the md5 of the line-filtered rebuild, all recomputed by the oracle.

    Since r15 the row also gates ``pii_redact`` (the release step after
    the audit): the md5 of the redacted planted text (``red_h``) is
    recomputed by the oracle's own regexp_replace chain, and
    ``red_clean`` re-audits the redacted text with the SAME patterns —
    hash-gating both the span replacement and its fixed-point property
    (no pattern survives its own redaction)."""
    tune(spark)
    docs = _load(spark, sf_dir, "documents")
    stats = tx.text_stats(docs)
    aug = docs.select("doc_id", F.expr(PII_SYNTH).alias("text"))
    red_t = F.col("text")
    red = tx.pii_redact(aug).select(
        "doc_id",
        F.md5(red_t).alias("red_h"),
        (
            (F.regexp_count(red_t, F.lit(tx.PII_EMAIL_RE)) == 0)
            & (F.regexp_count(red_t, F.lit(tx.PII_URL_RE)) == 0)
            & (F.regexp_count(red_t, F.lit(tx.PII_LONGNUM_RE)) == 0)
        ).cast("long").alias("red_clean"),
    )
    c4aug = docs.select("doc_id", F.expr(C4_SYNTH).alias("text"))
    c4 = tx.c4_flags(c4aug).select(
        "doc_id",
        F.col("n_kept_lines").alias("c4_n_kept"),
        F.col("has_lorem").cast("long").alias("c4_lorem"),
        F.col("has_brace").cast("long").alias("c4_brace"),
        F.col("c4_keep").cast("long").alias("c4_keep"),
        F.md5("c4_text").alias("c4_h"),
    )
    return (
        stats.join(tx.pii_counts(aug), "doc_id").join(red, "doc_id").join(c4, "doc_id")
    )


def _sw_list_sql(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})

ORACLE_TEXT_STATS = f"""
WITH base AS (SELECT doc_id, text, {sqlgen.split_words('text', DUCK)} AS ws FROM documents),
aug AS (SELECT doc_id, {PII_SYNTH} AS atext FROM documents),
red AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(atext,
             '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{tx.PII_URL_RE}', '<URL>', 'g'),
             '{tx.PII_LONGNUM_RE}', '<NUM>', 'g') AS rtext
  FROM aug
),
c4 AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(ctext, ''), chr(10)),
                     l -> substring(l, -1, 1) IN ('.', '!', '?', '"')
                          AND len(string_split(l, ' ')) >= 3
                          AND NOT contains(lower(l), 'javascript')) AS kept,
         contains(lower(coalesce(ctext, '')), 'lorem ipsum') AS lorem,
         contains(coalesce(ctext, ''), '{{') AS brace
  FROM (SELECT doc_id, {C4_SYNTH} AS ctext FROM documents)
)
SELECT b.doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(ROUND(10000.0 * (length(text) - len(ws) + 1) / len(ws)) AS BIGINT) AS mean_word_len_c,
       CAST(len(list_filter(ws, x -> x IN ({_sw_list_sql(ALL_STOPWORDS)}))) AS BIGINT) AS n_stopwords,
       CAST(length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', '')) AS BIGINT) AS n_punct,
       CAST(len(regexp_extract_all(atext, '{tx.PII_EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(atext, '{tx.PII_URL_RE}')) AS BIGINT) AS n_url,
       CAST(len(regexp_extract_all(atext, '{tx.PII_LONGNUM_RE}')) AS BIGINT) AS n_longnum,
       CAST(CASE WHEN len(regexp_extract_all(atext, '{tx.PII_EMAIL_RE}')) > 0
                   OR len(regexp_extract_all(atext, '{tx.PII_URL_RE}')) > 0
                   OR len(regexp_extract_all(atext, '{tx.PII_LONGNUM_RE}')) > 0
            THEN 1 ELSE 0 END AS BIGINT) AS has_pii,
       md5(r.rtext) AS red_h,
       CAST(CASE WHEN len(regexp_extract_all(r.rtext, '{tx.PII_EMAIL_RE}')) = 0
                  AND len(regexp_extract_all(r.rtext, '{tx.PII_URL_RE}')) = 0
                  AND len(regexp_extract_all(r.rtext, '{tx.PII_LONGNUM_RE}')) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS red_clean,
       CAST(len(c.kept) AS BIGINT) AS c4_n_kept,
       CAST(CASE WHEN c.lorem THEN 1 ELSE 0 END AS BIGINT) AS c4_lorem,
       CAST(CASE WHEN c.brace THEN 1 ELSE 0 END AS BIGINT) AS c4_brace,
       CAST(CASE WHEN NOT c.lorem AND NOT c.brace AND len(c.kept) >= 3
            THEN 1 ELSE 0 END AS BIGINT) AS c4_keep,
       md5(array_to_string(c.kept, chr(10))) AS c4_h
FROM base b JOIN aug a ON b.doc_id = a.doc_id JOIN red r ON b.doc_id = r.doc_id
     JOIN c4 c ON b.doc_id = c.doc_id
"""


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + canonical normalization in one per-doc row:

    - whitespace word count plus a BPE-ish subword estimate (1 extra token
      per 6 chars beyond a word's first 6) for training-data budgeting —
      JVM higher-order array functions, no UDF (``token_count``);
    - REAL byte-level BPE (since r10): a 48-merge tokenizer trained on this
      corpus's top-256 word-frequency table (bounded driver loop, the
      PQ-codebook pattern), applied as a purely map-side nested-HOF fold —
      ``n_tokens_subword``.  The oracle RETRAINS the merge list with one
      chained pair-count→argmax→replace CTE stage per rank and recomputes
      every doc's count over the distinct-word vocabulary, so BPE training
      and application are both inside the hash gate;
    - the normalization pre-pass before exact dedup (lowercase, strip
      sentence punctuation, collapse whitespace runs, trim) with its char
      delta, so the oracle verifies the transform text itself;
    - sequence packing (``pack_token_bins``, since r8): every doc's
      token-budget bin (512 tokens, 8 content-hash shards) and in-bin
      position — the concatenate-and-cut pretraining batch layout, fully
      deterministic, recomputed by the oracle's window cumsum.  Since r10
      the packing is denominated in the TRAINED subword counts (published
      packing recipes budget subword tokens, not whitespace words);
    - passage chunking (``chunk_text``, since r10): sliding word windows
      (40 words, overlap 8) — chunk count + hash of the idx-ordered chunk
      texts, the window algebra replayed by the oracle's list slicing."""
    tune(spark)
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    stripped = "replace(replace(replace(lower(text), '.', ''), ',', ''), '!', '')"
    norm = f"trim(regexp_replace({stripped}, ' +', ' '))"
    merges = tx.train_bpe_merges(docs)
    counted = tx.bpe_encode(tx.bpe_token_count(tx.token_count(docs), merges), merges)
    packed = tx.pack_token_bins(
        counted, budget=512, n_shards=8, ntok_col="n_tokens_subword"
    ).select("doc_id", "pack_bin", "pack_pos")
    # passage chunking (chunk_text, r10): per-doc chunk count + hash of the
    # idx-ordered chunk texts — the oracle replays the same window algebra
    chagg = tx.chunk_text(docs, max_words=40, overlap=8).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.expr(
            "md5(concat_ws('|', transform(array_sort("
            "collect_list(named_struct('i', chunk_idx, 't', chunk_text))), "
            "s -> s.t)))"
        ).alias("chunks_h"),
    )
    return counted.join(chagg, "doc_id").select(
        "doc_id",
        "n_words",
        "n_tokens_bpe",
        "n_tokens_subword",
        # the id SEQUENCE itself (bpe_encode, r10): hash of the comma-joined
        # token ids — the oracle rebuilds every word's ids from its replayed
        # segmentations and re-joins them in document word order
        F.expr(
            "md5(concat_ws(',', transform(token_ids, i -> CAST(i AS STRING))))"
        ).alias("tok_ids_h"),
        "n_chunks",
        "chunks_h",
        F.expr(norm).alias("norm_text"),
        F.expr(f"CAST(length(text) - length({norm}) AS BIGINT)").alias("chars_removed"),
    ).join(packed, "doc_id")


def _bpe_oracle_ctes(n_merges: int, vocab_top: int) -> str:
    """DuckDB replay of ``text.train_bpe_merges`` + application: chained
    CTEs, one (pair-count, argmax, merge-apply) stage per rank — see the
    engine-parity section comment in operators/text.py.  Everything an
    iterative trainer needs is expressible per stage: pair frequencies are
    an unnest+GROUP BY over the current segmentations, the argmax is a
    (c DESC, l, r) LIMIT 1 (made always-one-row via scalar subqueries so a
    bottomed-out trainer degrades to identity stages, matching the Python
    early-stop), and the merge itself is the shared leftmost-non-overlap
    ``replace``.  MATERIALIZED pins linear evaluation — inlining would
    re-expand each ts stage once per downstream reference."""
    ctes = [
        """bwords AS (SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos
        FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents)),
btw AS (SELECT w, count(*) AS n FROM bwords WHERE w <> '' GROUP BY w ORDER BY n DESC, w LIMIT """
        + str(vocab_top)
        + """),
bts0 AS MATERIALIZED (SELECT regexp_replace(hex(encode(w)), '(..)', ',\\1,', 'g') AS seg, n FROM btw),
ba0 AS MATERIALIZED (SELECT w, regexp_replace(hex(encode(w)), '(..)', ',\\1,', 'g') AS seg
       FROM (SELECT DISTINCT w FROM bwords WHERE w <> ''))"""
    ]
    for i in range(n_merges):
        ctes.append(
            f"""bp{i} AS (
  SELECT l, r, sum(n) AS c FROM (
    SELECT n, unnest(list_transform(range(1, len(toks)), j -> {{'l': toks[j], 'r': toks[j+1]}}), recursive := true)
    FROM (SELECT string_split(trim(seg, ','), ',,') AS toks, n FROM bts{i})
  ) GROUP BY 1, 2
),
bm{i} AS MATERIALIZED (
  SELECT (SELECT l FROM bp{i} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1) AS l,
         (SELECT r FROM bp{i} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1) AS r),
bts{i + 1} AS MATERIALIZED (
  SELECT CASE WHEN m.l IS NULL THEN seg
              ELSE replace(seg, ',' || m.l || ',,' || m.r || ',', ',' || m.l || m.r || ',') END AS seg, n
  FROM bts{i}, bm{i} m),
ba{i + 1} AS MATERIALIZED (
  SELECT w, CASE WHEN m.l IS NULL THEN seg
                 ELSE replace(seg, ',' || m.l || ',,' || m.r || ',', ',' || m.l || m.r || ',') END AS seg
  FROM ba{i}, bm{i} m)"""
        )
    hexpair = tx.BPE_HEXPAIR_INT.format(t="b.t")
    bmap_union = "\n    UNION ALL ".join(
        f"SELECT 256 + {i} AS tid, l || r AS tok FROM bm{i} WHERE l IS NOT NULL"
        for i in range(n_merges)
    )
    ctes.append(
        f"""bwtok AS (SELECT w, CAST((length(seg) - length(replace(seg, ',', ''))) // 2 AS BIGINT) AS ntok
          FROM ba{n_merges}),
bcounts AS (SELECT d.doc_id, CAST(coalesce(sum(t.ntok), 0) AS BIGINT) AS n_tokens_subword
            FROM bwords d LEFT JOIN bwtok t ON d.w = t.w GROUP BY d.doc_id),
bmap AS ({bmap_union}),
bwt AS (SELECT w, unnest(toks) AS t, unnest(range(len(toks))) AS ord
        FROM (SELECT w, list_filter(string_split(trim(seg, ','), ',,'), x -> x <> '') AS toks
              FROM ba{n_merges})),
bwids AS (SELECT b.w, b.ord,
                 CASE WHEN length(b.t) = 2 THEN {hexpair} ELSE m.tid END AS tid
          FROM bwt b LEFT JOIN bmap m ON m.tok = b.t),
bwseq AS (SELECT w, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY ord) AS idstr
          FROM bwids GROUP BY w),
bdocseq AS (SELECT d.doc_id, coalesce(string_agg(s.idstr, ',' ORDER BY d.pos), '') AS ids
            FROM bwords d LEFT JOIN bwseq s ON d.w = s.w GROUP BY d.doc_id)"""
    )
    return ",\n".join(ctes)


def _oracle_text_tokens() -> str:
    return f"""
WITH {_bpe_oracle_ctes(tx.BPE_N_MERGES, tx.BPE_VOCAB_TOP)},
base AS (
  SELECT doc_id, text, {sqlgen.split_words('text', DUCK)} AS ws,
         trim(regexp_replace(replace(replace(replace(lower(text), '.', ''), ',', ''), '!', ''), ' +', ' ', 'g')) AS norm_text
  FROM documents
),
chunks AS (
  SELECT doc_id, i, t FROM (
    SELECT doc_id, unnest(list_transform(generate_series(0, nc - 1),
           c -> {{'i': c, 't': array_to_string(ws[c*32+1 : c*32+40], ' ')}}), recursive := true)
    FROM (SELECT doc_id, ws, 1 + (greatest(len(ws) - 40, 0) + 31) // 32 AS nc
          FROM (SELECT doc_id, {sqlgen.split_words("coalesce(text, '')", DUCK)} AS ws FROM documents))
  )
),
chagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         md5(string_agg(t, '|' ORDER BY i)) AS chunks_h
  FROM chunks GROUP BY doc_id
),
packing AS (
  SELECT doc_id,
         CAST(bin * 8 + shard AS BIGINT) AS pack_bin,
         CAST(row_number() OVER (PARTITION BY shard, bin ORDER BY h, doc_id) AS BIGINT) AS pack_pos
  FROM (
    SELECT doc_id, h, shard,
           CAST(floor((sum(ntok) OVER (PARTITION BY shard ORDER BY h, doc_id)
                       - ntok) / 512.0) AS BIGINT) AS bin
    FROM (
      SELECT hd.doc_id, hd.h, ((hd.h % 8) + 8) % 8 AS shard, c.n_tokens_subword AS ntok
      FROM (SELECT doc_id, {sqlgen.hexfold_i64('_m')} AS h
            FROM (SELECT doc_id, md5(coalesce(text, '')) AS _m FROM documents)) hd
      JOIN bcounts c ON hd.doc_id = c.doc_id
    )
  )
)
SELECT base.doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(ws) + list_sum(list_transform(ws,
            w -> CAST(floor(greatest(length(w) - 6, 0) / 6.0) AS BIGINT))) AS BIGINT) AS n_tokens_bpe,
       c.n_tokens_subword,
       md5(sq.ids) AS tok_ids_h,
       ch.n_chunks, ch.chunks_h,
       norm_text,
       CAST(length(text) - length(norm_text) AS BIGINT) AS chars_removed,
       p.pack_bin, p.pack_pos
FROM base
JOIN packing p ON base.doc_id = p.doc_id
JOIN bcounts c ON base.doc_id = c.doc_id
JOIN bdocseq sq ON base.doc_id = sq.doc_id
JOIN chagg ch ON base.doc_id = ch.doc_id
"""


ORACLE_TEXT_TOKENS = _oracle_text_tokens()


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate + language ID + repetition signals in one per-doc row:

    - Gopher-style rule flags + keep conjunction (token bounds,
      mean-word-length band, punctuation cap, stopword floor) — the filter
      stage in front of dedup (``quality_flags``);
    - stopword-overlap language ID (argmax score, alphabetical tie-break)
      with the per-language scores (``lang_id``);
    - Gopher repetition fractions (``repetition_stats``): duplicate-word
      and top-bigram shares, the boilerplate/template detectors;
    - trainable character-n-gram language ID (``lang_id_ngram``, since r8):
      Cavnar–Trenkle rank profiles trained on THIS table's labeled text,
      then the out-of-place distance argmin per doc
      (``ngram_pred_lang``/``ngram_dist_c``) — the oracle retrains the same
      profiles in SQL (char-3-gram counts → per-language rank window) and
      recomputes every doc's distance, so training AND classification are
      hash-gated end-to-end;
    - bigram-LM fluency score (``ngram_lm_score``, since r9): the
      CCNet/KenLM-shaped perplexity gate — an add-1-smoothed word-bigram
      model TRAINED on this corpus in the query, each doc scored by its
      mean integer-frozen bigram cost (``lm_n_bigrams``/``lm_nll_c``); the
      oracle retrains the same counts and recomputes every cost in SQL, so
      LM training and scoring are both inside the hash gate."""
    tune(spark)
    docs = _load(spark, sf_dir, "documents")
    profiles = tx.train_lang_profiles(docs)
    ng = tx.lang_id_ngram(docs, profiles).select(
        "doc_id",
        F.col("pred_lang").alias("ngram_pred_lang"),
        F.col("dist_c").alias("ngram_dist_c"),
    )
    return (
        tx.quality_flags(docs)
        .join(tx.lang_id(docs), "doc_id")
        .join(tx.repetition_stats(docs), "doc_id")
        .join(ng, "doc_id")
        .join(tx.ngram_lm_score(docs), "doc_id")
    )


def _oracle_text_quality() -> str:
    scores = ", ".join(
        f"CAST(len(list_filter(ws, x -> x IN ({_sw_list_sql(ws_list)}))) AS BIGINT) AS c_{lang}"
        for lang, ws_list in sorted(STOPWORDS.items())
    )
    langs = sorted(STOPWORDS)
    allc = ", ".join("c_" + la for la in langs)
    armax = f"CASE WHEN greatest({allc}) <= 0 THEN NULL " + " ".join(
        f"WHEN c_{la} >= greatest({', '.join('c_' + lb for lb in langs if lb != la)}) THEN '{la}'"
        for la in langs
    ) + " END"
    # Cavnar–Trenkle n-gram language ID, retrained in SQL: char 3-grams of
    # lower(text) (whole text as one gram when shorter than 3 chars — the
    # Spark-side _char_ngrams contract), per-language top-100 rank profiles
    # (count desc, gram asc), per-doc top-100 gram ranks, out-of-place
    # distance with miss penalty 100, argmin (distance asc, lang asc).
    ngram_ctes = """cg AS (SELECT doc_id, lang, lower(text) AS t FROM documents WHERE text IS NOT NULL),
cgrams AS (
  SELECT doc_id, lang,
         unnest(CASE WHEN length(t) < 3 THEN [t]
                ELSE list_transform(range(1, length(t) - 1), i -> substr(t, i, 3)) END) AS g
  FROM cg
),
prof_counts AS (SELECT lang AS p_lang, g, count(*) AS n FROM cgrams GROUP BY 1, 2),
prof AS (
  SELECT p_lang, g,
         CAST(row_number() OVER (PARTITION BY p_lang ORDER BY n DESC, g ASC) AS BIGINT) AS prank
  FROM prof_counts QUALIFY prank <= 100
),
doc_counts AS (SELECT doc_id, g, count(*) AS n FROM cgrams GROUP BY 1, 2),
doc_top AS (
  SELECT doc_id, g,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS BIGINT) AS drank
  FROM doc_counts QUALIFY drank <= 100
),
nglangs AS (SELECT DISTINCT lang AS p_lang FROM documents WHERE text IS NOT NULL),
ngdist AS (
  SELECT d.doc_id, l.p_lang,
         CAST(sum(coalesce(abs(d.drank - p.prank), 100)) AS BIGINT) AS dist
  FROM doc_top d CROSS JOIN nglangs l
  LEFT JOIN prof p ON p.p_lang = l.p_lang AND p.g = d.g
  GROUP BY 1, 2
),
ngbest AS (
  SELECT doc_id, p_lang AS ngram_pred_lang, dist AS ngram_dist_c
  FROM ngdist QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist ASC, p_lang ASC) = 1
)"""
    return f"""
WITH stats AS ({ORACLE_TEXT_STATS}),
{ngram_ctes},
flags AS (
  SELECT doc_id, n_tokens,
       CAST(CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS ok_len,
       CAST(CASE WHEN mean_word_len_c >= 20000 AND mean_word_len_c <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS ok_word_len,
       CAST(CASE WHEN CAST(ROUND(10000.0 * n_punct / greatest(n_chars, 1)) AS BIGINT) <= 1000 THEN 1 ELSE 0 END AS BIGINT) AS ok_punct,
       CAST(CASE WHEN CAST(ROUND(10000.0 * n_stopwords / greatest(n_tokens, 1)) AS BIGINT) >= 200 THEN 1 ELSE 0 END AS BIGINT) AS ok_stopwords,
       CAST((CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END)
          * (CASE WHEN mean_word_len_c >= 20000 AND mean_word_len_c <= 100000 THEN 1 ELSE 0 END)
          * (CASE WHEN CAST(ROUND(10000.0 * n_punct / greatest(n_chars, 1)) AS BIGINT) <= 1000 THEN 1 ELSE 0 END)
          * (CASE WHEN CAST(ROUND(10000.0 * n_stopwords / greatest(n_tokens, 1)) AS BIGINT) >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS keep
  FROM stats
),
langbase AS (SELECT doc_id, lang, {sqlgen.split_words('text', DUCK)} AS ws FROM documents),
scored AS (SELECT doc_id, lang, {scores} FROM langbase),
langid AS (
  SELECT doc_id, lang AS labeled_lang, {armax} AS pred_lang,
         {", ".join("c_" + la for la in langs)}
  FROM scored
),
wrd AS (
  SELECT doc_id, unnest({sqlgen.split_words('text', DUCK)}) AS w FROM documents
),
word_stats AS (
  SELECT doc_id, count(*) AS n_words, count(DISTINCT w) AS n_distinct
  FROM wrd GROUP BY doc_id
),
big AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) < 2 THEN []
         ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS bigram
  FROM (SELECT doc_id, {sqlgen.split_words('text', DUCK)} AS ws FROM documents)
),
big_tf AS (SELECT doc_id, bigram, count(*) AS n FROM big GROUP BY doc_id, bigram),
big_top AS (SELECT doc_id, max(n) AS max_bi, sum(n) AS n_bi FROM big_tf GROUP BY doc_id),
rep AS (
  SELECT w.doc_id,
         CAST(ROUND(10000.0 * (w.n_words - w.n_distinct) / w.n_words) AS BIGINT) AS dup_word_frac_c,
         CAST(coalesce(ROUND(10000.0 * b.max_bi / b.n_bi), 0) AS BIGINT) AS top_bigram_frac_c
  FROM word_stats w LEFT JOIN big_top b ON w.doc_id = b.doc_id
),
-- bigram-LM fluency (r9): add-1-smoothed bigram model trained on this
-- corpus, mean per-bigram det_ln-frozen cost (sqlgen.frozen_ln_c,
-- engine-exact) FLOORed — exactly text.ngram_lm_score's integer math
lm2 AS (SELECT bigram, count(*) AS c2 FROM big GROUP BY 1),
lm1 AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
        FROM lm2 GROUP BY 1),
lmv AS (SELECT count(DISTINCT w) AS v FROM wrd),
lmdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS lm_n_bigrams,
         CAST(FLOOR(CAST(sum({sqlgen.frozen_ln_c('lm_r')}) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) AS BIGINT) AS lm_nll_c
  FROM (
    -- CAST-to-DOUBLE before the division, mirroring text.ngram_lm_score:
    -- an intermediate DECIMAL quotient double-rounds in Spark (r13 drift)
    SELECT b.doc_id,
           CAST(l1.c1 + v.v AS DOUBLE) / CAST(l2.c2 + 1 AS DOUBLE) AS lm_r
    FROM big b
    JOIN lm2 l2 USING (bigram)
    JOIN lm1 l1 ON l1.w1 = split_part(b.bigram, ' ', 1)
    CROSS JOIN lmv v
  )
  GROUP BY doc_id
)
SELECT f.*, l.labeled_lang, l.pred_lang, {", ".join("l.c_" + la for la in langs)},
       r.dup_word_frac_c, r.top_bigram_frac_c,
       ng.ngram_pred_lang, ng.ngram_dist_c,
       CAST(coalesce(lm.lm_n_bigrams, 0) AS BIGINT) AS lm_n_bigrams, lm.lm_nll_c
FROM flags f JOIN langid l ON f.doc_id = l.doc_id JOIN rep r ON f.doc_id = r.doc_id
JOIN ngbest ng ON f.doc_id = ng.doc_id
LEFT JOIN lmdoc lm ON f.doc_id = lm.doc_id
"""


def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document n-gram machinery in one per-doc row:

    - ``fingerprint``: order-independent XOR of hashes of distinct word
      3-shingles (whole text when shorter than 3 tokens);
    - ``winnow_fingerprints``: MOSS-style winnowing (char 5-grams, window
      4 rolling minima) reduced to fingerprint count + XOR — a match of
      length ≥ w+k−1 guarantees a shared winnow fingerprint;
    - ``contamination`` (since r6): test-set decontamination counts against
      a deterministic probe corpus (docs with ``doc_id % 20 == 0`` standing
      in for the benchmark set) — distinct 3-gram count, hit count, hit
      fraction ×10000.  The probe gram set is broadcast; the oracle reuses
      the same shingle CTE, so the overlap join is hash-gated;
    - ``decontaminate_substring`` (since r10): EXACT-substring
      decontamination (the GPT-3/LLaMA criterion) — winnow both sides at
      span 24 (w = 20), fingerprint equi-join, verbatim `contains` verify.
      Probes are 45-char spans cut from ``doc_id % 17 == 0`` docs, so
      planted hits exist at every sf.  The winnow prune has no false
      negatives and the verify is exact, so the oracle gates the END
      RESULT with a from-scratch doc×probe substring check — the entire
      composition must equal brute force;
    - ``self_dedup_substring`` (since r12): corpus-INTERNAL exact-substring
      self-dedup (Lee et al. 2021 ExactSubstr) — winnow self-join at span
      24, verbatim verify, globally-first keep rule; per-doc partner count,
      distinct start count, covered-char (trim) size, and keep verdict.
      The oracle recomputes ALL of it brute force over every ordered doc
      pair (the fixture corpus shares hundreds of natural 24-char spans);
    - ``self_dedup_trim`` (r17): the span-SURGICAL removal mode — the
      duplicated intervals are CUT out of the later doc's text (Lee et
      al.'s actual excision) by a sorted-starts fold; gated as
      ``sd_trim_len`` + ``sd_trim_md5`` (md5 of the full trimmed text),
      and the oracle rebuilds every trimmed doc per character (a position
      survives iff no duplicate start covers it), so the string surgery
      is byte-exact against ground truth, same rekey split + shared
      winnow frame as the drop mode;
    - ``bloom`` prefilter (since r12): the docs' span-24 winnow
      fingerprints probed against a 5040-bit / 4-probe Bloom filter of the
      SAME probe corpus's fingerprints (``operators/bloom.py``) —
      ``bl_hits`` counts each doc's might-contain fingerprints.  The
      filter is integer-deterministic, so the oracle replays the bitmap
      bit-for-bit INCLUDING which false positives occur — the fixed-size
      broadcast membership gate is hash-gated, not just property-tested;
    - ``decontaminate_fuzzy`` (since r13): paraphrase-level decontamination
      — the probe corpus is a PLANTED PARAPHRASE set (docs with
      ``doc_id % 13 == 0``, first two words dropped — high-but-not-exact
      shingle Jaccard), screened by the cross-corpus MinHash band join and
      verified with exact Jaccard at threshold 8000.  The oracle replays
      the frozen permutations, the band collisions AND the verify, so
      candidate generation and the fuzzy verdict both hash-gate
      (``fz_cands``/``fz_hits``/``fz_maxj``/``fz_flag``)."""
    tune(spark)
    docs = _load(spark, sf_dir, "documents")
    # r16: the self-dedup part runs the hot-fingerprint REKEY split
    # (max_fp_df=50, the default exact mode) so the new path is DRIVER-
    # hash-gated every round — its output is provably byte-identical to
    # the uncapped call this row ran through r15 (full-row equality
    # verified on this exact corpus at sf0.01/sf0.001; operator docstring
    # for the completeness proof), while the decontam part below stays
    # uncapped so the pure winnow path remains gated too.
    # ONE span-24 winnow pass feeds all three w=20 consumers through the
    # doc_fps seam (self-dedup, exact decontam, the bloom probe) and the
    # rekey mode's two extra readers (hot-df agg, affected-id semi); Spark
    # does not dedupe unpersisted subplans.  A local checkpoint, not a
    # persist: its blocks belong to the returned frame and go with it.
    d_fp20_all = tx.winnow_fingerprints(
        docs, "doc_id", "text", k=5, w=20
    ).localCheckpoint()
    # r18: the operators' algo default flipped to xxhash64 (throughput);
    # this GATE row pins md5i64 explicitly — the oracle replays the md5
    # winnow bit-for-bit, and the shared d_fp20_all frame is md5-stamped
    sd = tx.self_dedup_substring(
        docs, min_span=24, max_fp_df=50, algo="md5i64", doc_fps=d_fp20_all
    ).select(
        "doc_id",
        F.col("n_dup_partners").alias("sd_partners"),
        F.col("n_dup_starts").alias("sd_starts"),
        F.col("n_dup_chars").alias("sd_chars"),
        F.col("kept").cast("long").alias("sd_kept"),
    )
    # r17: the span-SURGICAL removal mode (self_dedup_trim — cut the
    # duplicated spans instead of dropping the doc), same rekey split and
    # shared winnow frame; the md5 of every trimmed text is in the hash
    # gate, so the interval fold's string surgery is checked byte-exactly
    # against the oracle's per-char anti-join rebuild
    sdt = tx.self_dedup_trim(
        docs, min_span=24, max_fp_df=50, algo="md5i64", doc_fps=d_fp20_all
    ).select(
        "doc_id",
        F.length("text_trimmed").cast("long").alias("sd_trim_len"),
        F.md5(F.col("text_trimmed").cast("binary")).alias("sd_trim_md5"),
    )
    fp = tx.fingerprint(docs)
    wn = (
        tx.winnow_fingerprints(docs, "doc_id", "text", k=5, w=4)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.bit_xor("fp").cast("long").alias("fp_xor"),
        )
    )
    conta = tx.contamination(
        docs, docs.filter(F.col("doc_id") % 20 == 0), probe_id_col="doc_id", n=3
    )
    wprobes = docs.filter(F.col("doc_id") % 17 == 0).selectExpr(
        "doc_id AS probe_id", "substr(text, 6, 45) AS text"
    )
    wd = tx.decontaminate_substring(
        docs, wprobes, min_span=24, algo="md5i64", doc_fps=d_fp20_all
    ).select(
        "doc_id",
        F.col("n_contam_probes").alias("wd_contam_probes"),
        F.col("contaminated").cast("long").alias("wd_contaminated"),
    )
    from tikv_data_compare_spark.operators import bloom as bloom_ops

    pnn = wprobes.where(F.col("text").isNotNull())
    p_fp20 = tx.winnow_fingerprints(pnn, "probe_id", "text", k=5, w=20).where(
        F.col("fp").isNotNull()
    )
    bitmap = bloom_ops.bloom_build(p_fp20, "fp", m_bits=_BL_M, k_hashes=_BL_K)
    # winnow emits array_distinct fps per doc — (doc_id, fp) rows are
    # already distinct, no dedup shuffle needed.  winnow(docs).where(fp
    # NOT NULL) ≡ the old winnow(docs WHERE text NOT NULL).where(...):
    # NULL-text docs contribute exactly one (id, NULL) row either way
    d_fp20 = d_fp20_all.where(F.col("fp").isNotNull())
    blm = (
        bloom_ops.bloom_probe(
            d_fp20, bitmap, "fp", _BL_M, _BL_K, id_cols=["doc_id", "fp"]
        )
        .groupBy("doc_id")
        .agg(F.sum("might_contain").cast("long").alias("bl_hits"))
    )
    # r13 fuzzy screen: planted paraphrases (doc_id % 13, first two words
    # dropped — the CASE must match the oracle's DuckDB slice expression
    # byte-for-byte in OUTPUT, so both sides shingle identical probe text)
    fprobes = docs.selectExpr(
        "doc_id AS fz_probe_id",
        "CASE WHEN size(split(text, ' ')) > 2 THEN "
        "concat_ws(' ', slice(split(text, ' '), 3, size(split(text, ' ')) - 2)) "
        "ELSE text END AS text",
    ).where(F.col("fz_probe_id") % 13 == 0)
    fz = tx.decontaminate_fuzzy(
        docs, fprobes, probe_id_col="fz_probe_id", threshold_bp=8000
    ).select(
        "doc_id",
        F.col("n_candidate_probes").alias("fz_cands"),
        F.col("n_fuzzy_probes").alias("fz_hits"),
        F.col("max_jaccard_c").alias("fz_maxj"),
        F.col("contaminated").cast("long").alias("fz_flag"),
    )
    return (
        fp.join(wn, "doc_id")
        .join(conta, "doc_id")
        .join(wd, "doc_id")
        .join(sd, "doc_id")
        .join(sdt, "doc_id")
        .join(blm, "doc_id", "left")
        .withColumn("bl_hits", F.coalesce("bl_hits", F.lit(0).cast("long")))
        .join(fz, "doc_id")
    )


def _winnow_sel_sql(src: str, idc: str, w: int) -> str:
    """DuckDB replay of ``winnow_fingerprints(k=5, w=w)`` over ``src``
    (which must provide ``{idc}`` and ``_t``): distinct (id, fp) rows,
    same full-window/truncated-window selection as the Spark array-HOF
    implementation.  ONE generator for every winnow oracle (the w=4
    ``wn`` aggregate and the w=20 decontamination/bloom fingerprints), so
    the selection algebra cannot drift per call site (r12 review)."""
    return f"""
  SELECT DISTINCT {idc}, wmin AS fp FROM (
    SELECT {idc}, pos, _len,
           min(h) OVER (PARTITION BY {idc} ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin
    FROM (
      SELECT {idc}, _len, pos, ({sqlgen.hexfold_i64('_m')}) & 1073741823 AS h
      FROM (
        SELECT {idc}, _len, pos, md5(substr(_t, pos + 1, 5)) AS _m
        FROM (
          SELECT {idc}, _t, length(_t) AS _len,
                 unnest(generate_series(0, greatest(length(_t) - 5, 0))) AS pos
          FROM ({src})
        )
      )
    )
  ) WHERE (pos <= greatest(_len - 4, 1) - {w} OR pos = 0) AND wmin IS NOT NULL
"""


_ORACLE_WINNOW_CTE = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, CAST(bit_xor(fp) AS BIGINT) AS fp_xor
FROM ({_winnow_sel_sql("SELECT doc_id, text AS _t FROM documents", "doc_id", 4)})
GROUP BY doc_id
"""

# bloom-fold geometry (q_text_fingerprints + ORACLE_TEXT_FINGERPRINTS):
# small enough that the sf0.01 gate exercises REAL false positives, so the
# hash gate pins the full bitmap arithmetic, not just the happy path
_BL_M = 63 * 80
_BL_K = 4



def _bloom_probe_sql(fps_cte: str, filter_cte: str, idc: str) -> str:
    """DuckDB replay of ``bloom.bloom_probe`` grouped per {idc}: for each
    (id, fp) explode k probe coins, md5+hexfold mod m, 63-bit word/bit
    split, AND across probes against the bitmap — identical integer
    arithmetic to the Spark side, false positives included."""
    return f"""
  SELECT {idc}, CAST(sum(might) AS BIGINT) AS bl_hits FROM (
    SELECT {idc}, fp, min((((coalesce(w.bits, 0) >> CAST((p.pos % 63) AS INT)) & 1))) AS might
    FROM (
      SELECT {idc}, fp, (((f % {_BL_M}) + {_BL_M}) % {_BL_M}) AS pos
      FROM (
        SELECT {idc}, fp, ({sqlgen.hexfold_i64('_m')}) AS f
        FROM (
          SELECT {idc}, fp,
                 md5(CAST(fp AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS _m
          FROM {fps_cte} CROSS JOIN (SELECT unnest(range(0, {_BL_K})) AS j) jt
        )
      )
    ) p
    LEFT JOIN {filter_cte} w ON w.word = (p.pos // 63)
    GROUP BY {idc}, fp
  ) GROUP BY {idc}
"""


ORACLE_TEXT_FINGERPRINTS = f"""
WITH base AS (SELECT doc_id, text, {sqlgen.split_words('text', DUCK)} AS ws FROM documents),
shingles AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
        THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        ELSE [text] END) AS sh
    FROM base
  )
),
fp AS (
  SELECT doc_id, CAST(bit_xor({sqlgen.hexfold_i64('_m')}) AS BIGINT) AS fingerprint
  FROM (SELECT doc_id, md5(sh) AS _m FROM shingles)
  GROUP BY doc_id
),
wn AS ({_ORACLE_WINNOW_CTE}),
probe_grams AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 20 = 0),
conta AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(p.sh) AS BIGINT) AS n_hit_grams,
         CAST(ROUND(10000.0 * count(p.sh) / count(*)) AS BIGINT) AS hit_frac_c
  FROM shingles s LEFT JOIN probe_grams p ON p.sh = s.sh
  GROUP BY s.doc_id
),
wprobes AS (SELECT doc_id AS probe_id, substr(text, 6, 45) AS ptext
            FROM documents WHERE doc_id % 17 = 0),
wdec AS (
  -- brute-force ground truth for the winnow+verify composition: does any
  -- 24-char gram of any probe occur verbatim in the doc
  SELECT doc_id,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS wd_contam_probes,
         CAST(max(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS wd_contaminated
  FROM (
    SELECT d.doc_id AS doc_id,
           coalesce(len(list_filter(generate_series(1, length(p.ptext) - 23),
                    i -> contains(d.text, substr(p.ptext, i, 24)))) > 0, false) AS hit
    FROM documents d CROSS JOIN wprobes p
  )
  GROUP BY doc_id
),
sd_pairs AS (
  -- brute-force ground truth for the corpus-internal self-dedup: every
  -- ordered pair (earlier, later), no winnow prune at all
  SELECT a.doc_id AS ida, b.doc_id AS idb, a.text AS at2, b.text AS bt
  FROM documents a JOIN documents b ON a.doc_id < b.doc_id
  WHERE length(a.text) >= 24 AND length(b.text) >= 24
),
sd_hit AS (
  SELECT idb, ida, ss FROM (
    SELECT idb, ida,
           list_filter(generate_series(1, length(bt) - 23),
                       i -> contains(at2, substr(bt, i, 24))) AS ss
    FROM sd_pairs
  ) WHERE len(ss) > 0
),
sd_partners AS (
  SELECT idb, CAST(count(DISTINCT ida) AS BIGINT) AS sd_partners
  FROM sd_hit GROUP BY idb
),
sd_sunion AS (SELECT DISTINCT idb, unnest(ss) AS i FROM sd_hit),
sd_cov AS (
  SELECT idb, CAST(count(*) AS BIGINT) AS sd_starts,
         CAST(sum(CASE WHEN prev IS NULL THEN 24 ELSE least(24, i - prev) END) AS BIGINT) AS sd_chars
  FROM (SELECT idb, i, lag(i) OVER (PARTITION BY idb ORDER BY i) AS prev FROM sd_sunion)
  GROUP BY idb
),
sd AS (
  SELECT d.doc_id,
         coalesce(p.sd_partners, 0) AS sd_partners,
         coalesce(v.sd_starts, 0) AS sd_starts,
         coalesce(v.sd_chars, 0) AS sd_chars,
         CAST(CASE WHEN p.idb IS NULL THEN 1 ELSE 0 END AS BIGINT) AS sd_kept
  FROM documents d
  LEFT JOIN sd_partners p ON d.doc_id = p.idb
  LEFT JOIN sd_cov v ON d.doc_id = v.idb
),
-- r17 span-surgical trim replay: rebuild each hit doc's trimmed text
-- per character (a position survives iff NO duplicate start covers it),
-- byte-exact ground truth for self_dedup_trim's interval fold
sd_trim_chars AS (
  SELECT idb, pos, substr(t, pos, 1) AS ch FROM (
    SELECT h.idb, d.text AS t,
           unnest(generate_series(1, length(d.text))) AS pos
    FROM (SELECT DISTINCT idb FROM sd_hit) h
    JOIN documents d ON d.doc_id = h.idb
  )
),
sd_trimmed AS (
  SELECT c.idb, string_agg(c.ch, '' ORDER BY c.pos) AS trimmed
  FROM sd_trim_chars c
  ANTI JOIN sd_sunion u ON u.idb = c.idb AND c.pos >= u.i AND c.pos < u.i + 24
  GROUP BY c.idb
),
sd_trim AS (
  SELECT d.doc_id,
         CASE WHEN h.idb IS NULL THEN d.text
              ELSE coalesce(tr.trimmed, '') END AS trimmed
  FROM documents d
  LEFT JOIN (SELECT DISTINCT idb FROM sd_hit) h ON h.idb = d.doc_id
  LEFT JOIN sd_trimmed tr ON tr.idb = d.doc_id
),
-- r12 bloom prefilter: span-24 winnow fingerprints of docs probed against
-- a {_BL_M}-bit / {_BL_K}-probe filter of the probe corpus's fingerprints
-- — operators/bloom.py replayed bit-for-bit, false positives included
bl_pfps AS MATERIALIZED ({_winnow_sel_sql(
    "SELECT doc_id AS probe_id, substr(text, 6, 45) AS _t "
    "FROM documents WHERE doc_id % 17 = 0 AND text IS NOT NULL",
    "probe_id", 20,
)}),
bl_words AS MATERIALIZED (
  SELECT (pos // 63) AS word,
         bit_or((CAST(1 AS BIGINT) << CAST((pos % 63) AS INT))) AS bits
  FROM (
    SELECT (((f % {_BL_M}) + {_BL_M}) % {_BL_M}) AS pos FROM (
      SELECT ({sqlgen.hexfold_i64('_m')}) AS f FROM (
        SELECT md5(CAST(fp AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS _m
        FROM (SELECT DISTINCT fp FROM bl_pfps)
        CROSS JOIN (SELECT unnest(range(0, {_BL_K})) AS j) jt
      )
    )
  ) GROUP BY 1
),
bl_dfps AS MATERIALIZED ({_winnow_sel_sql(
    "SELECT doc_id, text AS _t FROM documents WHERE text IS NOT NULL",
    "doc_id", 20,
)}),
bl AS ({_bloom_probe_sql("bl_dfps", "bl_words", "doc_id")}),
-- r13 fuzzy decontamination: planted paraphrase probes (doc_id % 13 = 0,
-- first two words dropped), frozen-perm MinHash band join doc×probe,
-- exact shingle-Jaccard verify at 8000 — text.decontaminate_fuzzy
fzprobes AS (
  SELECT doc_id AS probe_id,
         CASE WHEN len(ws) > 2 THEN array_to_string(ws[3:], ' ')
              ELSE text END AS text
  FROM (SELECT doc_id, text, {sqlgen.split_words('text', DUCK)} AS ws
        FROM documents)
  WHERE doc_id % 13 = 0
),
fz_psh AS MATERIALIZED ({_duck_shingles_for("SELECT probe_id, text FROM fzprobes", "probe_id")}),
fz_dsig AS MATERIALIZED ({_duck_minhash_sig_for("SELECT doc_id, sh AS w FROM shingles", "doc_id")}),
fz_psig AS MATERIALIZED ({_duck_minhash_sig_for("SELECT probe_id, w FROM fz_psh", "probe_id")}),
fz_cand AS (
  SELECT d.doc_id, p.probe_id
  FROM fz_dsig d JOIN fz_psig p ON (
       (d.m0 = p.m0 AND d.m1 = p.m1) OR (d.m2 = p.m2 AND d.m3 = p.m3)
    OR (d.m4 = p.m4 AND d.m5 = p.m5) OR (d.m6 = p.m6 AND d.m7 = p.m7))
),
fz_inter AS (
  SELECT c.doc_id, c.probe_id, count(*) AS ninter
  FROM fz_cand c
  JOIN shingles wa ON wa.doc_id = c.doc_id
  JOIN fz_psh wb ON wb.probe_id = c.probe_id AND wa.sh = wb.w
  GROUP BY 1, 2
),
fz_sz_d AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
fz_sz_p AS (SELECT probe_id, count(*) AS n FROM fz_psh GROUP BY 1),
fz_j AS (
  SELECT c.doc_id, c.probe_id,
         CAST(ROUND(10000.0 * coalesce(i.ninter, 0)
              / (sa.n + sb.n - coalesce(i.ninter, 0))) AS BIGINT) AS j
  FROM fz_cand c
  JOIN fz_sz_d sa ON sa.doc_id = c.doc_id
  JOIN fz_sz_p sb ON sb.probe_id = c.probe_id
  LEFT JOIN fz_inter i ON i.doc_id = c.doc_id AND i.probe_id = c.probe_id
),
fz AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS fz_cands,
         CAST(sum(CASE WHEN j >= 8000 THEN 1 ELSE 0 END) AS BIGINT) AS fz_hits,
         CAST(max(j) AS BIGINT) AS fz_maxj,
         CAST(max(CASE WHEN j >= 8000 THEN 1 ELSE 0 END) AS BIGINT) AS fz_flag
  FROM fz_j GROUP BY 1
)
SELECT fp.doc_id, fp.fingerprint, wn.n_fp, wn.fp_xor,
       c.n_grams, c.n_hit_grams, c.hit_frac_c,
       w2.wd_contam_probes, w2.wd_contaminated,
       sd.sd_partners, sd.sd_starts, sd.sd_chars, sd.sd_kept,
       CAST(length(st.trimmed) AS BIGINT) AS sd_trim_len,
       md5(st.trimmed) AS sd_trim_md5,
       coalesce(b2.bl_hits, 0) AS bl_hits,
       coalesce(z.fz_cands, 0) AS fz_cands,
       coalesce(z.fz_hits, 0) AS fz_hits,
       coalesce(z.fz_maxj, 0) AS fz_maxj,
       coalesce(z.fz_flag, 0) AS fz_flag
FROM fp JOIN wn ON fp.doc_id = wn.doc_id JOIN conta c ON fp.doc_id = c.doc_id
JOIN wdec w2 ON fp.doc_id = w2.doc_id
JOIN sd ON fp.doc_id = sd.doc_id
JOIN sd_trim st ON fp.doc_id = st.doc_id
LEFT JOIN bl b2 ON fp.doc_id = b2.doc_id
LEFT JOIN fz z ON fp.doc_id = z.doc_id
"""


# ============================================================== multimodal


# Binary-synthesis helpers (Spark SQL): big/little-endian ints for building
# real media headers JVM-side, so the Python parsers are tested against
# payloads they did not construct.


def _u32be(e: str) -> str:
    return f"unhex(lpad(hex(CAST({e} AS BIGINT)), 8, '0'))"


def _le(b: str, n: int) -> str:
    """Reverse the n bytes of binary expr b (big→little endian)."""
    parts = ", ".join(f"substring({b}, {i}, 1)" for i in range(n, 0, -1))
    return f"concat({parts})"


def _u32le(e: str) -> str:
    return _le(_u32be(e), 4)


def _u16le(e: str) -> str:
    return _le(f"unhex(lpad(hex(CAST({e} AS BIGINT)), 4, '0'))", 2)


IMG_W = "(doc_id % 640 + 16)"
IMG_H = "(doc_id % 480 + 16)"


WAV_CH = "(1 + doc_id % 2)"
WAV_SR = "(CASE WHEN doc_id % 3 = 0 THEN 8000 WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END)"
WAV_BITS = "(CASE WHEN doc_id % 5 < 2 THEN 8 ELSE 16 END)"
WAV_DSZ = "(octet_length(text) * 100 + 44)"

#: PCM decode+framing gate geometry: 64 closed-form 16-bit samples per doc,
#: frame 16 / hop 8 → 7 frames; the frame length is a POWER OF TWO so the
#: float64 frame mean is exact and the rounded RMS is engine-stable
PCM_N, PCM_SR, PCM_FRAME, PCM_HOP = 64, 8000, 16, 8
#: PNG resize gate geometry: 4×4 source pixels → 2×2 nearest-neighbor output
RSZ_SRC, RSZ_OUT = 4, 2


def _dhash_expected_sql() -> str:
    """Closed-form expected dHash (DuckDB SQL over ``doc_id``) of the
    synthesized 4×4 PNG: every stage of ``multimodal.image_dhash`` is
    integer math over the planted pixel formula
    ``p(d,x,y,k) = (d + 3x + 5y + 11k) % 251``, so the 64 grid
    comparisons expand to pure SQL — luma(d,x,y) =
    ``(299·p0 + 587·p1 + 114·p2) // 1000``, 8×8 grid sampled at the
    nearest-neighbor indices (fixed for a 4×4 source), bit i set iff the
    left sample exceeds its right neighbor, MSB-first fold with bit 63
    contributing −2⁶³ (two's complement into BIGINT)."""

    def luma(x: int, y: int) -> str:
        ps = [f"((doc_id + {3 * x + 5 * y + 11 * k}) % 251)" for k in range(3)]
        return f"((299 * {ps[0]} + 587 * {ps[1]} + 114 * {ps[2]}) // 1000)"

    yi = [min(int((i + 0.5) * RSZ_SRC / 8), RSZ_SRC - 1) for i in range(8)]
    xi = [min(int((j + 0.5) * RSZ_SRC / 9), RSZ_SRC - 1) for j in range(9)]
    terms = []
    for i in range(8):
        for j in range(8):
            bit = 63 - (i * 8 + j)
            weight = -(1 << 63) if bit == 63 else (1 << bit)
            terms.append(
                f"CASE WHEN {luma(xi[j], yi[i])} > {luma(xi[j + 1], yi[i])} "
                f"THEN CAST({weight} AS BIGINT) ELSE 0 END"
            )
    return "(" + " + ".join(terms) + ")"


def _resize_hex_sql() -> str:
    """Closed-form expected hex of the 2×2 nearest-neighbor resize of the
    synthesized 4×4 PNG: output pixel (x', y') samples source
    (min(⌊(x'+0.5)·4/2⌋, 3), same for y) — with 4→2 that is source indices
    {1, 3} on each axis; bytes are row-major (y, x, channel)."""
    terms = []
    for yp in range(RSZ_OUT):
        yi = min(int((yp + 0.5) * RSZ_SRC / RSZ_OUT), RSZ_SRC - 1)
        for xp in range(RSZ_OUT):
            xi = min(int((xp + 0.5) * RSZ_SRC / RSZ_OUT), RSZ_SRC - 1)
            for k in range(3):
                terms.append(
                    f"upper(lpad(to_hex((doc_id + 3*{xi} + 5*{yi} + 11*{k}) % 251), 2, '0'))"
                )
    return " || ".join(terms)


def q_multimodal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal plumbing surface in one per-doc row, joining all
    four operators on doc_id:

    - ``payload_meta``: opaque-binary metadata (byte length, content id,
      chunk count);
    - ``image_dims``: a third of the corpus gets a real PNG signature+IHDR
      (big-endian dims), a third a GIF89a logical screen (little-endian
      dims), a third raw text bytes (NULL dims) — payloads built JVM-side
      (concat/unhex/substring) and parsed back by the decode-free Python
      header parser in an Arrow batch, so an endianness or offset bug
      hash-mismatches;
    - ``audio_meta``: RIFF/WAVE headers synthesized with per-doc
      channels/sample-rate/bit-depth/payload-size (little-endian fields),
      one seventh left as raw text (NULL fields); duration derived
      JVM-side from the parsed fields;
    - ``frame_sample``: 64-byte chunk-offset sampling (sequence +
      posexplode — the Spark shape of video frame extraction) reduced to
      per-doc frame count + max offset;
    - ``image_dhash`` + ``dhash_pairs`` (r10): the perceptual hash of a
      second planted payload family (closed-form 4×4 RGB PNGs) and the
      banded hamming pair join over a doc_id % 23 subset — the oracle
      rederives the hash as 64 integer comparisons over doc_id and the
      pairs as a brute-force bit_count(xor) self-join (equal by the
      pigeonhole recall guarantee);
    - ``dh_idx_pairs`` (r12): the PERSISTENT dHash index path
      (operators/dhash_index.py) — the even multiples of 23 build an
      on-disk band index, the odd multiples query it, and the cross pairs
      must equal the oracle's brute-force cross restriction: the
      build → parquet → load → query roundtrip is inside the hash gate
      (the dedup-index side='index_cross' pattern).

    The oracle recomputes every field arithmetically from doc_id/text.

    Scale shape: ONE scan of the corpus synthesizes both payloads JVM-side
    and probes image + audio headers in a single Arrow pass
    (``media_probe`` with the text riding along for the JVM-side
    ``payload_meta`` expressions) — no per-modality scans or joins; only
    the frame-offset branch (different grain: one row per chunk) joins
    back, so the whole probe is 2 scans + 1 keyed join instead of the
    naive 4 scans + 3 joins."""
    tune(spark)
    from tikv_data_compare_spark.operators import multimodal as mm

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")

    png = (
        "concat(unhex('89504E470D0A1A0A'), unhex('0000000D'), CAST('IHDR' AS BINARY), "
        f"{_u32be(IMG_W)}, {_u32be(IMG_H)})"
    )
    gif = f"concat(CAST('GIF89a' AS BINARY), {_u16le(IMG_W)}, {_u16le(IMG_H)})"
    byte_rate = f"(({WAV_SR} * {WAV_CH} * {WAV_BITS}) DIV 8)"
    block_align = f"(({WAV_CH} * {WAV_BITS}) DIV 8)"
    wav = (
        f"concat(CAST('RIFF' AS BINARY), {_u32le(f'36 + {WAV_DSZ}')}, CAST('WAVE' AS BINARY), "
        f"CAST('fmt ' AS BINARY), {_u32le('16')}, {_u16le('1')}, {_u16le(WAV_CH)}, "
        f"{_u32le(WAV_SR)}, {_u32le(byte_rate)}, {_u16le(block_align)}, {_u16le(WAV_BITS)}, "
        f"CAST('data' AS BINARY), {_u32le(WAV_DSZ)})"
    )
    synth = docs.withColumn(
        "image_payload",
        F.expr(
            f"CASE WHEN doc_id % 3 = 0 THEN {png} WHEN doc_id % 3 = 1 THEN {gif} "
            "ELSE CAST(text AS BINARY) END"
        ),
    ).withColumn(
        "audio_payload",
        F.expr(f"CASE WHEN doc_id % 7 = 3 THEN CAST(text AS BINARY) ELSE {wav} END"),
    )
    probed = mm.media_probe(synth, passthrough_cols=["text"])
    with_meta = probed.withColumn("_m", F.md5("text")).select(
        "doc_id",
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.expr(sqlgen.hexfold_i64("_m")).cast("long").alias("content_id"),
        F.expr("CAST(ceil(octet_length(text) / 1024.0) AS BIGINT)").alias("n_chunks"),
        "format",
        "width",
        "height",
        "channels",
        "sample_rate",
        "bits",
        "data_size",
        F.expr(
            "CAST((data_size * 8000) DIV (sample_rate * channels * bits) AS BIGINT)"
        ).alias("duration_ms"),
    )

    frames = (
        mm.frame_sample(_load(spark, sf_dir, "documents"), every_n_bytes=64)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.max("byte_offset").cast("long").alias("max_offset"),
        )
    )

    # --- REAL PCM decode+framing gate (r8): WAV payloads with closed-form
    # 16-bit samples s_i = ((doc_id*31 + i*7) % 2001) - 1000 are synthesized
    # ENTIRELY JVM-side (a binary fold over the sample sequence), then
    # audio_frames runs the real RIFF walk + numpy windowing.  frame_len=16
    # (a power of two) keeps the frame mean exact in float64, so the rounded
    # RMS is bit-identical to the oracle's closed-form recomputation.
    be16 = "lpad(hex((((doc_id * 31 + i * 7) % 2001) - 1000 + 65536) % 65536), 4, '0')"
    sample_bytes = (
        f"aggregate(transform(sequence(0, {PCM_N - 1}), i -> "
        f"unhex(concat(substring({be16}, 3, 2), substring({be16}, 1, 2)))), "
        "CAST('' AS BINARY), (acc, x) -> concat(acc, x))"
    )
    pcm_rate = f"(({PCM_SR} * 1 * 16) DIV 8)"
    pcm_wav = (
        f"concat(CAST('RIFF' AS BINARY), {_u32le(f'36 + {PCM_N * 2}')}, CAST('WAVE' AS BINARY), "
        f"CAST('fmt ' AS BINARY), {_u32le('16')}, {_u16le('1')}, {_u16le('1')}, "
        f"{_u32le(PCM_SR)}, {_u32le(pcm_rate)}, {_u16le('2')}, {_u16le('16')}, "
        f"CAST('data' AS BINARY), {_u32le(PCM_N * 2)}, {sample_bytes})"
    )
    pcm = (
        mm.audio_frames(
            docs.select("doc_id", F.expr(pcm_wav).alias("payload")),
            frame_len=PCM_FRAME,
            hop=PCM_HOP,
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pcm_frames"),
            F.sum(F.round(F.col("rms") * 10000).cast("long")).cast("long").alias("pcm_rms_c_sum"),
            F.max("peak").cast("long").alias("pcm_peak_max"),
        )
    )

    # --- REAL PNG encode→decode→resize gate (r8): 4×4 RGB PNGs with
    # closed-form pixels p(doc,x,y,k) = (doc_id + 3x + 5y + 11k) % 251 are
    # zlib-encoded in an Arrow stage (lossless roundtrip — compressor
    # version never matters), then resize_images decodes and
    # nearest-neighbor-resamples to 2×2; the resized bytes are hex-compared
    # against the oracle's closed-form index math.
    def build_png(batches):
        import struct as _struct
        import zlib as _zlib

        import pandas as _pd

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (
                _struct.pack(">I", len(body))
                + tag
                + body
                + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                raw = b"".join(
                    b"\x00"
                    + bytes(
                        (d + 3 * x + 5 * y + 11 * k) % 251
                        for x in range(RSZ_SRC)
                        for k in range(3)
                    )
                    for y in range(RSZ_SRC)
                )
                ihdr = _struct.pack(">IIBBBBB", RSZ_SRC, RSZ_SRC, 8, 2, 0, 0, 0)
                png_bytes = (
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", _zlib.compress(raw))
                    + chunk(b"IEND", b"")
                )
                out.append((d, png_bytes))
            yield _pd.DataFrame(out, columns=["doc_id", "payload"])

    png_src = docs.select("doc_id").mapInPandas(build_png, "doc_id long, payload binary")
    resized = mm.resize_images(png_src, RSZ_OUT, RSZ_OUT).select(
        "doc_id", F.hex("rgb").alias("resized_hex")
    )
    # perceptual image hash (r10): the dHash of the same planted PNGs —
    # decode → integer luma → nearest-neighbor grid → 64 comparisons —
    # is a pure integer function of doc_id the oracle rederives in SQL
    dh = mm.image_dhash(png_src).select("doc_id", "dhash")
    # ...and the banded pair join over a doc_id % 23 == 0 subset: at
    # max_hamming 6 ≤ n_bands−1 the pigeonhole guarantee makes the banded
    # result EQUAL brute force, so the oracle replays it as a plain
    # self-join filter on bit_count(xor) of the rederived hashes; the
    # per-doc count keeps the output per-doc-row shaped
    dpairs = mm.dhash_pairs(
        dh.where(F.col("doc_id") % 23 == 0), max_hamming=6
    )
    dpair_counts = (
        dh.select("doc_id")
        .join(
            dpairs.selectExpr("doc_a AS doc_id")
            .unionAll(dpairs.selectExpr("doc_b AS doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("dh_pairs")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("dh_pairs", F.lit(0)).cast("long").alias("dh_pairs")
        )
    )
    # persistent dHash index path (r12): the even multiples of 23 build an
    # on-disk band index (operators/dhash_index.py), the odd multiples
    # query it — hashes are per-image pure functions and recall is complete
    # at max_hamming 6 ≤ n_bands−1 (pigeonhole), so the cross pairs must
    # equal the brute-force cross restriction the oracle computes; the
    # build → parquet → load → query roundtrip sits inside the hash gate
    # (the dedup-index side='index_cross' pattern)
    import os as _os

    from tikv_data_compare_spark.operators import dhash_index as dhi

    sub = dh.where(F.col("doc_id") % 23 == 0)
    idx_path = _os.path.join(fsutil.scratch_dir(prefix="dhash_idx_"), "idx")
    dhi.build_dhash_index(sub.where(F.col("doc_id") % 46 == 0), idx_path, n_bands=8)
    dcross = dhi.query_dhash_index(
        sub.where(F.col("doc_id") % 46 != 0), idx_path, max_hamming=6
    )
    didx_counts = (
        dh.select("doc_id")
        .join(
            dcross.selectExpr("new_id AS doc_id")
            .unionAll(dcross.selectExpr("indexed_id AS doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("dh_idx_pairs")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("dh_idx_pairs", F.lit(0)).cast("long").alias("dh_idx_pairs"),
        )
    )

    return (
        with_meta.join(frames, "doc_id").join(pcm, "doc_id")
        .join(resized, "doc_id").join(dh, "doc_id").join(dpair_counts, "doc_id")
        .join(didx_counts, "doc_id")
    )


ORACLE_MULTIMODAL_PROBE = f"""
WITH meta AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST({sqlgen.hexfold_i64('_m')} AS BIGINT) AS content_id,
         CAST(ceil(octet_length(encode(text)) / 1024.0) AS BIGINT) AS n_chunks
  FROM (SELECT doc_id, text, md5(text) AS _m FROM documents)
),
img AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'gif' END AS format,
         CAST(CASE WHEN doc_id % 3 <= 1 THEN {IMG_W} END AS BIGINT) AS width,
         CAST(CASE WHEN doc_id % 3 <= 1 THEN {IMG_H} END AS BIGINT) AS height
  FROM documents
),
aud AS (
  SELECT doc_id, CAST(channels AS BIGINT) AS channels, CAST(sample_rate AS BIGINT) AS sample_rate,
         CAST(bits AS BIGINT) AS bits, CAST(data_size AS BIGINT) AS data_size,
         CAST((data_size * 8000) // (sample_rate * channels * bits) AS BIGINT) AS duration_ms
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 3 THEN NULL ELSE {WAV_CH} END AS channels,
           CASE WHEN doc_id % 7 = 3 THEN NULL ELSE {WAV_SR} END AS sample_rate,
           CASE WHEN doc_id % 7 = 3 THEN NULL ELSE {WAV_BITS} END AS bits,
           CASE WHEN doc_id % 7 = 3 THEN NULL ELSE octet_length(encode(text)) * 100 + 44 END AS data_size
    FROM documents
  )
),
frames AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames, CAST(max(off) AS BIGINT) AS max_offset
  FROM (
    SELECT doc_id,
           unnest(generate_series(0, greatest(octet_length(encode(text)) - 1, 0), 64)) AS off
    FROM documents
  )
  GROUP BY doc_id
),
pcm AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS pcm_frames,
         CAST(sum(rms_c) AS BIGINT) AS pcm_rms_c_sum,
         CAST(max(mx) AS BIGINT) AS pcm_peak_max
  FROM (
    SELECT doc_id, f,
           CAST(round(10000 * sqrt(CAST(sum(s * s) AS DOUBLE) / {PCM_FRAME}.0)) AS BIGINT) AS rms_c,
           max(abs(s)) AS mx
    FROM (
      SELECT d.doc_id, fr.f,
             ((d.doc_id * 31 + (fr.f * {PCM_HOP} + j.j) * 7) % 2001) - 1000 AS s
      FROM documents d
      CROSS JOIN (SELECT unnest(range(0, {(PCM_N - PCM_FRAME) // PCM_HOP + 1})) AS f) fr
      CROSS JOIN (SELECT unnest(range(0, {PCM_FRAME})) AS j) j
    )
    GROUP BY doc_id, f
  )
  GROUP BY doc_id
),
rsz AS (
  SELECT doc_id, {_resize_hex_sql()} AS resized_hex FROM documents
),
dhx AS (
  SELECT doc_id, CAST({_dhash_expected_sql()} AS BIGINT) AS dhash FROM documents
),
dpe AS (
  -- banded pairs ≡ brute force at max_hamming 6 ≤ n_bands−1 (pigeonhole)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM dhx a JOIN dhx b
    ON a.doc_id < b.doc_id
   AND a.doc_id % 23 = 0 AND b.doc_id % 23 = 0
   AND bit_count(xor(a.dhash, b.dhash)) <= 6
),
dpc AS (
  SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS dh_pairs
  FROM documents d LEFT JOIN (
    SELECT doc_id, count(*) AS n FROM (
      SELECT doc_a AS doc_id FROM dpe UNION ALL SELECT doc_b FROM dpe
    ) GROUP BY doc_id
  ) p ON d.doc_id = p.doc_id
),
dpi AS (
  -- persistent-index cross pairs (r12): even-multiple-of-23 corpus vs
  -- odd-multiple batch; complete recall at the same pigeonhole radius, so
  -- the index roundtrip must reproduce this brute-force cross restriction
  SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS dh_idx_pairs
  FROM documents d LEFT JOIN (
    SELECT doc_id, count(*) AS n FROM (
      SELECT doc_a AS doc_id FROM dpe WHERE (doc_a % 46 = 0) <> (doc_b % 46 = 0)
      UNION ALL
      SELECT doc_b FROM dpe WHERE (doc_a % 46 = 0) <> (doc_b % 46 = 0)
    ) GROUP BY doc_id
  ) p ON d.doc_id = p.doc_id
)
SELECT meta.doc_id, meta.n_bytes, meta.content_id, meta.n_chunks,
       img.format, img.width, img.height,
       aud.channels, aud.sample_rate, aud.bits, aud.data_size, aud.duration_ms,
       frames.n_frames, frames.max_offset,
       pcm.pcm_frames, pcm.pcm_rms_c_sum, pcm.pcm_peak_max,
       rsz.resized_hex, dhx.dhash, dpc.dh_pairs, dpi.dh_idx_pairs
FROM meta
JOIN img ON meta.doc_id = img.doc_id
JOIN aud ON meta.doc_id = aud.doc_id
JOIN frames ON meta.doc_id = frames.doc_id
JOIN pcm ON meta.doc_id = pcm.doc_id
JOIN rsz ON meta.doc_id = rsz.doc_id
JOIN dhx ON meta.doc_id = dhx.doc_id
JOIN dpc ON meta.doc_id = dpc.doc_id
JOIN dpi ON meta.doc_id = dpi.doc_id
"""


# ============================================================== sampling


def _sampling_parts(spark: SparkSession, sf_dir: str) -> dict:
    """The nine method-labeled sampling parts, built once and composed by
    :func:`q_sampling` (all nine — the historical gate) and the two
    localization slices :func:`q_sampling_dsir` / :func:`q_sampling_prefix`
    (r13: CORRECTNESS_r12 recorded the combined row red with no way to tell
    WHICH method drifted; separate driver rows localize the next drift)."""
    tune(spark)
    from tikv_data_compare_spark.operators.sampling import (
        dsir_sample,
        dsir_weights,
        hash_sample,
        shard_assignments,
        split_assign,
        sqrt_mixture_sample,
        stratified_sample,
        token_budget_sample,
        token_mixture_sample,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    h = hash_sample(docs, "text", pct=10).select(
        F.lit("hash").alias("method"), "doc_id", "lang",
        F.col("sample_bucket").alias("metric"),
    )
    s = stratified_sample(docs, ["lang"], k=20, tiebreak_cols=["doc_id"]).select(
        F.lit("stratified").alias("method"), "doc_id", "lang",
        F.col("sample_rank").alias("metric"),
    )
    sh = shard_assignments(docs, n_shards=8, tiebreak_cols=["doc_id"]).select(
        F.lit("shard").alias("method"), "doc_id", "lang",
        (F.col("shard") * 100000 + F.col("shard_pos")).cast("long").alias("metric"),
    )
    mx = sqrt_mixture_sample(docs, group_col="lang", epochs_for_full=2).select(
        F.lit("mixture").alias("method"), "doc_id", "lang",
        (F.col("epoch") * 100000 + F.col("mix_bucket")).cast("long").alias("metric"),
    )
    tm = token_mixture_sample(
        docs, {"en": 4000, "de": 2000, "fr": 2000, "es": 2000}, group_col="lang"
    ).select(
        F.lit("token_mixture").alias("method"), "doc_id", "lang",
        (F.col("rate_bp") * 100000 + F.col("mix_bucket")).cast("long").alias("metric"),
    )
    target = docs.filter(F.col("lang") == "en")
    # ONE dsir_weights build shared by both DSIR parts: the feature
    # explode and the two bounded count collects run once; dsir_sample
    # reuses the weights through its weights= seam
    w = dsir_weights(docs, target, n_buckets=512)
    ds = w.join(docs.select("doc_id", "lang"), "doc_id").select(
        F.lit("dsir").alias("method"), "doc_id", "lang",
        F.col("dsir_logw_c").alias("metric"),
    )
    dk = dsir_sample(
        docs, None, tau_c=0, n_buckets=512, weights=w
    ).select(
        F.lit("dsir_kept").alias("method"), "doc_id", "lang",
        F.col("dsir_u_c").alias("metric"),
    )
    tb = token_budget_sample(docs, 15000).select(
        F.lit("token_budget").alias("method"), "doc_id", "lang",
        F.col("tokens_before").alias("metric"),
    )
    sa = split_assign(docs, {"train": 9000, "val": 500, "test": 500}).select(
        F.lit("split").alias("method"), "doc_id", "lang",
        (
            (
                F.when(F.col("split") == "train", 0)
                .when(F.col("split") == "val", 1)
                .otherwise(2)
            )
            * 100000
            + F.col("split_bucket")
        ).cast("long").alias("metric"),
    )
    return {
        "hash": h, "stratified": s, "shard": sh, "mixture": mx,
        "token_mixture": tm, "dsir": ds, "dsir_kept": dk,
        "token_budget": tb, "split": sa,
    }


def q_sampling_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two DSIR parts of :func:`q_sampling` alone (weights +
    resampling rule) — the r12-new machinery whose frozen-log freeze was
    the leading drift suspect; a dedicated driver row pins it."""
    p = _sampling_parts(spark, sf_dir)
    return p["dsir"].unionByName(p["dsir_kept"])


def q_sampling_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two order-dependent r12 parts of :func:`q_sampling` alone
    (token-budget prefix fill + split assignment) — gates the bucketed
    prefix-sum machinery separately from the hash/ratio families."""
    p = _sampling_parts(spark, sf_dir)
    return p["token_budget"].unionByName(p["split"])


def q_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both deterministic sampling operators in one method-labeled result:

    - ``hash``: 10% Bernoulli corpus sample keyed on content hash —
      replay-safe, map-only (no shuffle, no RNG state); metric = the
      content-hash bucket, so downstream stages can take disjoint slices;
    - ``stratified``: 20 docs per language in content-hash order with
      doc_id tiebreak — the per-stratum quota that keeps low-resource
      languages represented, output bounded by k per group regardless of
      group size (skew-safe by construction); metric = the in-stratum
      rank;
    - ``shard`` (since r8): deterministic training-shard assignment
      (``shard_assignments``: content-hash mod 8 shards, intra-shard
      position in content-hash order with doc_id tiebreak — reproducible
      shard membership AND order on any cluster); metric packs both as
      shard·100000 + position, so a drift in EITHER hash-mismatches;
    - ``mixture`` (since r9): τ=1/2 temperature mixture over the language
      groups (``sqrt_mixture_sample``): per-group keep-rates
      min(1, √(n_min/n_g)) derived IN-PLAN from the group sizes (sqrt and
      one double division are IEEE-exact, so the integer rates replay in
      SQL), content-hash per-10000 bucket selection, smallest (full-rate)
      groups replicated ×2 with an epoch index; metric packs
      epoch·100000 + bucket, so rates, selection AND epoch replication all
      hash-gate together;
    - ``token_mixture`` (since r10): TOKEN-denominated mixture
      (``token_mixture_sample``) at targets en 40% / de,fr,es 20% (zh
      unlisted → drops): per-group keep-rates derived in-plan from the
      observed token counts with pure integer math (u = max(1, t div w),
      rate = min(10000, 10000·u_min div u)), so the published
      share-of-tokens recipe is engine-exact; metric packs
      rate_bp·100000 + bucket — rates AND selection hash-gate;
    - ``dsir`` / ``dsir_kept`` (since r12): DSIR importance resampling
      (Xie et al. 2023) with lang='en' docs as the target corpus:
      ``dsir`` emits every doc's hashed-n-gram importance weight
      (``dsir_weights``, 512 buckets, ×1e6-frozen log units, NULL for
      zero-feature docs — the oracle recomputes the full
      unigram+bigram → bucket → add-1-smoothed cost pipeline), and
      ``dsir_kept`` the surviving rows of the deterministic exponential
      rejection rule ``u_c + logw_c ≥ τ`` at τ=0 (``dsir_sample``) with
      the content-hash coin ``u_c`` as metric — weights AND the
      resampling rule both hash-gate;
    - ``token_budget`` (since r12): the greedy token-budget fill
      (``token_budget_sample``, 15k-token budget in content-hash order):
      metric = the cumulative token count BEFORE each kept doc, so the
      bucketed-prefix machinery (no single-partition window) hash-gates
      against the oracle's one-window cumulative sum;
    - ``split`` (since r12): deterministic train/val/test assignment
      (``split_assign``, 90/5/5 in basis points, content-hash coin):
      metric packs split-index·100000 + bucket, where the index is derived
      from the OPERATOR's emitted split name — the bucket layout CASE
      itself hash-gates, not just the hash (the group-keyed leakage-guard
      variant gates in ``dedup_canonical`` on real component labels)."""
    p = _sampling_parts(spark, sf_dir)
    out = p["hash"]
    for key in (
        "stratified", "shard", "mixture", "token_mixture",
        "dsir", "dsir_kept", "token_budget", "split",
    ):
        out = out.unionByName(p[key])
    return out


# the DSIR CTE scaffolding and the per-method SELECTs are kept as separate
# fragments so the combined `sampling` row AND the r13 localization row
# (`sampling_dsir`) compose from ONE source of truth — a drift can never
# hide in a divergent copy
#
# hashed unigram+bigram feature explode (md5 fold mod 512) — the one
# fragment shared by the runtime oracle AND the generation-time count pass
# that freezes the literal cost table (sampling.dsir_weights / _dsir_feats)
_DSIR_FEATS_CTE = f"""dsir_feats AS MATERIALIZED (
  SELECT doc_id, lang,
         ((({sqlgen.hexfold_i64('_m')}) % 512) + 512) % 512 AS b
  FROM (
    SELECT doc_id, lang, md5(g) AS _m
    FROM (
      SELECT doc_id, lang,
             unnest(CASE WHEN len(ws) >= 2
                    THEN list_concat(ws, list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1]))
                    ELSE ws END) AS g
      FROM (SELECT doc_id, lang,
                   list_filter(string_split(coalesce(text, ''), ' '),
                               w -> w <> '') AS ws
            FROM documents)
    )
  )
)"""

#: (sf_dir → (wtab VALUES literal, u-coin list literal)) — computed once
#: per process; the u-coin half is data-independent but cached alongside
_DSIR_LIT_CACHE: dict[str, tuple[str, str]] = {}


def _dsir_literals(sf_dir: str | None = None) -> tuple[str, str]:
    """The two driver-frozen integer literal tables of the DSIR gate.

    Mirrors sampling.dsir_weights / dsir_sample exactly: the per-bucket
    counts are integers both engines provably agree on (md5 + hexfold),
    and the smoothed log costs are frozen ONCE in Python
    (``sqlgen.frozen_ln_c_py``) — the Spark operator collects its counts
    and builds the same literals, so the gated metric has NO cross-engine
    floating point left (the r12/r13 ``sampling`` red class).  The counts
    here come from a generation-time DuckDB pass over the same parquet
    the oracle runs on, through the same ``_DSIR_FEATS_CTE`` text.  The
    data location defaults to the driver's documented correctness scale
    (/root/testdata/sf0.01) and is overridden ONLY by the dedicated
    ``$SPARK_GRAFT_ORACLE_SF_DIR`` (set by tools/check_oracles.py to its
    own sf_dir) — deliberately NOT the bench-oriented
    ``$SPARK_GRAFT_SF_DIR``, whose sf0.1 default would silently feed the
    literals the wrong corpus if the driver exports it process-wide.

    Returns ``(wtab_values, ucoin_list)``: a 512-row ``(b, w_c)`` VALUES
    body and a 10000-element DuckDB list literal of u-coin costs.
    """
    import os

    import duckdb

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    if sf_dir in _DSIR_LIT_CACHE:
        return _DSIR_LIT_CACHE[sf_dir]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.sql(
        f"""WITH {_DSIR_FEATS_CTE}
        SELECT b,
               count(*) FILTER (WHERE doc_id IS NOT NULL) AS cr,
               count(*) FILTER (WHERE lang = 'en') AS ct
        FROM dsir_feats GROUP BY 1"""
    ).fetchall()
    con.close()
    cr = {int(b): int(c) for b, c, _ in rows}
    ct = {int(b): int(c) for b, _, c in rows}
    tr, tt = sum(cr.values()), sum(ct.values())
    wtab = ", ".join(
        "({}, {})".format(
            b,
            sqlgen.frozen_ln_c_py((tr + 512) / (cr.get(b, 0) + 1))
            - sqlgen.frozen_ln_c_py((tt + 512) / (ct.get(b, 0) + 1)),
        )
        for b in range(512)
    )
    ucoin = "[{}]".format(
        ", ".join(
            str(sqlgen.frozen_ln_c_py(10000.0 / (bk + 1)))
            for bk in range(10000)
        )
    )
    _DSIR_LIT_CACHE[sf_dir] = (wtab, ucoin)
    return wtab, ucoin


def _sampling_dsir_ctes(sf_dir: str | None = None) -> str:
    wtab, _ = _dsir_literals(sf_dir)
    return f"""
-- DSIR scaffolding (r12, literal-frozen r14): hashed unigram+bigram
-- features (md5 fold mod 512); the per-bucket smoothed costs are the
-- driver-frozen INTEGER literals below (frozen_ln_c_py — the Spark plan
-- embeds the same values), so the per-doc weight is a pure integer sum —
-- sampling.dsir_weights
WITH {_DSIR_FEATS_CTE},
dsir_wtab(b, w_c) AS (VALUES {wtab}),
dsir_w AS MATERIALIZED (
  SELECT f.doc_id, CAST(sum(w.w_c) AS BIGINT) AS logw
  FROM dsir_feats f
  JOIN dsir_wtab w ON w.b = f.b
  WHERE f.doc_id IS NOT NULL
  GROUP BY 1
)"""

_SAMPLING_CORE_PARTS = f"""SELECT 'hash' AS method, doc_id, lang,
       CAST((({sqlgen.hexfold_i64('_m')} % 100) + 100) % 100 AS BIGINT) AS metric
FROM (SELECT doc_id, lang, md5(text) AS _m FROM documents)
WHERE (({sqlgen.hexfold_i64('_m')} % 100) + 100) % 100 < 10
UNION ALL
SELECT 'stratified', doc_id, lang, CAST(rn AS BIGINT)
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {sqlgen.hexfold_i64('_m')}, doc_id) AS rn
  FROM (SELECT doc_id, lang, md5(text) AS _m FROM documents)
)
WHERE rn <= 20
UNION ALL
SELECT 'shard', doc_id, lang, CAST(shard * 100000 + pos AS BIGINT)
FROM (
  SELECT doc_id, lang, shard,
         row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
  FROM (
    SELECT doc_id, lang, h, ((h % 8) + 8) % 8 AS shard
    FROM (SELECT doc_id, lang, {sqlgen.hexfold_i64('_m')} AS h
          FROM (SELECT doc_id, lang, md5(coalesce(text, '')) AS _m FROM documents))
  )
)
UNION ALL
-- τ=1/2 temperature mixture (r9): in-plan sqrt rates, per-10000 bucket
-- selection, ×2 epochs for full-rate groups — sampling.sqrt_mixture_sample
SELECT 'mixture', doc_id, lang, CAST(epoch * 100000 + bucket AS BIGINT)
FROM (
  SELECT k.doc_id, k.lang, k.bucket,
         unnest(range(0, CASE WHEN k.rate_bp = 10000 THEN 2 ELSE 1 END)) AS epoch
  FROM (
    SELECT r.doc_id, r.lang, r.bucket, t.rate_bp
    FROM (SELECT doc_id, lang, (({sqlgen.hexfold_i64('_m')} % 10000) + 10000) % 10000 AS bucket
          FROM (SELECT doc_id, lang, md5(coalesce(text, '')) AS _m FROM documents)) r
    JOIN (SELECT lang, CAST(LEAST(10000, FLOOR(10000 * sqrt(nmin) / sqrt(n))) AS BIGINT) AS rate_bp
          FROM (SELECT lang, count(*) AS n FROM documents GROUP BY 1)
          CROSS JOIN (SELECT min(n) AS nmin
                      FROM (SELECT count(*) AS n FROM documents GROUP BY lang))) t
      ON t.lang = r.lang
    WHERE r.bucket < t.rate_bp
  ) k
)
UNION ALL
-- token-denominated mixture (r10): integer rates from per-group token
-- counts — u = max(1, tokens div w), rate = min(10000, 10000·umin div u);
-- weights (4000, 2000, 2000, 2000) gcd-normalize to (2, 1, 1, 1); zh is
-- unlisted and drops — sampling.token_mixture_sample
SELECT 'token_mixture', doc_id, lang, CAST(rate_bp * 100000 + bucket AS BIGINT)
FROM (
  SELECT r.doc_id, r.lang, r.bucket, t.rate_bp
  FROM (SELECT doc_id, lang, (({sqlgen.hexfold_i64('_m')} % 10000) + 10000) % 10000 AS bucket
        FROM (SELECT doc_id, lang, md5(coalesce(text, '')) AS _m FROM documents)) r
  JOIN (
    SELECT lang, CAST(LEAST(10000, (10000 * umin) // u) AS BIGINT) AS rate_bp
    FROM (SELECT lang, greatest(1, t // w) AS u
          FROM (SELECT d.lang, tw.w,
                       sum(len(string_split(coalesce(d.text, ''), ' '))) AS t
                FROM documents d
                JOIN (VALUES ('en', 2), ('de', 1), ('fr', 1), ('es', 1)) tw(lang, w)
                  ON d.lang = tw.lang
                GROUP BY d.lang, tw.w))
    CROSS JOIN (
      SELECT min(greatest(1, t // w)) AS umin
      FROM (SELECT d.lang, tw.w,
                   sum(len(string_split(coalesce(d.text, ''), ' '))) AS t
            FROM documents d
            JOIN (VALUES ('en', 2), ('de', 1), ('fr', 1), ('es', 1)) tw(lang, w)
              ON d.lang = tw.lang
            GROUP BY d.lang, tw.w))
  ) t ON t.lang = r.lang
  WHERE r.bucket < t.rate_bp
)"""

def _sampling_dsir_parts(sf_dir: str | None = None) -> str:
    _, ucoin = _dsir_literals(sf_dir)
    return f"""-- DSIR importance weights (r12): per-doc sum of the driver-frozen
-- integer costs; NULL metric = zero-feature doc — sampling.dsir_weights
SELECT 'dsir' AS method, d.doc_id, d.lang, w.logw AS metric
FROM documents d
LEFT JOIN dsir_w w ON w.doc_id = d.doc_id
UNION ALL
-- DSIR resampling rule (r12): content-hash coin u_c looked up in the
-- driver-frozen 10000-entry literal table (frozen_ln_c_py — the Spark
-- plan embeds the same values), keep iff u_c + logw >= tau (tau = 0);
-- zero-feature docs drop — sampling.dsir_sample
SELECT 'dsir_kept', k.doc_id, k.lang, CAST(k.u_c AS BIGINT)
FROM (
  SELECT h.doc_id, h.lang, u.u_c
  FROM (
    SELECT doc_id, lang,
           ((({sqlgen.hexfold_i64('_m')}) % 10000) + 10000) % 10000 AS bk
    FROM (SELECT doc_id, lang, md5(coalesce(text, '')) AS _m FROM documents)
  ) h
  JOIN (SELECT unnest(range(10000)) AS bk,
               unnest({ucoin}) AS u_c) u USING (bk)
) k
JOIN dsir_w w ON w.doc_id = k.doc_id
WHERE w.logw IS NOT NULL AND k.u_c + w.logw >= 0"""

_SAMPLING_PREFIX_PARTS = f"""-- greedy token-budget fill (r12): cumulative whitespace-token prefix in
-- (content-hash, doc_id) order, docs admitted while the tokens BEFORE
-- them are under the budget — sampling.token_budget_sample
SELECT 'token_budget' AS method, doc_id, lang,
       CAST(before_t AS BIGINT) AS metric
FROM (
  SELECT doc_id, lang,
         coalesce(SUM(t) OVER (ORDER BY h, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS before_t
  FROM (SELECT doc_id, lang, len(string_split(coalesce(text, ''), ' ')) AS t,
               {sqlgen.hexfold_i64('_m')} AS h
        FROM (SELECT doc_id, lang, text, md5(coalesce(text, '')) AS _m
              FROM documents))
)
WHERE before_t < 15000
UNION ALL
-- deterministic train/val/test split (r12): content-hash per-10000
-- bucket, layout train [0,9000) / val [9000,9500) / test [9500,10000);
-- metric = split_index*100000 + bucket — sampling.split_assign
SELECT 'split', doc_id, lang,
       CAST((CASE WHEN b < 9000 THEN 0 WHEN b < 9500 THEN 1 ELSE 2 END)
            * 100000 + b AS BIGINT)
FROM (
  SELECT doc_id, lang,
         ((({sqlgen.hexfold_i64('_m')}) % 10000) + 10000) % 10000 AS b
  FROM (SELECT doc_id, lang, md5(coalesce(text, '')) AS _m FROM documents)
)"""

def oracle_sampling(sf_dir: str | None = None) -> str:
    return f"""{_sampling_dsir_ctes(sf_dir)}
{_SAMPLING_CORE_PARTS}
UNION ALL
{_sampling_dsir_parts(sf_dir)}
UNION ALL
{_SAMPLING_PREFIX_PARTS}
"""


def oracle_sampling_dsir(sf_dir: str | None = None) -> str:
    return f"""{_sampling_dsir_ctes(sf_dir)}
{_sampling_dsir_parts(sf_dir)}
"""


# kept (with q_sampling_prefix) for a future registry swap — its two parts
# still gate inside the combined `sampling` row; the dedicated driver row
# was dropped in r14 to restore the driver's 50-row window (VERDICT r13 §2)
ORACLE_SAMPLING_PREFIX = f"""{_SAMPLING_PREFIX_PARTS}
"""


# ================================== model-based quality classifier (r16)

#: (sf_dir → (wtab VALUES literal, thr_c)) — the quality classifier's two
#: driver-frozen artifacts, computed once per process like _DSIR_LIT_CACHE
_QC_LIT_CACHE: dict[str, tuple[str, int]] = {}


def _quality_literals(sf_dir: str | None = None) -> tuple[str, int]:
    """The frozen artifacts of the r16 quality classifier gate: the
    512-bucket NB weight VALUES literal and the trained logistic decision
    threshold (×1e6 mean log-odds).

    Mirrors ``sampling.quality_classifier`` exactly through SHARED Python:
    the per-bucket label counts and the score histogram are computed here
    by DuckDB over the same parquet the oracle reads (through the same
    ``_DSIR_FEATS_CTE`` text, mod 512 — integer-provably equal to the
    Spark side), then fed to the ONE pair of functions both sides use —
    ``sampling.quality_weight_table`` and ``sampling.quality_threshold_c``
    (which Newton-fits the class-balanced logistic head in pure CPython).
    No cross-engine float: the histogram bin is a binary64 division both
    engines round identically (IEEE), and everything downstream of the
    collect happens once on the driver.

    Labeled split = the gate fixture's: seed = ``lang = 'en'`` documents,
    crawl = the whole corpus (the GPT-3 filter setup).  The histogram
    groups per ``doc_id`` where the operator groups per synthetic row id —
    equivalent whenever ids are unique and non-NULL, which the fixture
    corpus guarantees (and the histogram is invariant to id VALUES).
    """
    import os

    import duckdb

    from tikv_data_compare_spark.operators.sampling import (
        QC_BIN_MAX,
        QC_BIN_STEP_C,
        quality_threshold_c,
        quality_weight_table,
    )

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    if sf_dir in _QC_LIT_CACHE:
        return _QC_LIT_CACHE[sf_dir]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.sql(
        f"""WITH {_DSIR_FEATS_CTE}
        SELECT b,
               count(*) AS c_crawl,
               count(*) FILTER (WHERE lang = 'en') AS c_seed
        FROM dsir_feats GROUP BY 1"""
    ).fetchall()
    crawl_counts = {int(b): int(c) for b, c, _ in rows}
    seed_counts = {int(b): int(c) for b, _, c in rows}
    wtab_py = quality_weight_table(seed_counts, crawl_counts, 512)
    wtab = ", ".join(f"({b}, {w})" for b, w in sorted(wtab_py.items()))
    hist_rows = con.sql(
        f"""WITH {_DSIR_FEATS_CTE},
        qc_wtab(b, w_c) AS (VALUES {wtab}),
        per_doc AS (
          SELECT f.doc_id, f.lang,
                 CAST(count(*) AS BIGINT) AS nf,
                 CAST(sum(w.w_c) AS BIGINT) AS sc
          FROM dsir_feats f JOIN qc_wtab w ON w.b = f.b
          GROUP BY 1, 2
        )
        SELECT y, bin, count(*) AS n FROM (
          SELECT 1 AS y,
                 greatest(-{QC_BIN_MAX}, least({QC_BIN_MAX},
                   CAST(floor(sc / (nf * {float(QC_BIN_STEP_C)})) AS BIGINT))) AS bin
          FROM per_doc WHERE lang = 'en'
          UNION ALL
          SELECT 0,
                 greatest(-{QC_BIN_MAX}, least({QC_BIN_MAX},
                   CAST(floor(sc / (nf * {float(QC_BIN_STEP_C)})) AS BIGINT)))
          FROM per_doc
        ) GROUP BY 1, 2"""
    ).fetchall()
    con.close()
    hist = {(int(y), int(b)): int(n) for y, b, n in hist_rows}
    thr_c = quality_threshold_c(hist)
    _QC_LIT_CACHE[sf_dir] = (wtab, thr_c)
    return wtab, thr_c


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r16 model-based quality scorer (sampling.quality_classifier) at
    the gate fixture's labeled split: seed = English documents, crawl =
    the corpus itself — NB bucket weights + the driver-trained logistic
    decision threshold, all integer-frozen (registry swap tenant for the
    retired ``sampling_dsir`` localization row, VERDICT r15 task 4).

    Two labeled slices since r17 (VERDICT r16 task 6 — folding the
    fit→persist→reload→score seam INTO the gated row instead of swapping):

    - ``part='live'``: ``quality_model`` fit once, scored with the
      in-memory frame — byte-equal to the r16 one-call
      ``quality_classifier`` output (same delegation path);
    - ``part='persisted'``: the SAME model written to parquet, read back,
      and scored via ``quality_score_with_model`` — the deployment
      pattern (fit one labeled snapshot, score every future shard), so
      the metadata stamp's parquet round-trip (threshold + geometry ride
      as column metadata on ``_w_c``) is driver-hash-gated, not just
      pytest-covered.

    The oracle emits both slices from ONE scored CTE: the operator
    contract is that the round-trip is verdict-IDENTICAL, so any drift
    between the two slices (a lost stamp, a re-trained threshold, a
    weight-table write truncation) breaks the hash gate."""
    import tempfile

    from tikv_data_compare_spark.operators import sampling as sp

    tune(spark)
    docs = _load(spark, sf_dir, "documents")
    seed = docs.filter(F.col("lang") == "en").select("text")
    corpus = docs.select("doc_id", "text")
    model = sp.quality_model(corpus, seed, n_buckets=512)
    path = tempfile.mkdtemp(prefix="qc_model_gate_") + "/model.parquet"
    model.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)

    def slab(label: str, m: DataFrame) -> DataFrame:
        return sp.quality_score_with_model(corpus, m).select(
            F.lit(label).alias("part"),
            "doc_id", "q_n_feats", "q_sum_c", "q_keep",
        )

    return slab("live", model).unionByName(slab("persisted", reloaded))


def oracle_quality_classifier(sf_dir: str | None = None) -> str:
    wtab, thr_c = _quality_literals(sf_dir)
    return f"""
-- r16 quality classifier: hashed unigram+bigram features (shared DSIR
-- feature CTE, md5 fold mod 512), driver-frozen NB weight literals, and
-- the trained logistic threshold embedded as ONE integer — the keep test
-- multiplies (sum >= thr * n_feats), so no division reaches the gate
WITH {_DSIR_FEATS_CTE},
qc_wtab(b, w_c) AS (VALUES {wtab}),
qc_scored AS MATERIALIZED (
  SELECT f.doc_id,
         CAST(count(*) AS BIGINT) AS q_n_feats,
         CAST(sum(w.w_c) AS BIGINT) AS q_sum_c
  FROM dsir_feats f
  JOIN qc_wtab w ON w.b = f.b
  WHERE f.doc_id IS NOT NULL
  GROUP BY 1
)
-- two slices, ONE scored CTE (r17): the Spark row scores once with the
-- in-memory model ('live') and once with its parquet round-trip
-- ('persisted'); the contract is verdict-identity, so the oracle emits
-- the same rows under both labels — any round-trip drift hash-fails
SELECT p.part, d.doc_id,
       COALESCE(s.q_n_feats, 0) AS q_n_feats,
       s.q_sum_c AS q_sum_c,
       (s.q_sum_c >= {thr_c} * s.q_n_feats) AS q_keep
FROM documents d
LEFT JOIN qc_scored s ON s.doc_id = d.doc_id
CROSS JOIN (VALUES ('live'), ('persisted')) AS p(part)
"""


# ===================================================== pipeline capstone


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call curation API (operators/curate.py ``curate``) run
    end-to-end, with BOTH of its outputs in one labeled row set:

    - ``part='funnel'``: the per-stage attrition report — (stage, n_in,
      n_out, n_dropped) for exact_dedup → near_dedup → quality →
      repetition, the funnel every curation run is judged by;
    - ``part='corpus'``: the per-language summary of the kept documents
      (n_docs, total tokens, total chars) — since r18 AFTER the
      ``self_dedup_trim_span=24`` TRANSFORM (VERDICT r17 task 5), so the
      in-funnel span surgery is driver-gated end-to-end: the oracle
      rebuilds every trimmed doc per character (brute-force pair starts,
      anti-join against covering intervals) and summarizes the kept set
      over that ground-truth text.  The funnel itself is byte-identical
      to a non-trimming run (transform convention, test-pinned), and the
      trim runs the r18 default span hash (xxhash64) — gating the
      throughput path's verdicts, complementing ``text_fingerprints``'s
      pinned-md5 gate.

    The oracle recomputes every stage's survivor set declaratively (exact
    content-hash keep, minhash-banded candidates restricted to exact
    survivors + Jaccard ≥ 0.8 losers, the Gopher flag conjunction, the
    repetition caps), so all four stage counts AND the final corpus are
    hash-gated — the attrition numbers are checked, not just reported."""
    tune(spark)
    from tikv_data_compare_spark.operators.curate import curate

    docs = _load(spark, sf_dir, "documents")
    # decontam_max_fp_df routes the template corpus's hot fingerprints
    # through the exact rekey split (byte-identical at any threshold —
    # operator contract, pinned) — without it the uncapped winnow
    # self-join dominates the row (~9x at sf0.01, same degeneracy the
    # text_fingerprints row caps).  200 is the measured sweet spot at
    # both driver scales (sf0.01: 3.74->2.82 s, sf0.1: 9.16->7.61 s vs
    # 50; 1000 degrades sf0.01 to 7.1 s; BASELINE.md, cap-200 tuning):
    # the knob trades winnow-candidate fan-out against gram fan-out and
    # the output is identical at every value
    kept, attrition = curate(
        docs, self_dedup_trim_span=24, decontam_max_fp_df=200
    )
    funnel = attrition.select(
        F.lit("funnel").alias("part"),
        F.col("stage").alias("label"),
        F.col("n_in").alias("n1"),
        F.col("n_out").alias("n2"),
        F.col("n_dropped").alias("n3"),
    )
    ws = "split(text, ' ')"
    corpus = (
        kept.select(
            "lang",
            F.expr(f"CAST(size({ws}) AS BIGINT)").alias("n_tokens"),
            F.expr("CAST(length(text) AS BIGINT)").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum("n_tokens").cast("long").alias("n2"),
            F.sum("n_chars").cast("long").alias("n3"),
        )
        .select(F.lit("corpus").alias("part"), F.col("lang").alias("label"), "n1", "n2", "n3")
    )
    return funnel.unionByName(corpus)


def _oracle_curation_pipeline() -> str:
    """Declarative recomputation of every ``curate()`` stage.

    Minhash signatures / quality flags / repetition fractions are per-doc
    functions, so they are computed over ALL documents and the staging is
    expressed by restricting each gate's JOIN to the previous stage's
    survivor set (band candidates among exact survivors ≡ recomputing
    signatures on the survivor subset, since signatures don't depend on the
    corpus)."""
    return f"""
WITH stats AS ({ORACLE_TEXT_STATS}),
flags AS (
  SELECT doc_id,
       CAST((CASE WHEN n_tokens >= 20 AND n_tokens <= 100000 THEN 1 ELSE 0 END)
          * (CASE WHEN mean_word_len_c >= 20000 AND mean_word_len_c <= 100000 THEN 1 ELSE 0 END)
          * (CASE WHEN CAST(ROUND(10000.0 * n_punct / greatest(n_chars, 1)) AS BIGINT) <= 1000 THEN 1 ELSE 0 END)
          * (CASE WHEN CAST(ROUND(10000.0 * n_stopwords / greatest(n_tokens, 1)) AS BIGINT) >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS keep
  FROM stats
),
wrd AS (SELECT doc_id, unnest({sqlgen.split_words('text', DUCK)}) AS w FROM documents),
word_stats AS (
  SELECT doc_id, count(*) AS n_words, count(DISTINCT w) AS n_distinct FROM wrd GROUP BY doc_id
),
big AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) < 2 THEN []
         ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS bigram
  FROM (SELECT doc_id, {sqlgen.split_words('text', DUCK)} AS ws FROM documents)
),
big_tf AS (SELECT doc_id, bigram, count(*) AS n FROM big GROUP BY doc_id, bigram),
big_top AS (SELECT doc_id, max(n) AS max_bi, sum(n) AS n_bi FROM big_tf GROUP BY doc_id),
rep AS (
  SELECT w.doc_id,
         CAST(ROUND(10000.0 * (w.n_words - w.n_distinct) / w.n_words) AS BIGINT) AS dup_word_frac_c,
         CAST(coalesce(ROUND(10000.0 * b.max_bi / b.n_bi), 0) AS BIGINT) AS top_bigram_frac_c
  FROM word_stats w LEFT JOIN big_top b ON w.doc_id = b.doc_id
),
hash_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
sig AS ({_oracle_minhash_sig_cte()}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN hash_keep ka ON ka.doc_id = a.doc_id
       JOIN sig b ON a.doc_id < b.doc_id AND (
       (a.m0 = b.m0 AND a.m1 = b.m1) OR (a.m2 = b.m2 AND a.m3 = b.m3)
    OR (a.m4 = b.m4 AND a.m5 = b.m5) OR (a.m6 = b.m6 AND a.m7 = b.m7))
       JOIN hash_keep kb ON kb.doc_id = b.doc_id
),
words AS ({DUCK_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ninter
  FROM cand c JOIN words wa ON wa.doc_id = c.doc_a JOIN words wb ON wb.doc_id = c.doc_b AND wa.w = wb.w
  GROUP BY c.doc_a, c.doc_b
),
losers AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  WHERE CAST(ROUND(10000.0 * coalesce(i.ninter, 0) / (sa.n + sb.n - coalesce(i.ninter, 0))) AS BIGINT) >= 8000
),
near_keep AS (
  SELECT doc_id FROM hash_keep WHERE doc_id NOT IN (SELECT doc_id FROM losers)
),
q_keep AS (
  SELECT n.doc_id FROM near_keep n JOIN flags f ON f.doc_id = n.doc_id WHERE f.keep = 1
),
r_keep AS (
  SELECT q.doc_id FROM q_keep q JOIN rep r ON r.doc_id = q.doc_id
  WHERE r.dup_word_frac_c <= 7000 AND r.top_bigram_frac_c <= 1800
),
-- r18 trim transform replay (VERDICT r17 task 5): the gated curate call
-- passes self_dedup_trim_span=24, so the kept corpus summary runs over
-- span-surgically trimmed text.  Ground truth mirrors the
-- text_fingerprints oracle's rebuild: brute-force duplicate starts over
-- every (earlier, later) pair, per-character anti-join against the
-- covering [i, i+24) intervals, string_agg in position order.
-- the corpus summary consumes trimmed text only for KEPT docs, so the
-- later-doc side is restricted to r_keep (the earlier side stays the
-- FULL corpus — the transform's dedup reference, curate docstring)
ct_pairs AS (
  SELECT b.doc_id AS idb, b.text AS bt, a.text AS at2
  FROM documents a
  JOIN documents b ON a.doc_id < b.doc_id
  JOIN r_keep rk ON rk.doc_id = b.doc_id
  WHERE length(a.text) >= 24 AND length(b.text) >= 24
),
ct_hit AS (
  SELECT idb, ss FROM (
    SELECT idb,
           list_filter(generate_series(1, length(bt) - 23),
                       i -> contains(at2, substr(bt, i, 24))) AS ss
    FROM ct_pairs
  ) WHERE len(ss) > 0
),
ct_sunion AS (SELECT DISTINCT idb, unnest(ss) AS i FROM ct_hit),
ct_chars AS (
  SELECT idb, pos, substr(t, pos, 1) AS ch FROM (
    SELECT h.idb, d.text AS t,
           unnest(generate_series(1, length(d.text))) AS pos
    FROM (SELECT DISTINCT idb FROM ct_hit) h
    JOIN documents d ON d.doc_id = h.idb
  )
),
ct_trimmed AS (
  SELECT c.idb, string_agg(c.ch, '' ORDER BY c.pos) AS trimmed
  FROM ct_chars c
  ANTI JOIN ct_sunion u ON u.idb = c.idb AND c.pos >= u.i AND c.pos < u.i + 24
  GROUP BY c.idb
),
ct_text AS (
  -- a fully-trimmed doc has zero surviving chars: absent from ct_trimmed,
  -- coalesce to '' (the engine fold's finisher yields '' the same way)
  SELECT d.doc_id, d.lang,
         CASE WHEN h.idb IS NULL THEN d.text
              ELSE coalesce(tr.trimmed, '') END AS text
  FROM documents d
  LEFT JOIN (SELECT DISTINCT idb FROM ct_hit) h ON h.idb = d.doc_id
  LEFT JOIN ct_trimmed tr ON tr.idb = d.doc_id
),
c0 AS (SELECT count(*) AS n FROM documents),
c1 AS (SELECT count(*) AS n FROM hash_keep),
c2 AS (SELECT count(*) AS n FROM near_keep),
c3 AS (SELECT count(*) AS n FROM q_keep),
c4 AS (SELECT count(*) AS n FROM r_keep)
SELECT 'funnel' AS part, 'exact_dedup' AS label,
       CAST(c0.n AS BIGINT) AS n1, CAST(c1.n AS BIGINT) AS n2, CAST(c0.n - c1.n AS BIGINT) AS n3
FROM c0, c1
UNION ALL
SELECT 'funnel', 'near_dedup', CAST(c1.n AS BIGINT), CAST(c2.n AS BIGINT), CAST(c1.n - c2.n AS BIGINT)
FROM c1, c2
UNION ALL
SELECT 'funnel', 'quality', CAST(c2.n AS BIGINT), CAST(c3.n AS BIGINT), CAST(c2.n - c3.n AS BIGINT)
FROM c2, c3
UNION ALL
SELECT 'funnel', 'repetition', CAST(c3.n AS BIGINT), CAST(c4.n AS BIGINT), CAST(c3.n - c4.n AS BIGINT)
FROM c3, c4
UNION ALL
SELECT 'corpus', d.lang,
       CAST(count(*) AS BIGINT),
       CAST(sum(len({sqlgen.split_words('d.text', DUCK)})) AS BIGINT),
       CAST(sum(length(d.text)) AS BIGINT)
FROM r_keep k JOIN ct_text d ON d.doc_id = k.doc_id
GROUP BY d.lang
"""


# Registration lives in queries.queries()/queries.oracle_sql() — the single
# ordered 50-entry registry (the driver's checked window is 50 entries).
ORACLE_TEXT_QUALITY = _oracle_text_quality()
