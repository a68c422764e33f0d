"""Similarity search over embedding columns: top-k, near-dup and exact dup.

Every top-k entry point is one pipeline — candidate source → per-batch
score and top → one global rank → optional exact rerank — configured by
its candidate source and its scorer:

- **Candidate source.** All rows (``topk_bruteforce``, ``topk_pq``), the
  query's LSH bucket (``topk_lsh``), the query's ``n_probe`` nearest IVF
  cells (``topk_ivf``, ``topk_ivf_join``, ``topk_ivfpq``,
  ``topk_ivfpq_join``; ``n_probe='auto'`` via :func:`resolve_n_probe`), or
  the cells of a persisted index (``ann_index.topk_index``).
- **Score and per-batch top.**  Two plan families, each the only path for
  its input.  Collected queries (at most :data:`MAX_COLLECTED_QUERIES`)
  are broadcast and the corpus never shuffles: either one ``mapInPandas``
  scan (:func:`_scan_topk`) scores each Arrow batch against every query —
  exact cosine or PQ asymmetric distance (ADC) — and emits each query's
  per-batch top, or the queries join their bucket/cell as the broadcast
  side and SQL scores the candidates (:func:`_join_topk`).  DataFrame
  queries (``topk_ivf_join``, ``topk_ivfpq_join``, ``topk_index``) meet
  the corpus in a shuffle equi-join or cogroup on the cell id, so neither
  side is collected or broadcast.
- **Global rank** (:func:`_rank`): ``row_number`` per query over
  ``(score desc, neighbor_id asc)``.
- **Exact rerank** (:func:`_rerank`, ``rerank=R``): each query's top-R
  shortlist is re-scored with the exact SQL cosine against the float
  vectors.

Cross-engine determinism: a score is the cosine (or its ADC estimate)
×10000 rounded half away from zero, as SQL ROUND does in Spark and
DuckDB; the SQL cosine (:func:`_cosine_c`) accumulates the dot product
left to right over doubles, like the DuckDB oracle.  A pair with a
zero-norm side has no cosine: it scores NULL and ranks after every
non-null score.  Each per-batch top keeps every candidate tied at its
cut, so the kept set does not depend on the Arrow batch layout.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F, types as T

from tikv_data_compare_spark.functions import sqlgen

#: ceiling on driver-collected query sets: the top-k operators broadcast the
#: query matrix (n_queries · dim doubles) after a driver collect — by design
#: (the CORPUS never shuffles; queries are the small side).  16k queries at
#: dim 1024 is ~128 MB of broadcast, the sane upper edge; beyond that the
#: right tool is a bucketed join of two DataFrames, not a broadcast top-k.
MAX_COLLECTED_QUERIES = 16384

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _dot(a: str, b: str) -> str:
    return DOT.format(a=a, b=b)


def _scaled(emb: DataFrame) -> DataFrame:
    """Widen an under-split source before a CPU-heavy Arrow stage.

    mapInPandas inherits the scan's split count, and a compact parquet file
    of packed float arrays can plan 1-2 splits — stranding the numpy work on
    2 cores (see session.scale_out; no-op at cluster split counts).  Keyed
    by vec_id when present so placement is retry-deterministic; placement
    never affects results here (all batch functions are pure per-row, and
    the per-batch top includes boundary ties by construction).
    """
    from tikv_data_compare_spark.session import scale_out

    return scale_out(emb, key="vec_id" if "vec_id" in emb.columns else None)


# ---------------------------------------------------------------------------
# numpy helpers (Spark driver and executors)
# ---------------------------------------------------------------------------


def _vecs(col):
    """``(rows, dim)`` float64 matrix of an iterable of vectors."""
    import numpy as np

    return np.stack([np.asarray(e, dtype=np.float64) for e in col])


def _unit(x):
    """Rows of ``x`` scaled to unit L2 norm; all-zero rows stay zero."""
    import numpy as np

    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def _cell_d2(x, cent):
    """Expanded squared L2 distance, ``(rows of x) × (rows of cent)``."""
    return (x**2).sum(axis=1, keepdims=True) - 2.0 * (x @ cent.T) + (cent**2).sum(axis=1)[None, :]


def _nearest_cells(x, cent, n_probe: int):
    """Each row's ``min(n_probe, n_cells)`` nearest cells, nearest first."""
    import numpy as np

    return np.argsort(_cell_d2(x, cent), axis=1)[:, : min(n_probe, cent.shape[0])]


def _round_c(x):
    """``x`` ×10000 rounded half away from zero (SQL ROUND)."""
    import numpy as np

    scaled = x * 10000.0
    return np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)


def _collect_queries(emb: DataFrame, n_queries: int):
    """The query rows (vec_id < n_queries) as ``(ids, raw vectors)``, or
    None when there are none.  The ceiling binds on the ROWS ACTUALLY
    COLLECTED, not the id threshold — a sparse-id corpus may pass a large
    threshold that matches only a handful of rows — and the collect is
    capped at ceiling+1 rows, so an over-limit query set never
    materializes on the driver before raising."""
    import numpy as np

    qrows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .limit(MAX_COLLECTED_QUERIES + 1)
        .collect()
    )
    if len(qrows) > MAX_COLLECTED_QUERIES:
        raise ValueError(
            f"query set (vec_id < {n_queries}) exceeds the driver-collect "
            f"ceiling ({MAX_COLLECTED_QUERIES} rows): the query matrix is "
            "collected and broadcast by design. For larger query sets use an "
            "LSH/IVF bucket equi-join of the two DataFrames instead."
        )
    if not qrows:
        return None
    return np.asarray([int(r["vec_id"]) for r in qrows]), _vecs(r["embedding"] for r in qrows)


# ---------------------------------------------------------------------------
# the top-k pipeline
# ---------------------------------------------------------------------------


def _rank(df: DataFrame, score_col: str, k: int) -> DataFrame:
    """The global rank: each query's top ``k`` by (score desc, neighbor_id
    asc) → ``(query_id, neighbor_id, score_col, rnk)``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc("neighbor_id"))
    return (
        df.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", score_col, "rnk")
    )


def _cosine_c(a: str, b: str):
    """Exact SQL cosine ×10000 of array columns ``a`` and ``b`` in the full
    ``dot(a,b)/(|a|·|b|)`` form — the DuckDB oracle's expression (an
    algebraically equal pre-normalized form can differ in the last ulp and
    flip a ROUND at an x.5 boundary).  NULL when either norm is zero."""
    return F.expr(
        f"CAST(ROUND(10000.0 * {_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)}))) AS BIGINT)"
    )


def _exact_scores(mat, qhat):
    """Exact rounded cosine ``(queries × batch)`` against the unit query
    matrix ``qhat``; -inf (NULL) where either side has zero norm."""
    import numpy as np

    mhat = _unit(mat)
    c = _round_c((mhat @ qhat.T).T)
    return np.where(~qhat.any(axis=1)[:, None] | ~mhat.any(axis=1)[None, :], -np.inf, c), None


def _adc_scores(mat, payload):
    """Rounded ADC scores ``(queries × batch)`` of the batch's PQ codes —
    per element the j-ordered sum of per-subspace lookup-table partials —
    and, with a coarse quantizer, the mask of each query's probed cells
    (the corpus cell is picked from the RAW vector, the code from the
    normalized one)."""
    import numpy as np

    luts, books, cent, q_cells = payload
    codes = _pq_codes_np(_unit(mat), books)
    scores = np.zeros((luts.shape[0], len(mat)))
    for j in range(luts.shape[1]):
        scores += luts[:, j, :][:, codes[:, j]]
    if cent is None:
        return _round_c(scores), None
    cell = _cell_d2(mat, cent).argmin(axis=1)
    return _round_c(scores), np.stack([np.isin(cell, c) for c in q_cells])


def _luts(qraw, books):
    """ADC lookup tables ``luts[q, j, c] = <q̂_j, codebook[j][c]>`` of the
    L2-normalized queries, so the ADC inner product approximates cosine."""
    import numpy as np

    m, _, sub_d = books.shape
    return np.einsum("qjd,jcd->qjc", _unit(qraw).reshape(len(qraw), m, sub_d), books)


def _scan_topk(
    emb: DataFrame, n_queries: int, scorer, payload_of, k: int, rerank: int, score_col: str
) -> DataFrame:
    """The broadcast-scan family: the collected queries' ``payload_of(raw
    query matrix)`` is broadcast, and one ``mapInPandas`` pass over the
    corpus scores every Arrow batch with ``scorer(batch_matrix, payload) ->
    (scores, cell_mask | None)``, keeps each query's per-batch top
    ``max(k, rerank, 64)`` (self excluded, boundary ties included, so the
    kept set is a layout-independent superset of the global top), then
    ranks globally and optionally reranks.  -inf scores are NULL pairs:
    they rank last and emit NULL."""
    spark = emb.sparkSession
    q = _collect_queries(emb, n_queries)
    if q is None:
        return spark.createDataFrame(
            [], f"query_id long, neighbor_id long, {score_col} long, rnk long"
        )
    qids, qraw = q
    keep = max(k, rerank)
    cap = max(keep, 64)
    bc = spark.sparkContext.broadcast((qids, payload_of(qraw)))

    def scan(batches):
        import numpy as np
        import pandas as pd

        q_ids, pay = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            c, mask = scorer(_vecs(pdf["embedding"]), pay)
            out = [(np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.empty(0))]
            for qi, qid in enumerate(q_ids):
                sel = ids != qid if mask is None else (ids != qid) & mask[qi]
                cand_ids, cand_c = ids[sel], c[qi][sel]
                top = min(len(cand_ids), cap)
                if not top:
                    continue
                # partial select, then pull in ALL candidates tied at the cut
                # score, so truncation is by the composite (score desc, id
                # asc) key whatever subset argpartition kept
                idx = np.argpartition(-cand_c, top - 1)[:top]
                idx = np.union1d(idx, np.nonzero(cand_c == cand_c[idx].min())[0])
                order = idx[np.lexsort((cand_ids[idx], -cand_c[idx]))[:top]]
                out.append((np.full(top, qid), cand_ids[order], cand_c[order]))
            qs, vs, cs = (np.concatenate(x) for x in zip(*out))
            cs = pd.Series(cs).where(np.isfinite(cs)).astype("Int64")
            yield pd.DataFrame({"query_id": qs, "neighbor_id": vs, score_col: cs})

    cands = _scaled(emb.select("vec_id", "embedding")).mapInPandas(
        scan, f"query_id long, neighbor_id long, {score_col} long"
    )
    shortlist = _rank(cands, score_col, keep)
    if not rerank:
        return shortlist
    qdf = spark.createDataFrame(
        [(int(qid), [float(v) for v in vec]) for qid, vec in zip(qids, qraw)],
        "query_id long, q_emb array<double>",
    )
    return _rerank(
        emb, F.broadcast(shortlist.select("query_id", "neighbor_id")), F.broadcast(qdf), k
    )


def _join_topk(
    corpus: DataFrame, q: DataFrame, key: str, k: int, exclude_self: bool = True
) -> DataFrame:
    """The SQL-scored candidate join: corpus ``(vec_id, embedding, key)``
    meets queries ``(query_id, q_emb, key)`` on ``key`` (the caller picks
    broadcast or shuffle by hinting ``q``), exact cosine, global rank."""
    joined = corpus.join(q, on=key)
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine_c("q_emb", "embedding").alias("cosine_c"),
    )
    return _rank(scored, "cosine_c", k)


def _rerank(emb: DataFrame, pairs: DataFrame, qdf: DataFrame, k: int) -> DataFrame:
    """Exact-score the shortlist ``pairs`` ``(query_id, neighbor_id)``
    against the float vectors of ``emb`` and the RAW query vectors of
    ``qdf`` ``(query_id, q_emb)`` — two keyed equi-joins, ~R float rows
    read per query — and rank to ``k``.  The caller picks the join hints:
    broadcast for collected queries, none for DataFrame queries."""
    refined = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(pairs, "neighbor_id")
        .join(qdf, "query_id")
        .select("query_id", "neighbor_id", _cosine_c("q_emb", "embedding").alias("score_c"))
    )
    return _rank(refined, "score_c", k)


def _n_probe(emb: DataFrame, n_probe: "int | str", n_cells: int, k: int, rerank: int = 0) -> int:
    """:func:`resolve_n_probe` with the corpus counted only for 'auto'."""
    return resolve_n_probe(
        n_probe, emb.count() if n_probe == "auto" else 0, n_cells, k=k, rerank=rerank
    )


# ---------------------------------------------------------------------------
# exact and LSH top-k, near-dup
# ---------------------------------------------------------------------------


def topk_bruteforce(emb: DataFrame, k: int = 5, n_queries: int = 10) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < n_queries) × all vectors.

    Scale shape: the query matrix is broadcast to every partition; each Arrow
    batch scores against it with one numpy (BLAS) matmul and emits only its
    local top per query; a final tiny window merges the per-batch
    candidates.  The corpus never shuffles and Python sees each row once in
    a vectorized batch.  Returns (query_id, neighbor_id, cosine_c, rnk).
    """
    return _scan_topk(emb, n_queries, _exact_scores, _unit, k, 0, "cosine_c")


def _plane_matrix(dim: int, n_planes: int, n_tables: int, seed: int):
    """Deterministic Gaussian hyperplanes, one (dim, n_planes) block per
    table, seeded — reproducible across runs/resumes with no driver-side
    entropy leaking into the plan."""
    import numpy as np

    rng = np.random.RandomState(seed)
    p = rng.standard_normal((dim, n_planes * n_tables))
    return p / np.linalg.norm(p, axis=0, keepdims=True)


def auto_planes(n_rows: int, target_bucket_rows: int = 256, lo: int = 2, hi: int = 24) -> int:
    """Plane count sized to the corpus: ~target_bucket_rows vectors per
    bucket, so the intra-bucket self-join stays O(n · target) instead of
    O(n²/2^planes) with a fixed tiny plane count."""
    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(max(1.0, n_rows / target_bucket_rows)))))


def lsh_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    seed: int = 7,
    n_tables: int = 1,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (sign bits of projections).

    Projections are ONE numpy matmul per Arrow batch against a broadcast
    (dim × planes·tables) plane matrix — O(1) plan size at any dim, unlike a
    generated per-component SQL expression (which stops codegenning around
    dim·planes ≈ a few thousand terms).  With ``n_tables > 1`` each row emits
    one bucket per table (OR-amplification: pairs collide if they share ANY
    table's bucket — recall survives a larger ``n_planes``); bucket ids are
    disjoint across tables via a table-id prefix.

    Pass ``dim`` when known to skip the eager one-row probe job (which
    otherwise recomputes the upstream lineage of an uncached ``emb``).  The
    plane-matrix broadcast is owned by the returned frame's closure.
    """
    if n_planes * n_tables > 60:
        raise ValueError(f"n_planes*n_tables={n_planes * n_tables} exceeds 60 sign bits")
    if "bucket" in emb.columns or vec_col == "bucket":
        raise ValueError(
            "input already has a 'bucket' column (or vec_col='bucket'); rename it — "
            "lsh_buckets appends its own 'bucket' output column"
        )
    if dim is None:
        first = emb.select(vec_col).first()
        dim = len(first[vec_col]) if first else 1
    bc = emb.sparkSession.sparkContext.broadcast(_plane_matrix(dim, n_planes, n_tables, seed))
    out_schema = T.StructType(list(emb.schema.fields) + [T.StructField("bucket", T.LongType())])

    def bucketize(batches):
        import numpy as np

        planes = bc.value
        weights = np.left_shift(np.int64(1), np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _vecs(pdf[vec_col])
            # accumulate the projection LEFT-TO-RIGHT over components (each
            # step one rounded multiply + one rounded add, vectorized across
            # rows/planes) instead of one BLAS matmul: BLAS uses pairwise/SIMD
            # summation with a different rounding order, and a projection
            # within one ulp of 0 could then get a DIFFERENT sign here than in
            # the SQL oracle's left-assoc `v[1]*p1 + v[2]*p2 + ...` — the sign
            # bit is engine-stable by construction, not by luck.  Same flop
            # count as the matmul; ~dim vectorized steps per batch.
            proj = mat[:, 0:1] * planes[0:1, :]
            for i in range(1, mat.shape[1]):
                proj += mat[:, i : i + 1] * planes[i : i + 1, :]
            signs = proj >= 0.0  # (batch, planes*tables)
            for t in range(n_tables):
                bits = signs[:, t * n_planes : (t + 1) * n_planes] @ weights
                out = pdf.copy()
                out["bucket"] = (np.int64(t) << np.int64(n_planes)) | bits
                yield out

    return _scaled(emb).mapInPandas(bucketize, out_schema)


def topk_lsh(emb: DataFrame, k: int = 5, n_queries: int = 10, n_planes: int = 6) -> DataFrame:
    """Approximate top-k: score only within the query's LSH bucket.

    Scale shape: equi-join on bucket (the queries are the broadcast side)
    instead of a full cross product.  Recall is tunable via n_planes (fewer
    planes → bigger buckets → higher recall).
    """
    b = lsh_buckets(emb, n_planes)
    q = b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    return _join_topk(b, F.broadcast(q), "bucket", k)


def embedding_near_dup(
    emb: DataFrame,
    threshold_c: int = 4000,
    n_planes: int | None = None,
    n_tables: int = 2,
    target_bucket_rows: int = 256,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine near-duplicate pairs: LSH bucket equi-join, exact
    cosine verification within buckets, keep pairs with scaled cosine ≥
    ``threshold_c``.

    Scale shape: candidates meet in a shuffle on the bucket id (no n²), and
    ``n_planes`` defaults to ``auto_planes(count)`` so buckets stay ~
    ``target_bucket_rows`` deep as the corpus grows — the intra-bucket join
    is O(n·target), never O(n²/constant).  ``n_tables`` OR-amplifies recall
    (a pair is scored if it collides in ANY table).  Approximate by
    construction — pairs colliding in no table are not scored.

    Corpus count (for ``auto_planes``) and vector dim are probed in ONE
    aggregate job instead of separate count()/first() passes, so an
    expensive uncached upstream plan is recomputed once, not three times —
    and when the caller supplies BOTH ``n_planes`` and ``dim``, the probe
    job is skipped entirely (zero extra scans of the input).
    """
    if n_planes is None or dim is None:
        stats = emb.agg(
            F.count(F.lit(1)).alias("n"), F.min(F.size("embedding")).alias("dim")
        ).first()
        if n_planes is None:
            n_planes = auto_planes(stats["n"], target_bucket_rows)
        if dim is None:
            dim = stats["dim"] or 1
    b = lsh_buckets(emb, n_planes, seed=seed, n_tables=n_tables, dim=dim)
    left = b.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "bucket")
    right = b.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "bucket")
    pairs = left.join(right, on="bucket").filter(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.select("vec_a", "vec_b", _cosine_c("emb_a", "emb_b").alias("cosine_c"))
    return scored.filter(F.col("cosine_c") >= threshold_c).distinct()


def embedding_dedup_canonical(
    emb: DataFrame,
    threshold_c: int = 4000,
    n_planes: int | None = None,
    n_tables: int = 2,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """End-to-end embedding near-dup decision, mirroring the text-side
    ``dedup_canonical`` chain: LSH near-dup pairs → connected components
    (transitive closure — a dup CLUSTER, not just pairwise hits) → one row
    per vector with its component and a kept/dropped verdict (kept iff the
    vector is its component's minimum id; singletons keep themselves).

    This is the row an embedding-dedup pipeline acts on.  Scale shape is
    the pair generation's (bucketed equi-join) plus O(rounds) label joins;
    use ``connected_components(..., algo='star')`` semantics via the
    default min-label (dup clusters are shallow)."""
    from tikv_data_compare_spark.operators.graph import connected_components

    pairs = embedding_near_dup(
        emb, threshold_c=threshold_c, n_planes=n_planes,
        n_tables=n_tables, seed=seed, dim=dim,
    )
    comp = connected_components(pairs, a_col="vec_a", b_col="vec_b")
    vecs = emb.select("vec_id")
    joined = vecs.join(comp, vecs.vec_id == comp.id, "left")
    component = F.coalesce(F.col("component"), F.col("vec_id"))
    return joined.select(
        "vec_id",
        component.cast("long").alias("component"),
        (component == F.col("vec_id")).cast("long").alias("kept"),
    )


def embedding_exact_dup(emb: DataFrame) -> DataFrame:
    """Exact-duplicate embeddings via canonical fingerprint.

    Elements are scaled to integers (ROUND half-away in both engines) before
    hashing — raw float formatting is not engine-stable.
    """
    canon = (
        "array_join(transform(embedding, "
        "x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 100000) AS BIGINT) AS STRING)), ',')"
    )
    hashed = emb.withColumn("_m", F.md5(F.expr(canon))).withColumn(
        "vec_fp", F.expr(sqlgen.hexfold_i64("_m")).cast("long")
    )
    return hashed.groupBy("vec_fp").agg(
        F.min("vec_id").cast("long").alias("keep_vec_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# IVF: k-means coarse quantizer
# ---------------------------------------------------------------------------


def resolve_n_probe(
    n_probe: "int | str",
    n_corpus: int,
    n_cells: int,
    k: int = 5,
    rerank: int = 0,
    target_candidates: int = 2048,
) -> int:
    """Resolve ``n_probe='auto'`` to a cell count sized by corpus density.

    Recall at fixed ``n_probe`` depends on how many candidates a probe
    yields: at ~125 rows/cell (2k vectors, 16 cells) probing 4 cells scores
    ~500 candidates and recall@5 lands near 0.46, while the SAME probe
    count at ~1250 rows/cell (20k vectors) yields ~5000 candidates and 0.98
    (BASELINE.md measurements) — sparse cells need MORE probes, not a
    fixed fraction.  The heuristic probes enough cells that the expected
    candidate pool reaches ``max(target_candidates, 4*max(k, rerank))``,
    floored at ceil(n_cells/4) (the FAISS-style lower bound so dense
    corpora keep a multi-cell safety margin) and capped at ``n_cells``
    (degenerating to exact search when the corpus is tiny — at 2k vectors
    the 2048 target resolves to exhaustive probing, which is the right
    operating point: sub-exact probing of a corpus that small bought only
    0.62 recall at 9/16 cells, and the remaining recall loss at exhaustive
    probe is pure PQ distortion, the same ~0.8 band as the
    no-coarse-quantizer pq_rerank path).

    An int ``n_probe`` passes through unchanged (the callers clamp it to
    ``n_cells``).
    """
    if n_probe != "auto":
        return int(n_probe)
    rows_per_cell = max(1.0, n_corpus / max(1, n_cells))
    want = max(target_candidates, 4 * max(k, rerank))
    p = math.ceil(want / rows_per_cell)
    floor = math.ceil(n_cells / 4)
    return min(n_cells, max(p, floor, 1))


def _train_sample_rows(emb: DataFrame, sample_rows: int, vec_col: str) -> list:
    """The trainers' shared deterministic sample: top-``sample_rows`` rows
    by a content hash of the vector (orderBy + limit = TakeOrdered — one
    job, independent of partition layout, unlike ``DataFrame.sample(seed)``
    whose output shifts with the input partitioning)."""
    return (
        emb.select(vec_col, F.xxhash64(F.col(vec_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample_rows)
        .collect()
    )


def _lloyd(x, cent):
    """Ten Lloyd's iterations from the initial centroids ``cent`` (updated
    in place and returned); an empty cluster keeps its centroid."""
    for _ in range(10):
        assign = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
    return cent


def _train_centroids(rows: list, n_cells: int, seed: int, vec_col: str):
    """Lloyd's k-means over a driver-side sample → (n_cells, dim) array.

    Coarse quantizers are trained on samples even at FAISS scale; ~64·cells
    sampled vectors through one collect is the standard recipe.  Fully
    deterministic *by content* (see :func:`_train_sample_rows`), then
    seeded init and a fixed iteration count.
    """
    import numpy as np

    if not rows:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    x = _vecs(r[vec_col] for r in rows)
    n_cells = min(n_cells, len(x))
    rng = np.random.RandomState(seed)
    return _lloyd(x, x[rng.choice(len(x), size=n_cells, replace=False)])


def _train_ivfpq(emb: DataFrame, n_cells: int, m: int, k_codes: int, sample_rows: int, seed: int):
    """(centroids, PQ codebooks), both trained on ONE sample collect."""
    _check_k_codes(k_codes)
    sample = _train_sample_rows(emb, sample_rows, "embedding")
    return (
        _train_centroids(sample, n_cells, seed, "embedding"),
        _train_pq_from_rows(sample, m, k_codes, seed, "embedding"),
    )


def _ivf_corpus(emb: DataFrame, n_cells: int, sample_rows: int, seed: int):
    """Train the coarse quantizer, then append each corpus vector's nearest
    cell map-side (one broadcast centroid matrix, one numpy distance per
    Arrow batch) → (centroids, ``(vec_id, embedding, cell)``)."""
    sample = _train_sample_rows(emb, sample_rows, "embedding")
    cent = _train_centroids(sample, n_cells, seed, "embedding")
    bc = emb.sparkSession.sparkContext.broadcast(cent)
    src = emb.select("vec_id", "embedding")

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            out["cell"] = _cell_d2(_vecs(pdf["embedding"]), bc.value).argmin(axis=1).astype("int64")
            yield out

    out_schema = T.StructType(list(src.schema.fields) + [T.StructField("cell", T.LongType())])
    return cent, _scaled(src).mapInPandas(assign, out_schema)


def _probe_cells(queries: DataFrame, cent, n_probe: int) -> DataFrame:
    """Append each ``(query_id, q_emb)`` row's ``n_probe`` nearest coarse
    cells, MAP-SIDE: one broadcast centroid matrix + one numpy
    distance/argsort per Arrow batch, emitting one output row per (query,
    probed cell).  The query-side dual of the corpus cell assignment — no
    driver collect, no ceiling, so query sets of any size stream through.
    Distances use the RAW vectors (the space the corpus was bucketed in)."""
    bc = queries.sparkSession.sparkContext.broadcast(cent)
    out_schema = T.StructType(list(queries.schema.fields) + [T.StructField("cell", T.LongType())])

    def probe(batches):
        cent = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cells = _nearest_cells(_vecs(pdf["q_emb"]), cent, n_probe)  # (batch, n_probe)
            for p in range(cells.shape[1]):
                out = pdf.copy()
                out["cell"] = cells[:, p].astype("int64")
                yield out

    return _scaled(queries).mapInPandas(probe, out_schema)


def topk_ivf(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_cells: int = 16,
    n_probe: "int | str" = 4,
    sample_rows: int = 4096,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer, score only vectors in
    each query's ``n_probe`` nearest cells.

    Scale shape: centroids train on a bounded seeded sample; cell assignment
    is one broadcast-matmul pass over the corpus; the queries' probed cells
    are picked on the Spark driver and candidates meet in an equi-join on the
    cell id (queries broadcast — the corpus never shuffles).  Recall is
    tuned by ``n_probe`` (``'auto'`` sizes it from corpus/cell density,
    :func:`resolve_n_probe`); ``n_probe >= n_cells`` degenerates to exact
    brute force (the oracle-gate configuration).
    """
    spark = emb.sparkSession
    n_probe = _n_probe(emb, n_probe, n_cells, k)
    cent, corpus = _ivf_corpus(emb, n_cells, sample_rows, seed)
    q = _collect_queries(emb, n_queries)
    if q is None:
        return spark.createDataFrame([], "query_id long, neighbor_id long, cosine_c long, rnk long")
    qids, qraw = q
    qdf = spark.createDataFrame(
        [
            (int(qid), list(map(float, vec)), int(c))
            for qid, vec, row_cells in zip(qids, qraw, _nearest_cells(qraw, cent, n_probe))
            for c in row_cells
        ],
        "query_id long, q_emb array<double>, cell long",
    )
    return _join_topk(corpus, F.broadcast(qdf), "cell", k)


def topk_ivf_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: "int | str" = 4,
    sample_rows: int = 4096,
    seed: int = 7,
    id_col: str = "query_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k where the QUERIES are a DataFrame, not a collected matrix —
    the scale path past :data:`MAX_COLLECTED_QUERIES`.

    Scale shape: the coarse quantizer trains on a bounded seeded sample;
    BOTH sides get their cell ids map-side (corpus: nearest cell; queries:
    ``n_probe`` nearest cells, exploded); candidates meet in a shuffle
    equi-join on the cell id — neither side is ever collected or broadcast,
    so a 100 M-row query set works exactly like a 100-row one.  Per-query
    state downstream is one window over (query, candidates), keyed shuffle
    only.  ``n_probe >= n_cells`` degenerates to exact brute force.

    ``queries`` must carry (``id_col``, ``vec_col``).  ``exclude_self=True``
    (the default, matching the broadcast operators) drops candidates whose
    vec_id equals the query id — correct when queries ARE corpus rows; for
    an EXTERNAL query set whose ids are an unrelated space, pass
    ``exclude_self=False`` or an id collision silently hides a neighbor.
    Returns (query_id, neighbor_id, cosine_c, rnk).
    """
    n_probe = _n_probe(emb, n_probe, n_cells, k)
    cent, corpus = _ivf_corpus(emb, n_cells, sample_rows, seed)
    qdf = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    return _join_topk(corpus, _probe_cells(qdf, cent, n_probe), "cell", k, exclude_self)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the 100 TB memory path
# ---------------------------------------------------------------------------


def train_pq(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 32,
    sample_rows: int = 4096,
    seed: int = 11,
    vec_col: str = "embedding",
):
    """Train product-quantizer codebooks: ``(m, k_codes, dim/m)`` numpy array.

    The vector space is split into ``m`` contiguous subspaces and each gets
    its own ``k_codes``-centroid k-means codebook (trained on the same
    deterministic content-hash sample as the IVF centroids — one bounded
    driver collect, standard FAISS practice).  Vectors are L2-NORMALIZED
    before training so the asymmetric-distance inner product approximates
    COSINE, matching the exact operators' metric.

    Why PQ at all: at 100 TB an embedding corpus does not fit as floats —
    1024-dim float32 is 4 KB/vector, while m=16, k=256 PQ codes are 16
    BYTES/vector (256×), small enough to keep the whole corpus hot.  Scoring
    against codes needs only a per-query lookup table of ``m × k_codes``
    partial dot products (ADC, Jégou et al. 2011).
    """
    _check_k_codes(k_codes)
    return _train_pq_from_rows(
        _train_sample_rows(emb, sample_rows, vec_col), m, k_codes, seed, vec_col
    )


def _check_k_codes(k_codes: int) -> None:
    """Reject a codebook size the uint8 codes cannot hold; the PQ trainers
    call it before their sample collect."""
    if not 2 <= k_codes <= 256:
        raise ValueError(
            f"PQ codes are stored as one uint8 per subspace: k_codes must be "
            f"in [2, 256], got {k_codes}"
        )


def _train_pq_from_rows(rows: list, m: int, k_codes: int, seed: int, vec_col: str):
    """The PQ codebook trainer over an already-collected sample."""
    import numpy as np

    rows = [r for r in rows if r[vec_col] is not None]
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = len(rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"PQ requires dim % m == 0, got dim={dim}, m={m}")
    x = _unit(_vecs(r[vec_col] for r in rows))
    sub_d = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, min(k_codes, len(x)), sub_d), dtype=np.float64)
    kk = books.shape[1]
    for j in range(m):
        xj = x[:, j * sub_d : (j + 1) * sub_d]
        # init from UNIQUE points: drawing raw sample rows can hand several
        # centroids the same duplicated value and leave another value with
        # none — Lloyd's cannot split identical centroids afterwards.  With
        # fewer distinct points than codes, every point gets a centroid
        # (quantization is then lossless) and the rest are duplicates.
        uniq = np.unique(xj, axis=0)
        if len(uniq) >= kk:
            cent = uniq[rng.choice(len(uniq), size=kk, replace=False)]
        else:
            cent = np.tile(uniq, (kk // len(uniq) + 1, 1))[:kk].copy()
        books[j] = _lloyd(xj, cent)
    return books


def _pq_codes_np(mat, books):
    """PQ codes of an already-L2-normalized (rows, dim) float64 matrix: per
    subspace, the argmin of the expanded squared distance to the codebook
    — the one encode every path (scan, cell join, index) shares."""
    import numpy as np

    m, _, sub_d = books.shape
    codes = np.empty((len(mat), m), dtype=np.uint8)
    for j in range(m):
        d2 = _cell_d2(mat[:, j * sub_d : (j + 1) * sub_d], books[j])
        codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
    return codes


def pq_encode(emb: DataFrame, books_bc, vec_col: str = "embedding") -> DataFrame:
    """Append ``pq_code``: the m-byte PQ code of each (normalized) vector as
    a BINARY column — one uint8 per subspace (hence ``k_codes <= 256``).

    One broadcast + one numpy argmin per Arrow batch; the corpus never
    shuffles and carries m bytes instead of dim floats downstream.
    """
    out_schema = T.StructType(list(emb.schema.fields) + [T.StructField("pq_code", T.BinaryType())])

    def encode(batches):
        books = books_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            out["pq_code"] = [c.tobytes() for c in _pq_codes_np(_unit(_vecs(pdf[vec_col])), books)]
            yield out

    return _scaled(emb).mapInPandas(encode, out_schema)


def _assign_encode(emb: DataFrame, cent, books) -> DataFrame:
    """``(vec_id, cell, pq_code)`` in ONE Arrow pass — the fused form of
    ``pq_encode(_assign_cells(...))``: the cell is the expanded-distance
    argmin of the RAW vector and the code quantizes the normalized one, so
    every row's (cell, code) equals the two-stage chain's while the corpus
    crosses the JVM↔Python boundary once."""
    bc = emb.sparkSession.sparkContext.broadcast((cent, books))

    def fn(batches):
        import pandas as pd

        cent_v, books_v = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _vecs(pdf["embedding"])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": _cell_d2(mat, cent_v).argmin(axis=1).astype("int64"),
                    "pq_code": [c.tobytes() for c in _pq_codes_np(_unit(mat), books_v)],
                }
            )

    out_schema = T.StructType(
        [
            emb.schema["vec_id"],
            T.StructField("cell", T.LongType()),
            T.StructField("pq_code", T.BinaryType()),
        ]
    )
    return _scaled(emb).mapInPandas(fn, out_schema)


def topk_pq(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m: int = 8,
    k_codes: int = 32,
    sample_rows: int = 4096,
    seed: int = 11,
    rerank: int = 0,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via asymmetric distance (ADC).

    Scale shape: codebooks train on a bounded seeded sample; each query
    ships only an ``m × k_codes`` lookup table of partial dot products;
    one broadcast scan encodes each Arrow batch and scores every code with
    ``m`` table lookups — no shuffle, local top + tiny window merge exactly
    like :func:`topk_bruteforce`.

    ``rerank=R`` (the FAISS IVFPQ+refine recipe) keeps the top-R ADC
    candidates per query and EXACT-scores only those against the float
    vectors — one broadcast join of the tiny shortlist against the corpus,
    so the full-precision read touches ~R rows per query instead of the
    corpus.  Measured on the 64-dim fixture: pure ADC at m=8,k=32 holds
    recall@5 ≈ 0.2 (quantization noise dominates unstructured vectors),
    rerank=100 over the same codes ≈ 0.8.

    Returns (query_id, neighbor_id, score_c, rnk): ``score_c`` is the ADC
    cosine approximation ×10000 when ``rerank=0`` (an estimate — deliberately
    NOT named like the exact operators' ``cosine_c``) and the exact cosine
    ×10000 of the reranked shortlist when ``rerank>0``.
    """
    books = train_pq(emb, m=m, k_codes=k_codes, sample_rows=sample_rows, seed=seed)

    def payload_of(qraw):
        return _luts(qraw, books), books, None, None

    return _scan_topk(emb, n_queries, _adc_scores, payload_of, k, rerank, "score_c")


def topk_ivfpq(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_cells: int = 16,
    n_probe: "int | str" = 4,
    m: int = 8,
    k_codes: int = 32,
    sample_rows: int = 4096,
    seed: int = 7,
    rerank: int = 0,
) -> DataFrame:
    """IVF + PQ composed — the canonical 100 TB ANN layout (FAISS IVFPQ):
    a k-means coarse quantizer prunes the corpus to each query's ``n_probe``
    nearest cells, PQ codes compress what remains to m bytes/vector, ADC
    lookup tables score the candidates, and ``rerank=R`` optionally
    exact-scores the top-R shortlist.

    Scale shape: both quantizers train on one bounded seeded sample; one
    broadcast scan assigns, encodes and ADC-scores each Arrow batch, and a
    candidate counts only when its cell is one of the query's probed cells
    — the corpus never shuffles, and the float vectors are read again only
    by the rerank's ~R-rows-per-query broadcast join.  Queries probe with
    their RAW vectors (the space the coarse quantizer was trained and the
    corpus bucketed in); normalization is only for the ADC tables.
    ``n_probe >= n_cells`` with ``rerank >= corpus`` degenerates to exact
    brute force (the contract-test configuration).
    """
    cent, books = _train_ivfpq(emb, n_cells, m, k_codes, sample_rows, seed)
    n_probe = _n_probe(emb, n_probe, n_cells, k, rerank)

    def payload_of(qraw):
        return _luts(qraw, books), books, cent, _nearest_cells(qraw, cent, n_probe)

    return _scan_topk(emb, n_queries, _adc_scores, payload_of, k, rerank, "score_c")


def topk_ivfpq_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: "int | str" = 4,
    m: int = 8,
    k_codes: int = 32,
    sample_rows: int = 4096,
    seed: int = 7,
    rerank: int = 0,
    id_col: str = "query_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVFPQ top-k with DataFrame queries — the full 100 TB shape on BOTH
    sides: the corpus exists as (cell id + m-byte PQ code), queries stream
    through a map-side probe (no collect, no broadcast ceiling), candidates
    meet in a shuffle cogroup on the cell id, and each candidate is
    ADC-scored by reconstructing its sub-vectors from the broadcast
    codebooks (``dot(q̂, decode(code))`` ≡ the LUT formulation — same sum of
    per-subspace partial products, vectorized per Arrow batch).

    ``rerank=R`` exact-scores each query's top-R ADC candidates against the
    float vectors via keyed equi-joins (neighbor_id, then query_id) — no
    broadcast of either side, ~R float rows touched per query.
    ``n_probe >= n_cells`` with ``rerank >= corpus`` degenerates to exact
    brute force (the contract-test configuration).
    """
    cent, books = _train_ivfpq(emb, n_cells, m, k_codes, sample_rows, seed)
    n_probe = _n_probe(emb, n_probe, n_cells, k, rerank)
    corpus = _assign_encode(emb.select("vec_id", "embedding"), cent, books)
    qdf = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    return _ivfpq_join_topk(emb, qdf, corpus, cent, books, k, n_probe, rerank, exclude_self)


def _ivfpq_join_topk(
    emb: DataFrame | None,
    qdf: DataFrame,
    corpus: DataFrame,
    cent,
    books,
    k: int,
    n_probe: int,
    rerank: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Shared core of the DataFrame-query IVFPQ paths (``topk_ivfpq_join``
    and the persistent-index query, ann_index.topk_index): map-side query
    probing, a cell cogroup against the (cell, pq_code) corpus, ADC decode
    scoring, global rank, keyed rerank.  ``emb`` supplies float vectors for
    the rerank; pass None for a code-only (ADC-ranked) result.

    The cogroup ships each query vector once per probed cell and each
    corpus code once, decodes each corpus row once, and scores per (query,
    corpus chunk) with an elementwise multiply + per-row sum (no matmul).
    Both sides exchange on the cell — no broadcast of either, so no
    collect ceiling.  Each (cell, chunk) emits its query's top
    ``max(k, rerank, 64)``, a superset of that query's global top rows.
    """
    q = _probe_cells(qdf, cent, n_probe)
    books_bc = qdf.sparkSession.sparkContext.broadcast(books)
    keep = max(k, rerank)
    head_n = max(keep, 64)

    def score_cell(corp_pdf, q_pdf):
        import numpy as np
        import pandas as pd

        out = [(np.empty(0, dtype=np.int64),) * 3]
        if not (corp_pdf.empty or q_pdf.empty):
            books_v = books_bc.value
            qhat = _unit(_vecs(q_pdf["q_emb"]))
            qids = q_pdf["query_id"].to_numpy()
            vids_all = corp_pdf["vec_id"].to_numpy()
            chunk = max(1, (1 << 22) // max(qhat.shape[1], 1))  # ~32 MB of recon floats
            for lo in range(0, len(corp_pdf), chunk):
                sl = corp_pdf["pq_code"].iloc[lo : lo + chunk]
                codes = np.stack([np.frombuffer(c, dtype=np.uint8) for c in sl])
                recon = np.concatenate(
                    [books_v[j][codes[:, j]] for j in range(books_v.shape[0])], axis=1
                )
                vids = vids_all[lo : lo + chunk]
                for qi in range(len(qids)):
                    v, c = vids, _round_c((qhat[qi][None, :] * recon).sum(axis=1))
                    if exclude_self:
                        m = v != qids[qi]
                        v, c = v[m], c[m]
                    # top head_n by (score desc, id asc); float keys so the
                    # NaN (worst — int cast gives LONG_MIN) / +Inf (best —
                    # LONG_MAX) corners order exactly like an int sort
                    order = np.lexsort((v, -c))[:head_n]
                    qcol = np.full(len(order), qids[qi], dtype="int64")
                    out.append((qcol, v[order], c[order].astype("int64")))
        qs, vs, ss = (np.concatenate(x) for x in zip(*out))
        return pd.DataFrame({"query_id": qs, "neighbor_id": vs, "score_c": ss})

    cands_scored = (
        corpus.select("vec_id", "cell", "pq_code")
        .groupBy("cell")
        .cogroup(q.select("query_id", "cell", "q_emb").groupBy("cell"))
        .applyInPandas(score_cell, "query_id long, neighbor_id long, score_c long")
    )
    shortlist = _rank(cands_scored, "score_c", keep)
    if not rerank:
        return shortlist
    if emb is None:
        raise ValueError("rerank requires the float-vector table (emb is None)")
    return _rerank(emb, shortlist.select("query_id", "neighbor_id"), qdf, k)
