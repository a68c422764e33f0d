"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (broadcast the query set, JVM-side
``zip_with``/``aggregate`` dot products — no Python in the loop).  Scale
path: random-hyperplane LSH bucketing so each vector only scores against its
bucket.  Exact-dup detection via canonical vector fingerprints.

Cross-engine determinism: scores are ranked on the ROUNDED (×10000) cosine
with neighbor-id tie-break, and both engines accumulate the dot product in
index order over doubles, so rankings match bit-for-bit.
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


def _collect_queries(emb: DataFrame, n_queries: int) -> list:
    """Collect the query rows (vec_id < n_queries) with the ceiling enforced
    on the ROWS ACTUALLY COLLECTED, not the id threshold — a sparse-id corpus
    may legitimately pass a large threshold that matches only a handful of
    rows (r7, ADVICE).  The collect itself is capped at ceiling+1 rows so an
    over-limit query set never materializes on the driver before raising."""
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
    return qrows


DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _scaled(emb: DataFrame) -> DataFrame:
    """Widen an under-split source before a CPU-heavy Arrow stage.

    mapInPandas inherits the scan's split count, and a compact parquet file
    of packed float arrays can plan 1-2 splits — stranding the numpy work on
    2 cores (see session.scale_out; no-op at cluster split counts).  Keyed
    by vec_id when present so placement is retry-deterministic; placement
    never affects results here (all batch functions are pure per-row, and
    the brute-force merge window includes boundary ties by construction).
    """
    from tikv_data_compare_spark.session import scale_out

    return scale_out(emb, key="vec_id" if "vec_id" in emb.columns else None)


def _dot(a: str, b: str) -> str:
    return DOT.format(a=a, b=b)


def topk_bruteforce(emb: DataFrame, k: int = 5, n_queries: int = 10) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < n_queries) × all vectors.

    Scale shape: the query matrix is broadcast to every partition; each Arrow
    batch scores against it with one numpy (BLAS) matmul and emits only its
    local top-k per query; a final tiny window merges the per-batch
    candidates.  The corpus never shuffles and Python sees each row once in a
    vectorized batch — this is the 100 TB design (local top-k + merge), and
    at sf0.1 it is ~100× faster than per-row fold expressions.

    Determinism: scores are rounded half-away-from-zero to ×10000 (matching
    SQL ROUND in Spark and DuckDB) and ranked (score desc, neighbor_id asc).
    """
    spark = emb.sparkSession
    qrows = _collect_queries(emb, n_queries)
    if not qrows:
        return spark.createDataFrame([], "query_id long, neighbor_id long, cosine_c long, rnk long")

    import numpy as np

    qids = [int(r["vec_id"]) for r in qrows]
    qmat = np.array([list(r["embedding"]) for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qnorm))

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        q_ids, q_norm = bc.value
        q_arr = np.asarray(q_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            cos = (mat / norms) @ q_norm.T  # (batch, q)
            scaled = cos * 10000.0
            c = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)  # ROUND half-away
            out = []
            for j, qid in enumerate(q_arr):
                col = c[:, j]
                mask = ids != qid
                cand_ids, cand_c = ids[mask], col[mask]
                # per-batch candidate cap must cover the requested k, or the
                # global merge sees a truncated candidate set for k > 64
                top = min(len(cand_ids), max(k, 64))
                if not top:
                    continue
                # partial select, then pull in ALL candidates tied at the cut
                # score: argpartition alone keeps an arbitrary subset of the
                # boundary ties, so the kept id-set would vary with Arrow
                # batch layout; with the ties included, truncation is by the
                # composite (score desc, id asc) key — deterministic.
                idx = np.argpartition(-cand_c, top - 1)[:top]
                idx = np.union1d(idx, np.nonzero(cand_c == cand_c[idx].min())[0])
                order = np.lexsort((cand_ids[idx], -cand_c[idx]))[:top]
                for i in order:
                    out.append((int(qid), int(cand_ids[idx[i]]), int(cand_c[idx[i]])))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "cosine_c"])

    cands = _scaled(emb.select("vec_id", "embedding")).mapInPandas(
        score_batches, "query_id long, neighbor_id long, cosine_c long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_c"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_c", "rnk")
    )


def topk_bruteforce_sql(emb: DataFrame, k: int = 5, n_queries: int = 10) -> DataFrame:
    """Pure-SQL form of topk_bruteforce (reference implementation; norms
    precomputed once per side).  Kept for environments without Arrow."""
    with_norm = emb.withColumn("nrm", F.expr(f"sqrt({_dot('embedding', 'embedding')})"))
    q = with_norm.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    joined = with_norm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "CAST(ROUND(10000.0 * " + _dot("q_emb", "embedding") + " / (q_nrm * nrm)) AS BIGINT)"
        ).alias("cosine_c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_c"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_c", "rnk")
    )


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
    plane-matrix broadcast lives for the session (small: dim·planes·tables
    doubles); callers looping over many ad-hoc bucketings can reclaim it
    with ``SparkContext`` broadcast cleanup if that ever matters.
    """
    if n_planes * n_tables > 60:
        raise ValueError(f"n_planes*n_tables={n_planes * n_tables} exceeds 60 sign bits")
    if "bucket" in emb.columns or vec_col == "bucket":
        raise ValueError(
            "input already has a 'bucket' column (or vec_col='bucket'); rename it — "
            "lsh_buckets appends its own 'bucket' output column"
        )
    spark = emb.sparkSession
    if dim is None:
        first = emb.select(vec_col).first()
        dim = len(first[vec_col]) if first else 1
    bc = spark.sparkContext.broadcast(_plane_matrix(dim, n_planes, n_tables, seed))
    out_schema = T.StructType(list(emb.schema.fields) + [T.StructField("bucket", T.LongType())])

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        planes = bc.value
        weights = np.left_shift(np.int64(1), np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
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

    Scale shape: equi-join on bucket (one shuffle) instead of a full cross
    product — the IVF-style path for 100 TB corpora.  Recall is tunable via
    n_planes (fewer planes → bigger buckets → higher recall).
    """
    b = lsh_buckets(emb, n_planes)
    q = b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    joined = b.join(F.broadcast(q), on="bucket").filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "CAST(ROUND(10000.0 * "
            + _dot("q_emb", "embedding")
            + " / (sqrt("
            + _dot("q_emb", "q_emb")
            + ") * sqrt("
            + _dot("embedding", "embedding")
            + "))) AS BIGINT)"
        ).alias("cosine_c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_c"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_c", "rnk")
    )


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
    scored = pairs.select(
        "vec_a",
        "vec_b",
        F.expr(
            "CAST(ROUND(10000.0 * "
            + _dot("emb_a", "emb_b")
            + " / (sqrt("
            + _dot("emb_a", "emb_a")
            + ") * sqrt("
            + _dot("emb_b", "emb_b")
            + "))) AS BIGINT)"
        ).alias("cosine_c"),
    )
    return scored.filter(F.col("cosine_c") >= threshold_c).distinct()


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
    (BASELINE.md r8 measurements) — sparse cells need MORE probes, not a
    fixed fraction.  The heuristic probes enough cells that the expected
    candidate pool reaches ``max(target_candidates, 4*max(k, rerank))``,
    floored at ceil(n_cells/4) (the FAISS-style lower bound so dense
    corpora keep a multi-cell safety margin) and capped at ``n_cells``
    (degenerating to exact search when the corpus is tiny — at 2k vectors
    the 2048 target resolves to exhaustive probing, which is the right
    operating point: sub-exact probing of a corpus that small bought only
    0.62 recall at 9/16 cells in the r9 measurement, and the remaining
    recall loss at exhaustive probe is pure PQ distortion, the same
    ~0.8 band as the no-coarse-quantizer pq_rerank path).

    An int ``n_probe`` passes through unchanged (clamped to ``n_cells`` by
    the callers, as before).
    """
    if n_probe != "auto":
        return int(n_probe)
    import math

    rows_per_cell = max(1.0, n_corpus / max(1, n_cells))
    want = max(target_candidates, 4 * max(k, rerank))
    p = math.ceil(want / rows_per_cell)
    floor = math.ceil(n_cells / 4)
    return min(n_cells, max(p, floor, 1))


def _train_sample_rows(emb: DataFrame, sample_rows: int, vec_col: str) -> list:
    """The trainers' shared deterministic sample: top-``sample_rows`` rows
    by a content hash of the vector (orderBy + limit = TakeOrdered — one
    job, independent of partition layout, unlike ``DataFrame.sample(seed)``
    whose output shifts with the input partitioning).  Extracted r18 so
    the composed IVFPQ paths collect ONE sample and feed both quantizer
    trainers instead of running the identical job twice."""
    return (
        emb.select(vec_col, F.xxhash64(F.col(vec_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample_rows)
        .collect()
    )


def _train_centroids(emb: DataFrame, n_cells: int, sample_rows: int, seed: int, vec_col: str):
    """Lloyd's k-means on a driver-side sample → (n_cells, dim) array.

    Coarse quantizers are trained on samples even at FAISS scale; ~64·cells
    sampled vectors through one collect is the standard recipe.  Fully
    deterministic *by content* (see :func:`_train_sample_rows`), then
    seeded init and a fixed iteration count.
    """
    return _train_centroids_from_rows(
        _train_sample_rows(emb, sample_rows, vec_col), n_cells, seed, vec_col
    )


def _train_centroids_from_rows(rows: list, n_cells: int, seed: int, vec_col: str):
    """The centroid trainer over an already-collected sample (r18 seam —
    byte-identical training; the sample job is the caller's)."""
    import numpy as np

    if not rows:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    x = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    n_cells = min(n_cells, len(x))
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=n_cells, replace=False)]
    for _ in range(10):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
    return cent


def _assign_cells(emb: DataFrame, cent_bc, vec_col: str, out_col: str = "cell") -> DataFrame:
    """Nearest-centroid cell id per vector: broadcast centroid matrix, one
    numpy distance computation per Arrow batch (same shape as lsh_buckets)."""
    out_schema = T.StructType(list(emb.schema.fields) + [T.StructField(out_col, T.LongType())])

    def assign(batches):
        import numpy as np

        cent = cent_bc.value
        c2 = (cent**2).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
            d2 = (mat**2).sum(axis=1, keepdims=True) - 2.0 * (mat @ cent.T) + c2[None, :]
            out = pdf.copy()
            out[out_col] = d2.argmin(axis=1).astype("int64")
            yield out

    return _scaled(emb).mapInPandas(assign, out_schema)


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
    is one broadcast-matmul pass over the corpus; candidates meet in an
    equi-join on the cell id (queries broadcast — the corpus never
    shuffles).  Recall is tuned by ``n_probe`` (``'auto'`` sizes it from
    corpus/cell density, :func:`resolve_n_probe`); ``n_probe >= n_cells``
    degenerates to exact brute force (the oracle-gate configuration).
    """
    import numpy as np

    spark = emb.sparkSession
    n_probe = resolve_n_probe(n_probe, emb.count() if n_probe == "auto" else 0, n_cells, k=k)
    cent = _train_centroids(emb, n_cells, sample_rows, seed, "embedding")
    bc = spark.sparkContext.broadcast(cent)
    corpus = _assign_cells(emb.select("vec_id", "embedding"), bc, "embedding")

    qrows = _collect_queries(emb, n_queries)
    if not qrows:
        return spark.createDataFrame([], "query_id long, neighbor_id long, cosine_c long, rnk long")
    qmat = np.array([list(r["embedding"]) for r in qrows], dtype=np.float64)
    d2 = (qmat**2).sum(axis=1, keepdims=True) - 2.0 * (qmat @ cent.T) + (cent**2).sum(axis=1)[None, :]
    probe = min(n_probe, cent.shape[0])
    cells = np.argsort(d2, axis=1)[:, :probe]
    q = spark.createDataFrame(
        [
            (int(r["vec_id"]), list(map(float, r["embedding"])), int(c))
            for r, row_cells in zip(qrows, cells)
            for c in row_cells
        ],
        "query_id long, q_emb array<double>, cell long",
    )
    joined = corpus.join(F.broadcast(q), on="cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "CAST(ROUND(10000.0 * "
            + _dot("q_emb", "embedding")
            + " / (sqrt("
            + _dot("q_emb", "q_emb")
            + ") * sqrt("
            + _dot("embedding", "embedding")
            + "))) AS BIGINT)"
        ).alias("cosine_c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_c"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_c", "rnk")
    )


def _probe_cells(queries: DataFrame, cent_bc, n_probe: int, vec_col: str = "embedding") -> DataFrame:
    """Append each query row's ``n_probe`` nearest coarse cells, MAP-SIDE:
    one broadcast centroid matrix + one numpy distance/argsort per Arrow
    batch, emitting one output row per (query, probed cell).  This is the
    query-side dual of :func:`_assign_cells` — no driver collect, no
    ceiling, so query sets of any size stream through.  Distances use the
    RAW vectors (the space the corpus was bucketed in)."""
    out_schema = T.StructType(list(queries.schema.fields) + [T.StructField("cell", T.LongType())])

    def probe(batches):
        import numpy as np

        cent = cent_bc.value
        c2 = (cent**2).sum(axis=1)
        n_p = min(n_probe, cent.shape[0])
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
            d2 = (mat**2).sum(axis=1, keepdims=True) - 2.0 * (mat @ cent.T) + c2[None, :]
            cells = np.argsort(d2, axis=1)[:, :n_p]  # (batch, n_probe)
            for p in range(n_p):
                out = pdf.copy()
                out["cell"] = cells[:, p].astype("int64")
                yield out

    return _scaled(queries).mapInPandas(probe, out_schema)


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
    the scale path past :data:`MAX_COLLECTED_QUERIES` (the broadcast-top-k
    operators cap driver-collected query sets at 16k by design).

    Scale shape: the coarse quantizer trains on a bounded seeded sample;
    BOTH sides get their cell ids map-side (corpus: nearest cell; queries:
    ``n_probe`` nearest cells, exploded); candidates meet in a shuffle
    equi-join on the cell id — neither side is ever collected or broadcast,
    so a 100 M-row query set works exactly like a 100-row one.  Per-query
    state downstream is one window over (query, candidates), keyed shuffle
    only.  ``n_probe >= n_cells`` degenerates to exact brute force (the
    contract-test configuration).

    ``queries`` must carry (``id_col``, ``vec_col``).  ``exclude_self=True``
    (the default, matching the broadcast operators) drops candidates whose
    vec_id equals the query id — correct when queries ARE corpus rows; for
    an EXTERNAL query set whose ids are an unrelated space, pass
    ``exclude_self=False`` or an id collision silently hides a neighbor
    (r8 review).  Returns (query_id, neighbor_id, cosine_c, rnk).
    """
    spark = emb.sparkSession
    n_probe = resolve_n_probe(n_probe, emb.count() if n_probe == "auto" else 0, n_cells, k=k)
    cent = _train_centroids(emb, n_cells, sample_rows, seed, "embedding")
    bc = spark.sparkContext.broadcast(cent)
    corpus = _assign_cells(emb.select("vec_id", "embedding"), bc, "embedding")
    q = _probe_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")),
        bc,
        n_probe,
        vec_col="q_emb",
    )
    joined = corpus.join(q, on="cell")
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "CAST(ROUND(10000.0 * "
            + _dot("q_emb", "embedding")
            + " / (sqrt("
            + _dot("q_emb", "q_emb")
            + ") * sqrt("
            + _dot("embedding", "embedding")
            + "))) AS BIGINT)"
        ).alias("cosine_c"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_c"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_c", "rnk")
    )


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
    meet in a shuffle equi-join on the cell id, and each candidate is
    ADC-scored by reconstructing its sub-vectors from the broadcast
    codebooks (``dot(q̂, decode(code))`` ≡ the LUT formulation — same sum of
    per-subspace partial products, vectorized per Arrow batch).

    ``rerank=R`` exact-scores each query's top-R ADC candidates against the
    float vectors via keyed equi-joins (neighbor_id, then query_id) — no
    broadcast of either side, ~R float rows touched per query.
    ``n_probe >= n_cells`` with ``rerank >= corpus`` degenerates to exact
    brute force (the contract-test configuration).
    """
    spark = emb.sparkSession
    n_probe = resolve_n_probe(
        n_probe, emb.count() if n_probe == "auto" else 0, n_cells, k=k, rerank=rerank
    )
    # one sample collect feeds both quantizer trainers, and the corpus-side
    # cell assign + PQ encode run as ONE Arrow pass (r18 — identical math,
    # see _assign_encode); the candidate CELL equi-join and the decode
    # scorer stay exactly the r17 plan (this path's contract is the
    # no-broadcast-ceiling query side, pinned in test_plans)
    sample = _train_sample_rows(emb, sample_rows, "embedding")
    cent = _train_centroids_from_rows(sample, n_cells, seed, "embedding")
    cent_bc = spark.sparkContext.broadcast(cent)
    books = _train_pq_from_rows(sample, m, k_codes, seed, "embedding")
    books_bc = spark.sparkContext.broadcast(books)
    corpus = _assign_encode(emb.select("vec_id", "embedding"), cent_bc, books_bc)

    qdf = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    return _ivfpq_join_topk(
        emb, qdf, corpus, cent_bc, books_bc, k, n_probe, rerank, exclude_self
    )


def _assign_encode(emb: DataFrame, cent_bc, books_bc, vec_col: str = "embedding") -> DataFrame:
    """``(vec_id, cell, pq_code)`` in ONE Arrow pass — the fused form of
    ``pq_encode(_assign_cells(...))`` for the composed IVFPQ paths (r18):
    the same expanded-distance argmin picks the cell from the RAW vector
    and the same :func:`_pq_codes_np` quantizes the normalized one, so
    every row's (cell, code) is byte-identical to the two-stage chain —
    the corpus just crosses the JVM↔Python boundary once instead of
    twice.  The separate seams remain for the index build path."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        cent = cent_bc.value
        books = books_bc.value
        c2 = (cent**2).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
            d2 = (mat**2).sum(axis=1, keepdims=True) - 2.0 * (mat @ cent.T) + c2[None, :]
            cell = d2.argmin(axis=1).astype("int64")
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            codes = _pq_codes_np(mat / norms, books)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell,
                    "pq_code": [c.tobytes() for c in codes],
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


def _ivfpq_join_topk(
    emb: DataFrame | None,
    qdf: DataFrame,
    corpus: DataFrame,
    cent_bc,
    books_bc,
    k: int,
    n_probe: int,
    rerank: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Shared core of the DataFrame-query IVFPQ paths (``topk_ivfpq_join``
    and the persistent-index query, ann_index.topk_index): map-side query
    probing, cell equi-join against the (cell, pq_code) corpus, batch ADC
    decode scoring, window shortlist, keyed rerank.  ``emb`` supplies float
    vectors for the rerank; pass None for a code-only (ADC-ranked) result.
    """
    q = _probe_cells(qdf, cent_bc, n_probe, vec_col="q_emb")

    keep = max(k, rerank)
    head_n = max(keep, 64)

    # r19 (VERDICT r18 task 5): candidates meet in a cell COGROUP instead
    # of a cell equi-join feeding a separate Python scorer.  The join
    # attached the 8·dim-byte query vector to EVERY candidate row and
    # shipped that across the Python boundary (and decoded each corpus
    # code once per probing query); the cogroup ships each query vector
    # once per probed CELL and each corpus code once, decodes per corpus
    # row once, and scores per (query, corpus-chunk) with the IDENTICAL
    # numpy expressions (elementwise multiply + per-row axis sum — no
    # matmul, so every pair's score is bit-identical to the join shape).
    # Still a shuffle-only plan — no broadcast of either side, preserving
    # this path's no-ceiling contract (both sides exchange on the cell).
    # Emitting per-(cell, corpus-chunk) heads instead of per-Arrow-batch
    # heads changes only WHICH superset of the global top-k reaches the
    # window — each query's true top rows live inside their own chunk's
    # top-``head_n`` — so the window output is unchanged at any layout.
    def score_cell(corp_pdf, q_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "score_c": pd.Series([], dtype="int64"),
            }
        )
        if corp_pdf.empty or q_pdf.empty:
            return empty
        books_v = books_bc.value
        n_m = books_v.shape[0]
        qmat = np.stack([np.asarray(e, dtype=np.float64) for e in q_pdf["q_emb"]])
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        qhat = qmat / qn
        qids = q_pdf["query_id"].to_numpy()
        vids_all = corp_pdf["vec_id"].to_numpy()
        dim = qmat.shape[1]
        chunk = max(1, (1 << 22) // max(dim, 1))  # ~32 MB of recon floats
        out_q, out_v, out_s = [], [], []
        for lo in range(0, len(corp_pdf), chunk):
            sl = corp_pdf["pq_code"].iloc[lo : lo + chunk]
            codes = np.stack([np.frombuffer(c, dtype=np.uint8) for c in sl])
            recon = np.concatenate(
                [books_v[j][codes[:, j]] for j in range(n_m)], axis=1
            )
            vids = vids_all[lo : lo + chunk]
            for qi in range(len(qids)):
                scaled = (qhat[qi][None, :] * recon).sum(axis=1) * 10000.0
                c_all = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
                v, c = vids, c_all
                if exclude_self:
                    m = v != qids[qi]
                    v, c = v[m], c[m]
                # top head_n by (score desc, id asc); float keys so the
                # NaN (worst — int cast gives LONG_MIN) / +Inf (best —
                # LONG_MAX) corners order exactly like the int sort did
                order = np.lexsort((v, -c))[:head_n]
                out_q.append(np.full(len(order), qids[qi], dtype="int64"))
                out_v.append(v[order])
                out_s.append(c[order].astype("int64"))
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_v),
                "score_c": np.concatenate(out_s),
            }
        )

    cands_scored = (
        corpus.select("vec_id", "cell", "pq_code")
        .groupBy("cell")
        .cogroup(q.select("query_id", "cell", "q_emb").groupBy("cell"))
        .applyInPandas(score_cell, "query_id long, neighbor_id long, score_c long")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_c"), F.asc("neighbor_id"))
    shortlist = (
        cands_scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= keep)
        .select("query_id", "neighbor_id", "score_c", "rnk")
    )
    if not rerank:
        return shortlist
    if emb is None:
        raise ValueError("rerank requires the float-vector table (emb is None)")
    # rerank WITHOUT broadcasting the query side: two keyed equi-joins
    refined = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(shortlist.select("query_id", "neighbor_id"), "neighbor_id")
        .join(qdf, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "CAST(ROUND(10000.0 * "
                + _dot("q_emb", "embedding")
                + " / (sqrt("
                + _dot("q_emb", "q_emb")
                + ") * sqrt("
                + _dot("embedding", "embedding")
                + "))) AS BIGINT)"
            ).alias("score_c"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score_c"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score_c", "rnk")
    )


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
    deterministic content-hash sample as :func:`_train_centroids` — one
    bounded driver collect, standard FAISS practice).  Vectors are
    L2-NORMALIZED before training so the asymmetric-distance inner product
    approximates COSINE, matching the exact operators' metric.

    Why PQ at all: at 100 TB an embedding corpus does not fit as floats —
    1024-dim float32 is 4 KB/vector, while m=16, k=256 PQ codes are 16
    BYTES/vector (256×), small enough to keep the whole corpus hot.  Scoring
    against codes needs only a per-query lookup table of ``m × k_codes``
    partial dot products (ADC, Jégou et al. 2011).
    """
    if not 2 <= k_codes <= 256:
        raise ValueError(
            f"PQ codes are stored as one uint8 per subspace: k_codes must be "
            f"in [2, 256], got {k_codes}"
        )
    return _train_pq_from_rows(
        _train_sample_rows(emb, sample_rows, vec_col), m, k_codes, seed, vec_col
    )


def _train_pq_from_rows(rows: list, m: int, k_codes: int, seed: int, vec_col: str):
    """The PQ codebook trainer over an already-collected sample (r18 seam —
    byte-identical training; the sample job is the caller's)."""
    import numpy as np

    rows = [r for r in rows if r[vec_col] is not None]
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = len(rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"PQ requires dim % m == 0, got dim={dim}, m={m}")
    x = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x /= norms
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
        for _ in range(10):
            d2 = ((xj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                mask = assign == c
                if mask.any():
                    cent[c] = xj[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(emb: DataFrame, books_bc, vec_col: str = "embedding") -> DataFrame:
    """Append ``pq_code``: the m-byte PQ code of each (normalized) vector as
    a BINARY column — one uint8 per subspace (hence ``k_codes <= 256``).

    One broadcast + one numpy argmin per Arrow batch; the corpus never
    shuffles and carries m bytes instead of dim floats downstream.
    """
    out_schema = T.StructType(list(emb.schema.fields) + [T.StructField("pq_code", T.BinaryType())])

    def encode(batches):
        import numpy as np

        books = books_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            codes = _pq_codes_np(mat / norms, books)
            out = pdf.copy()
            out["pq_code"] = [c.tobytes() for c in codes]
            yield out

    return _scaled(emb).mapInPandas(encode, out_schema)


def _pq_codes_np(mat, books):
    """PQ codes of an already-L2-normalized (rows, dim) float64 matrix —
    the encode math shared by :func:`pq_encode` and the fused single-pass
    scan paths (r18): per subspace, argmin of the exact expanded squared
    distance.  Extracted verbatim so every path quantizes identically."""
    import numpy as np

    m, _, sub_d = books.shape
    codes = np.empty((len(mat), m), dtype=np.uint8)
    for j in range(m):
        xj = mat[:, j * sub_d : (j + 1) * sub_d]
        d2 = (
            (xj**2).sum(axis=1, keepdims=True)
            - 2.0 * (xj @ books[j].T)
            + (books[j] ** 2).sum(axis=1)[None, :]
        )
        codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
    return codes


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

    Scale shape: codebooks train on a bounded seeded sample; the corpus is
    encoded in one broadcast-argmin pass and thereafter exists as m bytes
    per vector; each query ships only an ``m × k_codes`` lookup table of
    partial dot products, and scoring a vector is ``m`` table lookups — no
    floats, no shuffle, local top-k + tiny window merge exactly like
    :func:`topk_bruteforce`.

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
    import numpy as np

    spark = emb.sparkSession
    books = train_pq(emb, m=m, k_codes=k_codes, sample_rows=sample_rows, seed=seed)

    qrows = _collect_queries(emb, n_queries)
    if not qrows:
        return spark.createDataFrame([], "query_id long, neighbor_id long, score_c long, rnk long")
    qids = np.asarray([int(r["vec_id"]) for r in qrows])
    qraw = np.array([list(r["embedding"]) for r in qrows], dtype=np.float64)
    qnorms = np.linalg.norm(qraw, axis=1, keepdims=True)
    qnorms[qnorms == 0] = 1.0
    qmat = qraw / qnorms
    mm, kk, sub_d = books.shape
    # luts[q, j, c] = <q_sub_j, codebook[j][c]>; ADC score = sum_j luts[q, j, code_j]
    luts = np.einsum("qjd,jcd->qjc", qmat.reshape(len(qmat), mm, sub_d), books)
    # ONE broadcast, ONE Python pass (r18): the r17 shape ran pq_encode and
    # the ADC scorer as two chained mapInPandas stages — every corpus row
    # crossed the JVM↔Python boundary twice for what is one per-batch numpy
    # computation.  Codes and scores are the identical math
    # (_pq_codes_np + the same j-ordered LUT accumulation), and the
    # per-batch top emit is a deterministic superset of the global
    # top-``keep`` by (score desc, id asc), so the window output is
    # byte-identical at any Arrow batch layout.
    lut_bc = spark.sparkContext.broadcast((qids, luts, books))

    def encode_score_batches(batches):
        import numpy as np
        import pandas as pd

        q_ids, q_luts, books_v = lut_bc.value
        n_q, n_m, _ = q_luts.shape
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            codes = _pq_codes_np(mat / norms, books_v)
            # (q, batch): sum over subspaces of the per-code partials
            scores = np.zeros((n_q, len(ids)))
            for j in range(n_m):
                scores += q_luts[:, j, :][:, codes[:, j]]
            scaled = scores * 10000.0
            c_all = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
            out = []
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids, cand_c = ids[mask], c_all[qi][mask]
                # the per-batch cap must cover the GLOBAL keep (k, or the
                # rerank shortlist size) — a smaller cap silently truncates
                # the refine set when few Arrow batches exist
                top = min(len(cand_ids), max(keep, 64))
                if not top:
                    continue
                idx = np.argpartition(-cand_c, top - 1)[:top]
                idx = np.union1d(idx, np.nonzero(cand_c == cand_c[idx].min())[0])
                order = np.lexsort((cand_ids[idx], -cand_c[idx]))[:top]
                for i in order:
                    out.append((int(qid), int(cand_ids[idx[i]]), int(cand_c[idx[i]])))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "score_c"])

    keep = max(k, rerank)
    cands = _scaled(emb.select("vec_id", "embedding")).mapInPandas(
        encode_score_batches, "query_id long, neighbor_id long, score_c long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_c"), F.asc("neighbor_id"))
    shortlist = (
        cands.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= keep)
        .select("query_id", "neighbor_id", "score_c", "rnk")
    )
    if not rerank:
        return shortlist
    return _refine(emb, shortlist, qids, qraw, k)


def _refine(emb: DataFrame, shortlist: DataFrame, qids, qraw, k: int) -> DataFrame:
    """Exact-score ONLY the ADC shortlist (n_queries × rerank rows) against
    the float vectors — one broadcast join, the corpus never shuffles.
    ``qraw`` rows are the RAW (un-normalized) query vectors: the score uses
    the full ``dot(q,e)/(|q|·|e|)`` formulation — the SAME expression as
    the exact operators and the DuckDB oracle — because the algebraically
    equal pre-normalized variant (``dot(q̂,e)/|e|``) can differ in the last
    ulp and flip a ROUND at an x.5 boundary, a data-dependent flake in the
    oracle gate (r8 review)."""
    spark = emb.sparkSession
    qdf = spark.createDataFrame(
        [(int(qid), [float(v) for v in vec]) for qid, vec in zip(qids, qraw)],
        "query_id long, q_emb array<double>",
    )
    refined = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(F.broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "CAST(ROUND(10000.0 * "
                + _dot("q_emb", "embedding")
                + " / (sqrt("
                + _dot("q_emb", "q_emb")
                + ") * sqrt("
                + _dot("embedding", "embedding")
                + "))) AS BIGINT)"
            ).alias("score_c"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score_c"), F.asc("neighbor_id"))
    return (
        refined.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score_c", "rnk")
    )


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

    Scale shape: both quantizers train on bounded seeded samples; the
    corpus is encoded once (cell id + m-byte code) and thereafter the float
    vectors are touched only by the rerank's ~R-rows-per-query broadcast
    join.  Candidates meet in a broadcast equi-join on the cell id — the
    corpus never shuffles, and only ~n_probe/n_cells of its CODES are
    scored per query.  ``n_probe >= n_cells`` with ``rerank >= corpus``
    degenerates to exact brute force (the contract-test configuration).
    """
    import numpy as np

    spark = emb.sparkSession
    n_probe = resolve_n_probe(
        n_probe, emb.count() if n_probe == "auto" else 0, n_cells, k=k, rerank=rerank
    )
    sample = _train_sample_rows(emb, sample_rows, "embedding")
    cent = _train_centroids_from_rows(sample, n_cells, seed, "embedding")
    books = _train_pq_from_rows(sample, m, k_codes, seed, "embedding")

    qrows = _collect_queries(emb, n_queries)
    if not qrows:
        return spark.createDataFrame([], "query_id long, neighbor_id long, score_c long, rnk long")
    qids = np.asarray([int(r["vec_id"]) for r in qrows])
    qraw = np.array([list(r["embedding"]) for r in qrows], dtype=np.float64)
    qnorms = np.linalg.norm(qraw, axis=1, keepdims=True)
    qnorms[qnorms == 0] = 1.0
    qmat = qraw / qnorms
    mm, _, sub_d = books.shape
    luts = np.einsum("qjd,jcd->qjc", qmat.reshape(len(qmat), mm, sub_d), books)

    # probe cells with the RAW query vectors (same as topk_ivf): the coarse
    # quantizer was trained on raw vectors and the corpus is bucketed with
    # raw vectors, so probing with the L2-normalized copy would pick cells
    # in a different space and silently cost recall when corpus norms vary
    # (r8, ADVICE).  Normalization is only for the ADC LUTs, whose inner
    # products approximate cosine.
    d2 = (qraw**2).sum(axis=1, keepdims=True) - 2.0 * (qraw @ cent.T) + (cent**2).sum(axis=1)[None, :]
    probe = min(n_probe, cent.shape[0])
    cells = np.argsort(d2, axis=1)[:, :probe]

    keep = max(k, rerank)

    # ONE Python pass over the corpus (r18): the r17 shape ran THREE Arrow
    # stages (cell assign, PQ encode, ADC score) bridged by a broadcast
    # cell join — every corpus row crossed the JVM↔Python boundary three
    # times.  The fused scan assigns, encodes and scores each batch with
    # the identical numpy math (same expanded-distance argmin, same
    # j-ordered LUT accumulation, same probe-cell candidate set including
    # the self-exclusion), and emits each query's per-batch top by
    # (score desc, id asc) — a deterministic superset of the global
    # top-``keep``, so the window output is byte-identical at any Arrow
    # batch layout.  The trainers share one sample collect too (two
    # identical TakeOrdered jobs before).
    fused_bc = spark.sparkContext.broadcast((qids, luts, books, cent, cells))

    def fused_scan(batches):
        import numpy as np
        import pandas as pd

        q_ids, q_luts, books_v, cent_m, q_cells = fused_bc.value
        c2 = (cent_m**2).sum(axis=1)
        n_m = q_luts.shape[1]
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            d2b = (mat**2).sum(axis=1, keepdims=True) - 2.0 * (mat @ cent_m.T) + c2[None, :]
            cell = d2b.argmin(axis=1)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            codes = _pq_codes_np(mat / norms, books_v)
            out = []
            for qi, qid in enumerate(q_ids):
                mask = np.isin(cell, q_cells[qi]) & (ids != qid)
                if not mask.any():
                    continue
                cand_ids = ids[mask]
                cm = codes[mask]
                sc = np.zeros(len(cand_ids))
                for j in range(n_m):
                    sc += q_luts[qi, j, cm[:, j]]
                scaled = sc * 10000.0
                cand_c = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
                top = min(len(cand_ids), max(keep, 64))
                idx = np.argpartition(-cand_c, top - 1)[:top]
                idx = np.union1d(idx, np.nonzero(cand_c == cand_c[idx].min())[0])
                order = np.lexsort((cand_ids[idx], -cand_c[idx]))[:top]
                for i in order:
                    out.append((int(qid), int(cand_ids[idx[i]]), int(cand_c[idx[i]])))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "score_c"])

    cands_scored = _scaled(emb.select("vec_id", "embedding")).mapInPandas(
        fused_scan, "query_id long, neighbor_id long, score_c long"
    )
    w3 = Window.partitionBy("query_id").orderBy(F.desc("score_c"), F.asc("neighbor_id"))
    shortlist = (
        cands_scored.withColumn("rnk", F.row_number().over(w3).cast("long"))
        .filter(F.col("rnk") <= keep)
        .select("query_id", "neighbor_id", "score_c", "rnk")
    )
    if not rerank:
        return shortlist
    return _refine(emb, shortlist, qids, qraw, k)
