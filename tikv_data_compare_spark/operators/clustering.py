"""Distributed k-means clustering + SemDeDup-style semantic deduplication.

The clustering stage a 100 TB embedding pipeline needs twice: as the coarse
quantizer behind IVF-style ANN (similarity.py trains ITS cells on a driver
sample; this module is the full-corpus distributed trainer) and as the
bucketing step of SemDeDup (Abbas et al. 2023: cluster the corpus, then
search for semantic duplicates only WITHIN each cluster — turning an O(n²)
pairwise problem into k independent O((n/k)²) ones that a bucketed equi-join
executes with no cartesian product).

Bit-determinism (the property Spark MLlib's KMeans does not give you): a
naive distributed Lloyd update averages doubles, and a float sum's value
depends on partition merge order — reruns and engine twins drift.  Here the
update step accumulates CANON FIXED-POINT components (each embedding value
frozen to ROUND(x·1e5) — the same canon similarity.embedding_exact_dup
fingerprints with): integer sums are exact under any ordering, and the
centroid component is one correctly-rounded division s/n.  Every distance
then derives from exact integers and correctly-rounded divisions with an
identical expression tree in any engine — assignments are a pure function of
(data, k, n_iter), reproducible in SQL (the driver-contract oracle replays
both Lloyd rounds in DuckDB).

Scale shape per iteration: one map-side assignment pass (k fold-expressions
over the vector array — no shuffle, no UDF), one posexplode → (cluster, pos)
integer-sum aggregation (the only shuffle; k·dim result rows), one k·dim
driver collect (bounded: 4 KB for k=64, dim=64 — NOT corpus-sized).  The
final assignment runs map-side once more.  SemDeDup adds one cluster-keyed
self-join bounded by the largest cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from tikv_data_compare_spark.operators.similarity import _dot

#: canon fixed-point scale for embedding components (matches
#: similarity.embedding_exact_dup's fingerprint canon).
CANON_SCALE = 100000

#: k·dim above which ``assign_mode='auto'`` switches from the centroid-
#: literal SQL expression to the broadcast-numpy Arrow path.  The literal
#: expression grows ~25 bytes per centroid component — fine at the gated
#: k=64·dim=64 (≈100 KB of SQL), a plan-compile killer at SemDeDup-scale
#: k=10k·dim=768 (tens of MB).  RE-CALIBRATED r16 from 16384: at
#: k=160·dim=64 (k·dim 10,240 — under the old threshold) the literal
#: path measured 136–157 s for sf1 semantic_dedup where the broadcast
#: path measures 15–25 s — the interpreted 10k-term fold per row, not
#: the pair join, dominated.  4096 keeps exactly the gated geometries
#: (≤ 64·64, term-for-term DuckDB-replayable) literal and routes
#: everything bigger through the broadcast seam.
ASSIGN_LITERAL_MAX_KDIM = 4096

#: ``semantic_dedup(k='auto')``'s target vectors-per-cluster: cells stay
#: small enough that the within-cell pair join is linear in the corpus
#: (n·cell_target pairs total) while dense enough for near-dup recall —
#: the SemDeDup operating regime (the paper's LAION runs sit at ~10³
#: docs/cluster; 100 keeps the bench corpora's recall behavior while
#: bounding the quadratic term).
SEMDEDUP_CELL_TARGET = 100

#: row-block size for the broadcast assignment's per-batch matmul.  The
#: score matrix is rows×k float64; without blocking, a default 10k-row
#: Arrow batch at SemDeDup-scale k=10k would materialize ~800 MB per task.
#: Blocking at 1024 rows caps the scratch at ~8 MB·(k/1000) regardless of
#: Arrow batch size.
ASSIGN_ROW_BLOCK = 1024


def _canon_int_col(vec_col: str) -> str:
    """The vector frozen to canon fixed-point BIGINTs (exact in any engine)."""
    return (
        f"transform({vec_col}, x -> CAST(ROUND(CAST(x AS DOUBLE) * {CANON_SCALE}) AS BIGINT))"
    )


def _assign_expr(centroids: list[list[float]]) -> str:
    """argmin_j of (c_j·c_j − 2·v·c_j) over the canon fixed-point vector
    ``_vi`` — the ||v||² term is constant across centroids and dropped.

    Each centroid component is embedded as its shortest-roundtrip repr
    (parses back to the identical binary64); the dot product uses the same
    left-to-right fold as similarity.DOT, and ties break to the lowest
    cluster index via strict ``<`` comparison in ascending order.
    """
    scores = []
    for c in centroids:
        cc = repr(_python_dot(c, c))
        lit = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in c) + ")"
        dot = (
            f"aggregate(zip_with(_vi, {lit}, (x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        scores.append(f"(CAST({cc} AS DOUBLE) - 2.0 * {dot})")
    arr = "array(" + ", ".join(scores) + ")"
    # lowest index whose score equals the array minimum -> 0-based cluster id
    return (
        f"CAST(array_position({arr}, array_min({arr})) - 1 AS BIGINT)"
    )


def _python_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right float dot — the same accumulation order as the SQL fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _assign_broadcast(
    vi: DataFrame,
    centroids: list[list[float]],
    out_col: str = "_c",
    bc_out: list | None = None,
) -> DataFrame:
    """The scale path for centroid assignment: broadcast a (k, dim) numpy
    matrix and score each Arrow batch with row-blocked matmuls — the same
    seam IVF uses (similarity._ivf_corpus), so the plan carries a
    ~k·dim·8-byte broadcast instead of a k·dim-term SQL literal.

    Determinism: each row's assignment depends only on its own vector and
    the broadcast matrix — no cross-row accumulation, and the row-block
    boundaries don't change any per-row dot product — so reruns at any
    partitioning or Arrow batch size give identical ids ON A GIVEN
    (BLAS build, CPU arch).  ``c_j·c_j`` is precomputed with the SAME
    left-to-right fold as the literal path.  The v·c_j accumulation order
    inside one dot is the BLAS kernel's blocked order, which CAN differ
    across BLAS builds or ISA dispatch on a heterogeneous cluster — so the
    broadcast path's contract is determinism per (BLAS build, arch), not
    the literal path's engine-independent bit-determinism.  Exact-distance
    ties (possible on integer-lattice canon vectors) break to the lowest
    index in both paths, but a tie in one rounding regime may not be a tie
    in another.  For that reason every hash-gated oracle geometry stays on
    the literal path, which DuckDB replays term-for-term; the equivalence
    pytest pins agreement on fixed-seed corpora on this host.

    Memory: scores are computed in :data:`ASSIGN_ROW_BLOCK`-row blocks so
    peak scratch is block·k·8 bytes (~8 MB·k/1000), bounded independent of
    the Arrow batch size (a 10k-row batch at k=10k would otherwise need
    ~800 MB per task).

    The SparkContext broadcast handle is appended to ``bc_out`` (if given)
    so iterative callers can destroy consumed iterations' broadcasts
    instead of pinning k·dim·8 bytes per iteration on executors.
    """
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    cc = np.asarray([_python_dot(c, c) for c in centroids], dtype=np.float64)
    bc = vi.sparkSession.sparkContext.broadcast((cent, cc))
    if bc_out is not None:
        bc_out.append(bc)
    schema = T.StructType(list(vi.schema.fields) + [T.StructField(out_col, T.LongType())])

    def assign(batches):
        import numpy as np

        cent_m, cc_v = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_vi"]])
            ids = np.empty(len(mat), dtype=np.int64)
            for lo in range(0, len(mat), ASSIGN_ROW_BLOCK):
                blk = mat[lo : lo + ASSIGN_ROW_BLOCK]
                scores = cc_v[None, :] - 2.0 * (blk @ cent_m.T)
                ids[lo : lo + len(blk)] = scores.argmin(axis=1)
            out = pdf.copy()
            out[out_col] = ids
            yield out

    return vi.mapInPandas(assign, schema)


def _assign(
    vi: DataFrame,
    centroids: list[list[float]],
    mode: str = "auto",
    bc_out: list | None = None,
) -> DataFrame:
    """Route one assignment pass: ``'literal'`` embeds centroid literals in
    the plan (oracle-replayable, bounded geometries), ``'broadcast'`` ships
    them as a numpy broadcast (SemDeDup-scale k), ``'auto'`` switches on
    k·dim > :data:`ASSIGN_LITERAL_MAX_KDIM`."""
    if mode not in ("auto", "literal", "broadcast"):
        raise ValueError(f"assign_mode must be auto|literal|broadcast, got {mode!r}")
    kdim = len(centroids) * (len(centroids[0]) if centroids else 0)
    if mode == "broadcast" or (mode == "auto" and kdim > ASSIGN_LITERAL_MAX_KDIM):
        return _assign_broadcast(vi, centroids, bc_out=bc_out)
    return vi.withColumn("_c", F.expr(_assign_expr(centroids)))


def kmeans(
    emb: DataFrame,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_mode: str = "auto",
) -> tuple[DataFrame, list[list[float]]]:
    """Bit-deterministic distributed Lloyd over canon fixed-point vectors.

    Init: the ``k`` vectors with the smallest ids (deterministic, no RNG —
    callers wanting k-means++ variance can pre-shuffle ids by content hash).
    Each iteration assigns map-side against broadcast centroid literals and
    recomputes centroids from exact integer component sums (module
    docstring).  Empty clusters keep their previous centroid.

    Returns ``(assignments, centroids)``: assignments is
    ``(id_col, cluster)`` under the FINAL centroids; centroids are in canon
    fixed-point units (component = s/n of ROUND(x·1e5) values).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    vi = emb.select(
        F.col(id_col).alias("_id"), F.expr(_canon_int_col(vec_col)).alias("_vi")
    )
    centroids = _kmeans_centroids(vi, k, n_iter, assign_mode)
    out = _assign(vi, centroids, assign_mode).select(
        F.col("_id").alias(id_col), F.col("_c").alias("cluster")
    )
    return out, centroids


def _kmeans_centroids(
    vi: DataFrame, k: int, n_iter: int, assign_mode: str
) -> list[list[float]]:
    """The Lloyd training loop over a prepared ``(_id, _vi)`` frame —
    extracted (r18) so :func:`semantic_dedup` can obtain the trained
    centroids without :func:`kmeans` constructing a final-assignment frame
    it never executes (which, on the broadcast path, would ship an unused
    k·dim broadcast per call).  Bit-identical training: same seeding, same
    canon integer sums, same empty-cluster rule."""
    seed_rows = vi.orderBy("_id").limit(k).collect()  # k rows, bounded
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(seed_rows)}")
    centroids = [[float(x) for x in r["_vi"]] for r in seed_rows]
    for _ in range(n_iter):
        iter_bcs: list = []
        assigned = _assign(vi, centroids, assign_mode, bc_out=iter_bcs)
        sums = (
            assigned.select("_c", F.posexplode("_vi").alias("_pos", "_x"))
            .groupBy("_c", "_pos")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()  # k*dim rows, bounded
        )
        # this iteration's assignment is fully consumed by the collect —
        # free its centroid broadcast instead of pinning it for the session
        # (only the FINAL assignment's broadcast must outlive the return).
        for bc in iter_bcs:
            bc.destroy()
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(int(r["_c"]), {})[int(r["_pos"])] = (
                int(r["_s"]),
                int(r["_n"]),
            )
        centroids = [
            [by_cluster[j][p][0] / by_cluster[j][p][1] for p in range(len(centroids[j]))]
            if j in by_cluster
            else centroids[j]  # empty cluster: keep previous centroid
            for j in range(k)
        ]
    return centroids


#: j-side block budget for the numpy pair scorer: blocks are m×B float64
#: score matrices, capped near 32 MB regardless of cluster size.
_PAIR_BLOCK_CELLS = 1 << 22


def _semdedup_dropped_numpy(v: DataFrame, threshold_c: int) -> DataFrame:
    """The dropped-id set of the SemDeDup pair stage, computed per cluster
    in numpy — bit-identical to the SQL shape
    ``a ⋈ b ON cluster WHERE _ida < _idb AND
    CAST(ROUND(10000·dot/( _na·_nb)) AS BIGINT) >= threshold_c``
    for ``threshold_c >= 1`` (the caller guards).  Exactness argument:

    - the dot product accumulates PER DIMENSION, left to right
      (``acc += A[:,i] * B[:,i]``) — element-wise IEEE multiply/add in
      exactly the SQL fold's order (no BLAS, no pairwise re-association),
      so every pair's dot is the same binary64;
    - ``_nrm`` is computed JVM-side (the r18 hoist) and shipped through
      Arrow unchanged; ``r = (10000.0 · dot) / (nrm_a · nrm_b)`` repeats
      the SQL expression's operation order element-wise;
    - Spark's ROUND on double is BigDecimal HALF_UP on the shortest
      decimal repr; for an integer threshold t >= 1,
      ``ROUND(r) >= t  ⟺  r >= t − 0.5`` as a BINARY comparison (t − 0.5
      is exactly representable, and a shortest-repr decimal can only sit
      on the boundary when the double IS the boundary), so no rounding is
      replicated at all — the verdict is one float compare;
    - non-finite corners match: r = NaN (null elements → Arrow NaN, zero
      norms → 0/0, NaN data) fails the ``>=`` in both engines once
      t >= 1 (SQL: NULL comparison, or CAST(NaN)=0 < t); r = +Inf passes
      both (CAST = Long.MAX); −Inf fails both;
    - NULL vectors are inert on both sides (SQL dot is NULL), and pairs
      of DIFFERENT lengths are inert (``zip_with`` NULL-pads), so rows
      are scored within same-length groups only.

    Scale shape: one exchange of the corpus (groupBy cluster) — the SQL
    join shuffled both sides — and one Arrow crossing; within a cluster
    the j-side is processed in ~32 MB score blocks, so peak scratch is
    bounded regardless of cluster size (cluster-size SKEW remains the k
    knob's job, as with the join, but AQE's skew-join splitting does not
    apply to a grouped map — another reason ``k='auto'`` is the default).
    """
    import pandas as pd  # noqa: F401 — executor-side import is the real one

    def score(pdf):
        import numpy as np
        import pandas as pd

        if pdf.empty:
            return pd.DataFrame({"_id": pd.Series([], dtype="int64")})
        pdf = pdf.sort_values("_id")
        ids_all = pdf["_id"].to_numpy()
        cells = pdf["_v"].tolist()
        nrm_all = pdf["_nrm"].to_numpy(dtype="float64", na_value=float("nan"))
        by_len: dict = {}
        for pos, cell in enumerate(cells):
            if cell is None:
                continue
            by_len.setdefault(len(cell), []).append(pos)
        thr_bound = float(threshold_c) - 0.5
        dropped: list = []
        for dim, poss in by_len.items():
            m = len(poss)
            if m < 2:
                continue
            ids = ids_all[poss]  # ascending: pdf sorted, positions ordered
            mat = np.stack([np.asarray(cells[p], dtype=np.float64) for p in poss])
            nrm = nrm_all[poss]
            blk = max(1, min(2048, _PAIR_BLOCK_CELLS // m))
            for lo in range(1, m, blk):
                hi = min(lo + blk, m)
                acc = np.zeros((m, hi - lo), dtype=np.float64)
                for d_i in range(dim):
                    acc += mat[:, d_i : d_i + 1] * mat[lo:hi, d_i][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    r = (10000.0 * acc) / (nrm[:, None] * nrm[lo:hi][None, :])
                earlier = np.arange(m)[:, None] < np.arange(lo, hi)[None, :]
                hit = ((r >= thr_bound) & earlier).any(axis=0)
                if hit.any():
                    dropped.extend(ids[lo:hi][hit].tolist())
        return pd.DataFrame({"_id": pd.Series(dropped, dtype="int64")})

    return (
        v.select("_id", "_v", "_nrm", "cluster")
        .groupBy("cluster")
        .applyInPandas(score, "_id long")
    )


def semantic_dedup(
    emb: DataFrame,
    k: "int | str" = "auto",
    n_iter: int = 2,
    threshold_c: int = 9500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_mode: str = "auto",
) -> DataFrame:
    """SemDeDup: k-means-bucketed semantic near-duplicate removal.

    Clusters the corpus with :func:`kmeans`, then drops every vector that
    has a SMALLER-id neighbor in the SAME cluster with scaled cosine ≥
    ``threshold_c`` (cosine over the raw double vectors, ROUND(×10000) —
    the same verify canon as similarity.embedding_near_dup; keep-lowest-id
    is the deterministic stand-in for the paper's keep-farthest-from-
    centroid, which ties to float centroid geometry).

    Returns one verdict row per vector: ``(id_col, cluster, kept)``.

    Scale shape: the pairwise search never leaves a cluster — a self
    equi-join on the cluster id, O(Σ|cluster|²) with no cartesian product;
    cluster-size skew is the k knob's job plus AQE skew-join splitting.
    Cross-cluster duplicates are invisible by design — that recall trade
    IS SemDeDup's contract, and the LSH path (embedding_near_dup) remains
    the cluster-free alternative.

    ``k='auto'`` (r16; the DEFAULT since r17) — the scale geometry: resolves
    ``k = ceil(n / SEMDEDUP_CELL_TARGET)`` from one corpus count, so the
    within-cell pair term stays LINEAR in the corpus (n·cell_target
    pairs) instead of quadratic at a fixed k.  Measured at sf1
    (20k vectors): fixed k=16 costs 147 s (12.5M pairs); auto (k=200,
    broadcast assignment) costs ~8 s — ×10-data factor 1.4 vs sf0.1.
    The resolution is EAGER (one count job).  ``'auto'`` became the
    DEFAULT in r17 (VERDICT r16 finding 1): a fixed default k meant a
    naive ``semantic_dedup(emb)`` on a 100× corpus silently got the
    quadratic path (measured ×25.6 wall at sf1 vs ×1.9 for auto) —
    fixed k is now the explicit opt-in for callers pinning a geometry
    (the gated driver row, bit-reproducibility across corpus sizes).
    Pairs-vs-assignment trade,
    measured: at fixed cell size both terms are linear; pushing k high
    on the LITERAL assign path instead recreates the cost in the plan
    (the ASSIGN_LITERAL_MAX_KDIM note) — 'auto' assign_mode handles
    that switch.
    """
    if k == "auto":
        n = emb.count()
        k = max(1, -(-n // SEMDEDUP_CELL_TARGET))
    elif not isinstance(k, int):
        raise ValueError(f"k must be an int or 'auto', got {k!r}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    # r18: assign the FINAL centroids inline on a frame that already carries
    # the double vector — the r17 shape joined kmeans' assignment frame back
    # to emb on the id (one extra Exchange of the vectors plus a second
    # full assignment subtree per join branch).  The assignment is a pure
    # per-row function of (vector, centroids), so inlining is the identical
    # computation minus the join.  The per-vector NORM is hoisted here too:
    # sqrt(Σx²) evaluated once per VECTOR instead of twice per PAIR — the
    # same expression tree on the same doubles, so every pair's rounded
    # cosine is bit-identical while the pair stage runs one HOF fold
    # (the dot) instead of three.
    # carry the RAW vector through the assignment (not the doubled copy):
    # the broadcast-path assignment is a mapInPandas, which ships every
    # column across the Python boundary — the raw float array is half the
    # bytes of the array<double> projection, which is derived AFTER the
    # assignment in the JVM instead
    vi = emb.select(
        F.col(id_col).alias("_id"),
        F.expr(_canon_int_col(vec_col)).alias("_vi"),
        F.col(vec_col).alias("_raw"),
    )
    # train on the (_id, _vi) projection — the extra _raw column is pruned
    # out of every iteration subtree by Catalyst, so training is the
    # byte-identical kmeans() loop
    cents = _kmeans_centroids(vi.select("_id", "_vi"), k, n_iter, assign_mode)
    v = _assign(vi, cents, assign_mode).select(
        "_id",
        F.expr("transform(_raw, x -> CAST(x AS DOUBLE))").alias("_v"),
        F.col("_c").alias("cluster"),
    ).withColumn("_nrm", F.expr("sqrt(" + _dot("_v", "_v") + ")"))
    if int(threshold_c) >= 1:
        # r19 (VERDICT r18 task 4): the pair stage runs as ONE
        # cluster-grouped Arrow pass (applyInPandas) instead of the
        # cluster-keyed self-join + interpreted HOF fold per pair — each
        # vector crosses one exchange ONCE (the join shuffled both sides)
        # and the per-pair dot runs vectorized in numpy with the IDENTICAL
        # left-to-right accumulation (guide §4.2).  Verdict-exactness is
        # argued in _semdedup_dropped_numpy's docstring and pinned by a
        # full-output parity sweep vs this SQL shape
        # (OPTIMIZATION_r19.md §3).  threshold_c <= 0 keeps the
        # SQL join: there Spark drops NaN-cosine pairs (NaN-data vectors,
        # CAST(NaN AS BIGINT) = 0 >= thr) while Arrow's null/NaN conflation
        # can't reproduce that corner bit-for-bit.
        dropped = _semdedup_dropped_numpy(v, int(threshold_c))
    else:
        a = v.select(
            F.col("_id").alias("_ida"), F.col("_v").alias("_va"),
            F.col("_nrm").alias("_na"), "cluster",
        )
        b = v.select(
            F.col("_id").alias("_idb"), F.col("_v").alias("_vb"),
            F.col("_nrm").alias("_nb"), "cluster",
        )
        cos = (
            "CAST(ROUND(10000.0 * " + _dot("_va", "_vb") + " / "
            "(_na * _nb)) AS BIGINT)"
        )
        dropped = (
            a.join(b, "cluster")
            .filter(F.col("_ida") < F.col("_idb"))
            .withColumn("_cos", F.expr(cos))
            .filter(F.col("_cos") >= F.lit(threshold_c))
            .select(F.col("_idb").alias("_id"))
            .distinct()
        )
    return (
        v.join(dropped.withColumn("_dropped", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("cluster"),
            F.when(F.col("_dropped").isNotNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("kept"),
        )
    )
