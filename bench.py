#!/usr/bin/env python
"""Benchmark harness: headline operator wall-clock at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Queries benched are the engine's headline operators at their fast settings
(xxhash64 checksum — the md5 oracle mode exists for correctness checking,
not throughput; keyed diff; hex export; minhash near-dup; cosine top-k;
sessionization).

EVALUATION FORCING (r16 — VERDICT r15 finding 1): every entry is forced
through a full-column canon aggregate, ``bit_xor(xxhash64(<all output
columns>))`` — never ``.count()``.  The r15 audit showed ``.count()`` lets
Catalyst prune map-side operators entirely: ``text_stats(...).count()``,
``q_asof_join(...).count()`` and ``dedup_lines(...).count()`` optimized to
``Aggregate [count(1)] <- Project [] <- Relation parquet`` (a parquet
row-count, timing nothing), ``dedup_simhash`` to a bare ``doc_id`` scan and
``export_hex`` to the bucket-join skeleton without the hex projection /
row_number window.  Hashing every output column makes pruning impossible by
construction: Catalyst must materialize each column to feed the hash.
``tests/test_bench_forcing.py`` pins this (no count(1)-only plans; every
output column referenced in the optimized forced plan).  BASELINE.md bands
for the five formerly-pruned entries were recalibrated r16; the r15 sf1
x10 factors for them are withdrawn as measurement artifacts.

Each query is timed as the MIN of N runs: at sub-second operator scale the
first execution is dominated by whole-stage-codegen compilation and JVM JIT
(observed 11.6s cold vs 0.9s steady-state for the same checksum plan), which
measures the JVM, not the operator.  The min isolates steady-state operator
cost — the number that scales to a long-lived cluster.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def forced(df):
    """Canon-aggregate frame that forces FULL evaluation of ``df``.

    ``bit_xor(xxhash64(c1, ..., cn))`` over every output column: order-
    insensitive, overflow-free (XOR, unlike SUM, can't hit ANSI overflow),
    and — the point — unprunable: Catalyst must compute every column of
    every row to produce the hash, so the whole operator executes."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c}`" for c in df.columns)
    return df.select(F.expr(f"bit_xor(xxhash64({cols}))").alias("canon"))


def run_forced(df) -> None:
    forced(df).collect()


def proc_tree_cpu_sec(root: int | None = None) -> float:
    """utime+stime of THIS process + every live descendant (the JVM),
    from /proc — the sibling-pollution-proof cpu metric (r16; module-level
    since r17 so tests can gate its invariants directly).

    MAX OF TWO SCANS (r17): a single /proc walk can only UNDERCOUNT —
    every per-pid counter is monotone and each pid is summed at most
    once, so the only error mode is a miss (a transient stat-read
    failure or a ppid-chain break dropping a live descendant, worst
    case the JVM itself and ALL its accumulated cpu: the first sf1 r17
    run lost 1374 cpu-s in one sample exactly this way).  Overcount is
    impossible, so ``max(scan, scan)`` strictly dominates one scan;
    bench's timing loop additionally RESAMPLES when a window delta
    comes back negative (see the anomaly guard there).

    An A/B measurement (BASELINE.md, "cgroup cpu is NOT sibling-proof")
    showed the cgroup counter (container_cpu_sec in main) has a hole: it
    is CONTAINER-wide, so any sibling process running during a timed
    query (a concurrent pytest or load generator) inflates
    the per-query delta ~1:1 — measured: 8 in-container burners added
    exactly their burn (16.4 vs 8.3 cpu-s) to the cgroup delta while
    this metric stayed flat.  Attribution doctrine: use cpu_proc_sec
    for regression-vs-contention calls; cgroup cpu_sec is kept for
    series continuity and as the whole-container sanity bound."""
    if root is None:
        root = os.getpid()
    return max(_proc_tree_cpu_scan(root), _proc_tree_cpu_scan(root))


class ProcTreeCpuMeter:
    """Stateful MONOTONE cpu meter for this process tree (r17).

    The stateless scan has a proven unfixable hole: PySpark's idle-worker
    reaper kills Python UDF workers ~60 s after their last task, and the
    pyspark daemon auto-reaps them with SIGCHLD ignored — POSIX then
    credits their cpu to NOBODY (no cutime anywhere), so it simply
    vanishes from every instantaneous /proc walk.  Measured: the sf1
    suite's workers carried ~800 cpu-s; whichever entry happened to span
    the 60-s idle boundary ate a negative delta that size
    (BENCH_sf1 r17 run A: diff_full_1pct −1374; run B: −821 — a one-off
    probe watched 16 workers leave the tree with zero cutime growth).

    The meter samples the live tree and REMEMBERS every (pid, starttime)
    it has seen with its last cpu reading; when one disappears (or its
    starttime changes — pid reuse), its last-seen cpu moves to a
    ``departed`` tally that the total keeps forever.  A worker killed
    mid-window therefore contributes exactly its pre-window cpu to both
    window edges — delta clean, nothing negative.  A transient scan miss
    that resurrects (same pid+starttime reappears) is pulled back out of
    the tally, so no double count.

    r18 (ADVICE): the meter's per-pid reading is utime+stime ONLY — the
    departed tally is the single accounting path for EVERY exit, reaped
    or auto-reaped.  Previously the scan also summed cutime+cstime, so a
    descendant reaped WITH accounting (parent wait()s — daemon restarts,
    JVM-forked helpers) was counted twice: once in the tally (last-seen
    cpu) and again, forever, in its parent's cutime.  The trade: a child
    that is spawned, burns, and is accounted-reaped entirely BETWEEN two
    samples is now invisible (it never entered the tally and its cutime
    is ignored) — a bounded undercount in a window the meter never saw,
    vs a permanent overcount; the kernel-auto-reap case (pyspark's
    SIGCHLD-ignored workers) loses that window's tail in both designs.
    tests/test_bench_cpu_metric.py pins the accounted-reap delta ≈ 1×."""

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()
        self._last: dict[int, tuple[int, float]] = {}
        self._departed: dict[tuple[int, int], float] = {}

    def sample(self) -> float:
        a = _proc_tree_cpu_scan_full(self.root)
        b = _proc_tree_cpu_scan_full(self.root)
        live: dict[int, tuple[int, float]] = dict(a)
        for pid, (st, c) in b.items():
            prev = live.get(pid)
            if prev is None or (prev[0] == st and c > prev[1]):
                live[pid] = (st, c)
        for pid, (st, c) in self._last.items():
            cur = live.get(pid)
            if cur is None or cur[0] != st:
                self._departed[(pid, st)] = c
        for pid, (st, _) in live.items():
            self._departed.pop((pid, st), None)
        self._last = live
        return sum(c for _, c in live.values()) + sum(self._departed.values())


def _proc_tree_cpu_scan_full(root: int) -> dict[int, tuple[int, float]]:
    """One /proc walk → {pid: (starttime, cpu_sec)} for the root's tree.

    utime+stime ONLY (no cutime/cstime): this scan feeds the stateful
    ProcTreeCpuMeter, whose departed tally accounts for every exit path —
    adding cutime here double-counts any accounted-reaped descendant
    (tally + parent cutime; see the meter docstring, r18 ADVICE fix)."""
    hz = os.sysconf("SC_CLK_TCK")
    ppid_map: dict[int, int] = {}
    info: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw.rsplit(")", 1)[1].split()
        ppid_map[int(d)] = int(rest[1])
        info[int(d)] = (
            int(rest[19]),  # starttime — the (pid, starttime) identity key
            (int(rest[11]) + int(rest[12])) / hz,
        )
    mine: dict[int, tuple[int, float]] = {}
    for pid in info:
        p, seen = pid, set()
        while p > 1 and p not in seen:
            if p == root:
                mine[pid] = info[pid]
                break
            seen.add(p)
            p = ppid_map.get(p, 1)
    return mine


def _proc_tree_cpu_scan(root: int) -> float:
    """One /proc walk (see proc_tree_cpu_sec for the max-of-2 rationale)."""
    hz = os.sysconf("SC_CLK_TCK")
    ppid_map: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw.rsplit(")", 1)[1].split()
        ppid_map[int(d)] = int(rest[1])
        # utime+stime of the live process PLUS cutime+cstime (cpu of
        # its REAPED children — accumulated at reap time, so a worker
        # dying mid-measurement moves from the live sum into its
        # parent's cutime instead of vanishing; without these two the
        # delta can go NEGATIVE, observed on the sf1 tfidf entry in
        # BENCH_sf1_r16; tests/test_bench_cpu_metric.py pins the fix)
        cpu[int(d)] = (
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        ) / hz
    total = 0.0
    for pid in cpu:
        p, seen = pid, set()
        while p > 1 and p not in seen:
            if p == root:
                total += cpu[pid]
                break
            seen.add(p)
            p = ppid_map.get(p, 1)
    return total


#: per-entry wall-clock bands at sf0.1 (BASELINE.md; recalibrated r16 for
#: the canon-hash forcing).  Module-level so tests/test_bench_forcing.py can
#: pin band<->entry key parity — a new bench entry must ship with a band.
BANDS = {
    "checksum_compare_xxh": (0.8, 4.0),
    "diff_keyed": (0.4, 1.8),
    "export_hex": (0.3, 2.5),
    "dedup_minhash_pairs": (0.4, 4.0),
    "dedup_simhash": (0.3, 2.0),
    "similarity_topk": (0.3, 1.2),
    "text_stats": (0.2, 1.5),
    "sessionize": (0.4, 1.6),
    "asof_join": (0.4, 2.0),
    "join_region_revenue": (0.8, 2.0),
    "funnel_gaps": (0.7, 2.2),
    "tfidf": (0.5, 2.5),
    "repair_plan": (0.5, 2.2),
    "price_histogram": (0.2, 0.8),
    "targeted_diff_1pct": (0.5, 3.0),
    "diff_full_1pct": (0.3, 1.5),
    # r18: the gated row now runs the self_dedup_trim transform in-funnel
    # (VERDICT r17 task 5) — span surgery over the template-degenerate
    # fixture where most docs genuinely share 24-char spans; solo measured
    # 13.6 s at sf0.1 (was ~4.1 s without the trim)
    "curation_pipeline": (2.0, 18.0),
    "topk_pq_rerank": (0.8, 6.0),
    "topk_ivfpq": (1.0, 6.0),
    "topk_ivfpq_join": (1.0, 7.0),
    "dedup_lines": (0.3, 2.5),
    "bm25": (0.8, 4.0),
    # r16: the canon-hash forcing executes semdedup's full output
    # columns (count() pruned part of the plan through r15) — solo
    # min-of-3 measured 6.1-7.5 s under the new forcing
    "semdedup": (1.5, 9.0),
    "semdedup_auto": (1.5, 9.0),
    "bpe_tokens": (0.2, 3.0),
    "dsir_sample": (1.5, 12.0),
    "quality_classifier": (1.0, 10.0),
}



def build_benches(spark, sf_dir: str):
    """name -> zero-arg thunk returning the operator's OUTPUT DataFrame.

    Split from main() so tests/test_bench_forcing.py can audit the exact
    plans the bench times (the r15 lesson: audit the forced plan, not the
    operator's)."""
    from pyspark.sql import functions as F

    from tikv_data_compare_spark import queries as q
    from tikv_data_compare_spark import queries_ext as qe
    from tikv_data_compare_spark import queries_more as qm
    from tikv_data_compare_spark.model import Keyed
    from tikv_data_compare_spark.operators import clustering as clu
    from tikv_data_compare_spark.operators import dedup as dd
    from tikv_data_compare_spark.operators import sampling as sp
    from tikv_data_compare_spark.operators import similarity as sim
    from tikv_data_compare_spark.operators import text as tx
    from tikv_data_compare_spark.operators.checksum import compare_checksum
    from tikv_data_compare_spark.operators.diff import diff, targeted_diff
    from tikv_data_compare_spark.operators.scan import export_hex

    lineitem = q._load(spark, sf_dir, "lineitem")
    orders = q._load(spark, sf_dir, "orders")
    documents = q._load(spark, sf_dir, "documents")
    embeddings = q._load(spark, sf_dir, "embeddings")

    li_keyed = Keyed.of(lineitem, keys=("l_orderkey", "l_linenumber"))
    li_mut = Keyed.of(
        lineitem.withColumn(
            "l_quantity",
            F.when(F.col("l_orderkey") % 97 == 0, F.col("l_quantity") + 1).otherwise(
                F.col("l_quantity")
            ),
        ),
        keys=("l_orderkey", "l_linenumber"),
    )
    ord_src = Keyed.of(orders, keys=("o_orderkey",))
    ord_dst = Keyed.of(q.mutated_orders(spark, sf_dir), keys=("o_orderkey",))

    # targeted_diff scenario: drift localized to ONE contiguous 1% key range
    # (the "one region drifted" ops case the operator exists for).  Bucket =
    # 256 equal key ranges, so ~3 buckets mismatch and the row join reads
    # ~1% of the data.  max(o_orderkey) is bench setup, not a timed query.
    okmax = orders.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
    drift_hi = okmax // 100
    drifted = Keyed.of(
        orders.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") <= drift_hi, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        ),
        keys=("o_orderkey",),
    )
    bucket_expr = F.floor(F.col("o_orderkey") / F.lit(max(1, okmax // 256)))

    return {
        "checksum_compare_xxh": lambda: compare_checksum(li_keyed, li_mut),
        "diff_keyed": lambda: diff(ord_src, ord_dst),
        "export_hex": lambda: export_hex(ord_src),
        "dedup_minhash_pairs": lambda: dd.minhash_pairs(
            documents, "doc_id", "text", algo="xxhash64"
        ),
        "dedup_simhash": lambda: dd.simhash(documents, "doc_id", "text", algo="xxhash64"),
        "similarity_topk": lambda: sim.topk_bruteforce(embeddings, k=5, n_queries=10),
        "text_stats": lambda: tx.text_stats(documents),
        "sessionize": lambda: q.q_events_sessionize(spark, sf_dir),
        "asof_join": lambda: q.q_asof_join(spark, sf_dir),
        "join_region_revenue": lambda: q.q_join_region_revenue(spark, sf_dir),
        "funnel_gaps": lambda: qm.q_events_funnel_gaps(spark, sf_dir),
        # the operator ALONE — the q_text_tfidf registry row has unioned
        # top_bigrams since r6, which made the r6 bench number (+14%) measure
        # both branches; benching tfidf_top_terms directly keeps the series
        # comparable with r5 and earlier (BASELINE.md note)
        "tfidf": lambda: tx.tfidf_top_terms(
            documents.select("doc_id", "text"), "doc_id", "text", k=3
        ),
        "repair_plan": lambda: qm.q_diff_repair(spark, sf_dir),
        "price_histogram": lambda: qm.q_price_histogram(spark, sf_dir),
        "targeted_diff_1pct": lambda: targeted_diff(ord_src, drifted, bucket_expr),
        "diff_full_1pct": lambda: diff(ord_src, drifted),
        # the compressed-ANN paths (r8): PQ codes + ADC with exact rerank of
        # the top-100 shortlist, and the composed IVFPQ layout probing 1/4 of
        # the cells — the 100 TB memory/selectivity shapes.  Recall vs exact
        # brute force is measured (untimed) and reported alongside.
        "topk_pq_rerank": lambda: sim.topk_pq(
            embeddings, k=5, n_queries=10, m=8, k_codes=32, rerank=100
        ),
        "topk_ivfpq": lambda: sim.topk_ivfpq(
            embeddings, k=5, n_queries=10, n_cells=16, n_probe=4, m=8, k_codes=32, rerank=100
        ),
        # the DataFrame-query join path (r8): 100 queries streamed as a
        # DataFrame (no driver collect), selective probe + rerank — the
        # query-side shape past the 16k broadcast ceiling
        "topk_ivfpq_join": lambda: sim.topk_ivfpq_join(
            embeddings,
            embeddings.filter(F.col("vec_id") < 100).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=5, n_cells=16, n_probe=4, m=8, k_codes=32, rerank=100,
        ),
        # r10 additions: the corpus-level line dedup (C4 boilerplate strip)
        # over the planted-footer corpus (the registry-row workload), BM25
        # retrieval for the fixed 3-query set, and SemDeDup at the operating
        # geometry a 2k-vector corpus wants (k=16 -> ~125-vector clusters,
        # ~125k within-cluster pairs; 2 Lloyd rounds).
        "dedup_lines": lambda: dd.dedup_lines(
            documents.select("doc_id", F.expr(qe.LINE_SYNTH).alias("t2")), "doc_id", "t2"
        ),
        "bm25": lambda: tx.bm25_topk(
            documents.select("doc_id", "text"),
            spark.createDataFrame(list(qm.BM25_QUERIES), "query_id long, qtext string"),
            k=5,
        ),
        "semdedup": lambda: clu.semantic_dedup(embeddings, k=16, n_iter=2, threshold_c=3000),
        # r16: the SCALE geometry — k='auto' (ceil(n/100) cells, broadcast
        # assignment above the literal threshold) keeps the within-cell
        # pair term linear in the corpus; the fixed-k entry above stays as
        # the published series datapoint (and the honest quadratic shape)
        "semdedup_auto": lambda: clu.semantic_dedup(
            embeddings, k="auto", n_iter=2, threshold_c=3000
        ),
        # r10: trained byte-level BPE end-to-end — learn 48 merges from the
        # corpus's top-256 word-frequency table (one agg + bounded collect +
        # driver loop), then count every doc's subword tokens with the
        # map-side nested-HOF fold (zero shuffle)
        "bpe_tokens": lambda: tx.bpe_token_count(
            documents.select("doc_id", "text"),
            tx.train_bpe_merges(documents.select("doc_id", "text")),
        ),
        "curation_pipeline": lambda: qe.q_curation_pipeline(spark, sf_dir),
        # r12: DSIR importance resampling — two bounded bucket-count aggs
        # (broadcast), map-side feature scoring, deterministic exponential
        # rejection; target = the corpus's English docs.  algo='xxhash64'
        # since r14: the bench measures the throughput fast path (the
        # minhash/checksum convention — checksum_compare_xxh vs the md5
        # oracle mode); the driver gate's `sampling` rows keep md5i64
        "dsir_sample": lambda: sp.dsir_sample(
            documents.select("doc_id", "text"),
            documents.filter(F.col("lang") == "en").select("doc_id", "text"),
            tau_c=0, n_buckets=4096, algo="xxhash64",
        ),
        # r16: the model-based quality classifier (registry swap tenant) —
        # NB bucket weights + driver-trained logistic threshold at the
        # bench geometry (4096 buckets, xxhash64 fast path; the driver
        # gate's row runs 512/md5i64)
        "quality_classifier": lambda: sp.quality_classifier(
            documents.select("doc_id", "text"),
            documents.filter(F.col("lang") == "en").select("text"),
            n_buckets=4096, algo="xxhash64",
        ),
    }


def main():
    from pyspark.sql import functions as F

    from tikv_data_compare_spark.operators import similarity as sim
    from tikv_data_compare_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("bench", cpus=cpus)

    from tikv_data_compare_spark import queries as q

    embeddings = q._load(spark, sf_dir, "embeddings")

    # warm the JVM/codegen once so bench numbers measure the operators
    q._load(spark, sf_dir, "lineitem").limit(1).count()

    benches = build_benches(spark, sf_dir)

    debug = os.environ.get("SPARK_GRAFT_BENCH_DEBUG", "") not in ("", "0")
    order = os.environ.get("SPARK_GRAFT_BENCH_ORDER", "")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    names = list(benches)
    if order == "reverse":
        names = names[::-1]
    elif order:
        names = [n for n in order.split(",") if n in benches]
    if only:
        names = [n for n in only.split(",") if n in benches]

    # Inter-query hygiene, in order:
    #   1. Python gc.collect() detaches dead py4j proxies, releasing the JVM
    #      objects they pin — without it, JVM GC can't reclaim them and old-gen
    #      pressure grows over the session;
    #   2. System.gc() then compacts *outside* the timed region.  Caveat
    #      (observed, r5 band-breach post-mortem): if an Arrow JNI critical
    #      section holds the GCLocker, the full GC is DEFERRED and lands inside
    #      the next timed run ("Retried waiting for GCLocker too often" in the
    #      JVM log).  Min-of-3 exists to discard such a stalled run — one
    #      deferred GC can't poison all three.

    def loadavg_1m() -> float:
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except (OSError, ValueError):
            return -1.0

    def container_cpu_sec() -> float:
        """This container's cumulative CPU seconds (cgroup v1 or v2).

        The per-query DELTA separates contention from regression in a way
        loadavg cannot (our own 32-thread bursts inflate load): if a query's
        wall time grows but its CPU seconds stay flat, the machine was taken
        from us; if CPU grew too, the plan is doing more work.  CAVEAT
        (r16, proven): counts SIBLING processes in the container too — see
        proc_tree_cpu_sec above for the clean per-query attribution."""
        try:  # cgroup v1
            with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as f:
                return int(f.read()) / 1e9
        except (OSError, ValueError):
            pass
        try:  # cgroup v2
            with open("/sys/fs/cgroup/cpu.stat") as f:
                for line in f:
                    if line.startswith("usage_usec"):
                        return int(line.split()[1]) / 1e6
        except (OSError, ValueError):
            pass
        return -1.0

    # One untimed warm-up of the HEAVIEST plan before anything is timed:
    # the 9-run A/B (BASELINE.md r7 warmth probe) showed JIT/codegen warmth
    # moves identical plans 28-76s -> 5.6s — bigger than any knob measured.
    # The limit(1) warm-up above compiles the session, not the operators;
    # executing the full curation plan once compiles its ~190 generated
    # classes, and get_spark's 2000-entry generated-code cache keeps them
    # for the timed runs (Spark's default of 100 entries would not hold
    # them), so min-of-N measures a warm plan.
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") not in ("", "0"):
        run_forced(benches["curation_pipeline"]())

    # ANN quality guardrail (untimed): recall@5 of the compressed paths vs
    # exact brute force, so a quantization/probe regression is visible in
    # the bench record, not just wall-clock
    exact5 = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(embeddings, k=5, n_queries=10).collect()
    }
    recall = {}
    for rname, rdf in (
        ("topk_pq_rerank", sim.topk_pq(embeddings, k=5, n_queries=10, m=8, k_codes=32, rerank=100)),
        ("topk_ivfpq", sim.topk_ivfpq(embeddings, k=5, n_queries=10, n_cells=16, n_probe=4, m=8, k_codes=32, rerank=100)),
        # the auto-probe heuristic at the same geometry: sizes n_probe from
        # corpus/cell density (resolve_n_probe), closing the sparse-cell
        # under-probing gap the fixed n_probe=4 entry documents
        ("topk_ivfpq_autoprobe", sim.topk_ivfpq(embeddings, k=5, n_queries=10, n_cells=16, n_probe="auto", m=8, k_codes=32, rerank=100)),
    ):
        got = {(r["query_id"], r["neighbor_id"]) for r in rdf.collect()}
        recall[rname] = round(len(exact5 & got) / max(len(exact5), 1), 3)

    # recall floor bands (BASELINE.md §"ANN recall floors"): a quantization
    # or probe regression must fail LOUD here, not hide inside a green
    # wall-clock.  Floors are at the fixed seeds/geometry above.
    recall_floors = {
        "topk_pq_rerank": 0.70,
        "topk_ivfpq": 0.40,
        "topk_ivfpq_autoprobe": 0.70,
    }
    recall_breach = sorted(
        name for name, floor in recall_floors.items() if recall.get(name, 0.0) < floor
    )
    for name in recall_breach:
        print(
            f"[bench] RECALL BREACH: {name} recall@5 {recall[name]} < floor "
            f"{recall_floors[name]} (BASELINE.md ANN recall floors)",
            file=sys.stderr,
        )

    timings = {}
    cpu_sec: dict[str, float] = {}
    cpu_proc_sec: dict[str, float] = {}
    # impossible-value guard (r17, VERDICT r16 task 3): a NEGATIVE
    # proc-tree delta means the metric lost cpu between samples — the
    # pre-cutime r16 hole was a worker reaped mid-window (its utime
    # vanished from the live sum; BENCH_sf1_r16 shipped tfidf = -32.02).
    # cutime/cstime close that hole, but any residual negative must be
    # FLAGGED in the record, never silently published
    cpu_proc_anomalies: dict[str, float] = {}
    # ONE meter for the whole suite: it has to see every worker ALIVE to
    # credit its cpu when the idle reaper kills it (class docstring)
    cpu_meter = ProcTreeCpuMeter()
    load_seen = [loadavg_1m()]
    for name in names:
        fn = benches[name]
        best = None
        runs = []
        # the dominant entry absorbs cross-tenant host contention most
        # visibly (probed: same code 3.9-84s as external load swings 3->12,
        # BASELINE.md contention notes) — give its min two extra chances
        n_runs = 5 if name == "curation_pipeline" else 3
        for _ in range(n_runs):
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            c0 = container_cpu_sec()
            p0 = cpu_meter.sample()
            t0 = time.time()
            run_forced(fn())
            dt = time.time() - t0
            runs.append(round(dt, 3))
            if best is None or dt < best:
                best = dt
                if c0 >= 0:
                    cpu_sec[name] = round(container_cpu_sec() - c0, 3)
                p_delta = round(cpu_meter.sample() - p0, 3)
                # a negative delta is impossible (the meter is monotone by
                # construction: live counters only grow and departed cpu is
                # tallied forever — ProcTreeCpuMeter docstring).  Retry
                # before flagging anyway: the guard is the backstop that
                # caught both prior holes (reaped-child cutime in r16, the
                # SIGCHLD-ignore worker-reap vanish in r17).
                for _ in range(2):
                    if p_delta >= 0:
                        break
                    p_delta = round(cpu_meter.sample() - p0, 3)
                cpu_proc_sec[name] = p_delta
                if p_delta < 0:
                    cpu_proc_anomalies[name] = p_delta
                    print(
                        f"[bench] CPU ANOMALY: {name} cpu_proc_sec delta "
                        f"{p_delta} < 0 — impossible value, do not use this "
                        f"entry for attribution (cpu left the process tree "
                        f"mid-window; see proc_tree_cpu_sec docstring)",
                        file=sys.stderr,
                    )
                elif name in cpu_proc_anomalies:
                    del cpu_proc_anomalies[name]
        if debug:
            print(f"[bench] {name}: runs={runs}", file=sys.stderr)
        timings[name] = round(best, 3)
        load_seen.append(loadavg_1m())

    # Per-entry wall-clock bands from BASELINE.md's table (sf0.1,
    # local[32]).  Entries outside their band are re-run SOLO below and
    # reported under "solo_reruns", so a contention-inflated suite number
    # arrives pre-attributed: r12 burned a round proving topk_ivfpq's 8.47 s
    # was ambient load, r13 the same for bm25 8.68→1.22 s and funnel_gaps
    # 3.74→0.84 s at idle (VERDICT r13 task 4 — this block).
    # Bands recalibrated r16 for the canon-hash forcing (min-of-3 at low
    # load; the formerly count()-pruned five now time real work).
    bands = BANDS
    solo_reruns: dict[str, dict] = {}
    for name, wall in timings.items():
        band = bands.get(name)
        # bands are calibrated at sf0.1 (BASELINE.md's measurement scale) —
        # at any other sf a breach comparison is meaningless, skip
        if sf != "0.1":
            break
        # only re-attribute entries ABOVE their band: a below-floor wall is
        # a faster build or a warmer session, not a regression to explain
        if band is None or wall <= band[1]:
            continue
        runs2, best2, best_cpu = [], None, -1.0
        load0 = loadavg_1m()
        for _ in range(3):
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            c0 = container_cpu_sec()
            t0 = time.time()
            run_forced(benches[name]())
            dt = time.time() - t0
            runs2.append(round(dt, 3))
            if best2 is None or dt < best2:
                best2 = dt
                if c0 >= 0:
                    best_cpu = round(container_cpu_sec() - c0, 3)
        solo_reruns[name] = {
            "suite_wall": wall,
            "solo_wall": round(best2, 3),
            "runs": runs2,
            "cpu_sec": best_cpu,
            "band": list(band),
            "in_band_solo": best2 <= band[1],
            "loadavg": [load0, loadavg_1m()],
        }
        verdict = (
            "contention (solo back in band)"
            if best2 <= band[1]
            else "REGRESSION (still out of band solo)"
        )
        print(
            f"[bench] band breach {name}: suite {wall}s > {band[1]}s; "
            f"solo min-of-3 {round(best2, 3)}s -> {verdict}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # the 'semdedup' entry is the DELIBERATE fixed-k quadratic exemplar
    # (k=16 pinned; the operator's default is 'auto' since r17) — at sf1
    # it alone is ~65% of the suite wall, so the headline is reported both
    # ways to keep round-over-round comparisons readable (VERDICT r16
    # finding 3); 'semdedup_auto' is the production-geometry entry
    total_ex_exemplar = round(total - timings.get("semdedup", 0.0), 3)
    # the suite grew from 10 to 14 operators in r5 — report the original-10
    # subtotal too so round-over-round totals stay comparable (BASELINE.md)
    core10 = [
        "checksum_compare_xxh", "diff_keyed", "export_hex", "dedup_minhash_pairs",
        "dedup_simhash", "similarity_topk", "text_stats", "sessionize",
        "asof_join", "join_region_revenue",
    ]
    # r18 (VERDICT r17 task 2): the round's primary perf artifact must be
    # reproducible from the repo — the driver's BENCH_r{N}.json keeps only
    # a truncated tail, so the ritual writes the FULL record to a committed
    # file too (SPARK_GRAFT_BENCH_RECORD=tools/bench_r{N}_final.json).
    record_path = os.environ.get("SPARK_GRAFT_BENCH_RECORD", "")
    record = json.dumps(
            {
                "metric": "headline_operator_suite_wall_clock",
                "value": total,
                # suite wall EXCLUDING the deliberate fixed-k quadratic
                # exemplar entry ('semdedup', k=16 pinned) — the
                # production-geometry headline (VERDICT r16 finding 3)
                "value_ex_quadratic_exemplar": total_ex_exemplar,
                "unit": "sec",
                "queries": timings,
                "core10_total": round(sum(timings[n] for n in core10 if n in timings), 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
                # r16 forcing change marker: totals before/after are NOT
                # comparable round-over-round (BASELINE.md r16 note)
                "forcing": "canon_hash_all_columns",
                # host 1-min load sampled between queries: this container is
                # not alone on the machine, and external load directly
                # inflates the timings above (documented contention
                # mechanism, BASELINE.md) — record it so an out-of-band
                # number can be attributed instead of guessed at
                "loadavg_max": max(load_seen),
                "loadavg_median": sorted(load_seen)[len(load_seen) // 2],
                # container CPU seconds burned by each query's BEST run:
                # wall up + cpu flat = external contention; both up = the
                # plan is doing more work (a real regression).  cpu_sec is
                # the cgroup counter (container-wide, sibling-pollutable —
                # r16 probe); cpu_proc_sec is this process tree only, the
                # metric regression attributions should use
                "cpu_sec": cpu_sec,
                "cpu_proc_sec": cpu_proc_sec,
                # entries whose BEST-run proc-tree delta came back negative
                # (impossible — flagged loudly on stderr too); empty means
                # every cpu_proc_sec value above is attribution-safe (r17)
                "cpu_proc_anomalies": cpu_proc_anomalies,
                # recall@5 vs exact brute force for the compressed-ANN
                # entries (untimed guardrail); any entry under its
                # BASELINE.md floor is listed in recall_breach (and
                # flagged on stderr above)
                "recall": recall,
                "recall_breach": recall_breach,
                # entries that breached their BASELINE.md band in-suite,
                # re-measured solo at suite end (min-of-3): solo back in
                # band = ambient contention, still out = real regression
                "solo_reruns": solo_reruns,
                # the suite-level BASELINE band with the same
                # self-attribution: if the total breaches but every solo
                # rerun landed back in band, the breach is contention.
                # Widened r16 10-55 s: the canon-hash forcing (every entry
                # now pays a full-column aggregate and the five formerly
                # count()-pruned rows execute real work) plus two new
                # entries (semdedup_auto ~6 s, quality_classifier ~2.7 s)
                # grew the honest floor; 27-entry totals measured 34.5
                # and 45.7 s under ambient load.  Widened again r18 to
                # 10-65 s: curation_pipeline gained the in-funnel
                # self_dedup_trim transform (+~9.5 s of genuinely new
                # gated work at sf0.1 — see its per-entry band note)
                "suite_band": {
                    "band": [10.0, 65.0],
                    "breached": bool(sf == "0.1" and total > 65.0),
                    "regressed_entries": sorted(
                        n for n, r in solo_reruns.items()
                        if not r["in_band_solo"]
                    ),
                },
            }
        )
    print(record)
    if record_path:
        with open(record_path, "w") as f:
            f.write(record + "\n")
        print(f"[bench] full record written: {record_path}", file=sys.stderr)
    # exit-code-gated automation must see the breach too: the stderr line
    # and the JSON list are invisible to a `bench.py || alert` guard
    # (r9 ADVICE).  The JSON line above is always printed first.
    if recall_breach:
        sys.exit(3)


if __name__ == "__main__":
    main()
