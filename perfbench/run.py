"""The repository benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload kv_compare --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

Run from the repository root.  One run builds the seed-independent inputs
if they are missing (the first run in a checkout), writes the seed's inputs
once, cold-starts Spark (a fresh JVM and ``get_spark``: ``setup_s``),
runs ``WARMUPS`` untimed warm-up ops, then issues ops back to back for
``--seconds`` and checks every op's output (warm-ups included).  An op
with a wrong output counts as failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` interleaves
traced and untraced ops (ABBA) and prints the per-layer metrics (medians
over traced ops) with the tracing overhead.  Every run also writes a record with
its stamps, per-op samples and spans under ``.bench_work/records``.  The last
line of standard output is the result as one JSON object.

Everything the run writes (inputs, Spark local dirs, temp files, dumps,
records) stays under ``.bench_work`` in the working directory.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: untimed ops before measuring; the JIT is still warming after one
WARMUPS = 2
DRIVER_HEAP = "2g"
YOUNG_GEN = "384m"
E2E_UNITS = {"setup_s": "s", "op_s": "s", "verdict_s": "s", "cpu_s": "cpu-s", "peak_rss_mb": "MB"}
LAYERS = (
    "session",
    "operators.checksum",
    "operators.diff",
    "operators.scan",
    "sources.scandump",
    "operators.curate.build",
    "operators.curate.execute",
)
EXTRAS = {
    "operators.checksum.input_rows": "rows",
    "operators.diff.dirty_bucket_ratio": "ratio",
    "operators.diff.rows_per_finding": "rows",
    "operators.scan.output_bytes": "bytes",
    "sources.scandump.input_rows": "rows",
    "operators.curate.kept_ratio": "ratio",
}
TRACE = {
    "trace.coverage": "ratio",
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
}
MIN_COVERAGE = 0.95


def counter_unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "bytes"
    return "count"


def per_layer_units() -> dict[str, str]:
    from spans import COUNTERS

    units = {f"{layer}.{c}": counter_unit(c) for layer in LAYERS for c in COUNTERS}
    return {**units, **EXTRAS, **TRACE}


def configure_env(work: str, tmp: str) -> int:
    """Point every writer at ``work`` (temp files at ``tmp``) and size Spark
    to this host; returns the core count.  Must run before the JVM starts."""
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # a fixed young generation keeps the JVM's resident size from following
    # the collector's adaptive sizing, so peak_rss_mb tracks retained data
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}' pyspark-shell"
    )
    return cpus


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait for every process this run
    started to end; the next ``get_spark`` launches a fresh JVM."""
    import meter
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    me = str(os.getpid())
    while True:
        rest = [p for p in meter.tree() if p != me]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(int(p), signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def seed_inputs(wl, base: str, root: str, seed: int) -> float:
    """Write the seed's inputs unless present; keeps one seed per workload.
    Returns the seconds spent generating (0 when reused)."""
    seed_dir = os.path.join(root, f"seed-{seed}")
    if os.path.exists(os.path.join(seed_dir, "DONE")):
        return 0.0
    t = time.perf_counter()
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.makedirs(seed_dir)
    wl.make_inputs(base, seed_dir, seed)
    open(os.path.join(seed_dir, "DONE"), "w").close()
    return time.perf_counter() - t


def coverage(spans, start: float, end: float) -> dict:
    """Share of the op's wall time inside its top-level spans, and the
    uncovered gaps as ``[offset_s, length_s]``."""
    from spans import union_length

    tops = sorted((s.start, s.end) for s in spans if s.parent is None)
    gaps, cursor = [], start
    for a, b in tops:
        if a > cursor:
            gaps.append([cursor - start, a - cursor])
        cursor = max(cursor, b)
    if end > cursor:
        gaps.append([cursor - start, end - cursor])
    wall = end - start
    covered = union_length(tops)
    return {"coverage": covered / wall, "uncovered_s": wall - covered, "gaps": gaps}


def layer_values(spans) -> dict:
    from spans import COUNTERS

    out = {}
    for s in spans:
        for c in COUNTERS:
            key = f"{s.layer}.{c}"
            out[key] = out.get(key, 0.0) + s.counts.get(c, 0.0)
        if s.layer == "sources.scandump":
            key = "sources.scandump.input_rows"
            out[key] = out.get(key, 0.0) + s.counts.get("input_rows", 0.0)
    return out


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".bench_work")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    cpus = configure_env(work, os.path.join(scratch, "tmp"))
    from tikv_data_compare_spark.session import get_spark

    import gen
    import meter
    from spans import Tracer, session_span
    from workloads import WORKLOADS, Ctx

    scale = gen.SMOKE if args.smoke else gen.FULL
    scale_name = "smoke" if args.smoke else "full"
    wl = WORKLOADS[args.workload](scale)
    # inputs are cached per scale, keyed by every size so a resize rebuilds
    scale_key = "-".join([scale_name, *map(str, dataclasses.astuple(scale))])
    base = os.path.join(work, "base", scale_key)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": scale_name,
        "cpus": cpus,
        "driver_heap": os.environ["SPARK_DRIVER_MEMORY"],
        **meter.stamps(),
    }
    build_s = 0.0
    if wl.needs_build(base):
        # in its own JVM, so every run measures the same process tree
        t = time.perf_counter()
        spark = get_spark("perfbench")
        try:
            wl.build(spark, base)
        finally:
            shutdown(spark)
        build_s = time.perf_counter() - t
    seed_root = os.path.join(work, "inputs", scale_key, wl.name)
    gen_s = seed_inputs(wl, base, seed_root, args.seed)
    inputs = wl.load_inputs(base, os.path.join(seed_root, f"seed-{args.seed}"))
    record.update(build_s=build_s, gen_s=gen_s, input_rows=inputs["rows"], input_bytes=inputs["bytes"])

    spark = None
    meter.reset_peak_rss()
    try:
        # one cold start a run: a second costs another JVM launch (~7 s on
        # 4 cores), as much as the ops a run measures
        start, t = time.time(), time.perf_counter()
        spark = get_spark("perfbench")
        record["setup_s"] = time.perf_counter() - t
        record["session"] = session_span(spark, start, start + record["setup_s"]).counts

        tracer = Tracer(spark, enabled=False)
        ctx = Ctx(spark, tracer, inputs, scratch, {})

        def one_op(traced: bool) -> dict:
            tracer.enabled = traced
            ctx.marks = {}
            first = len(tracer.spans)
            cpu0 = meter.tree_cpu_s()
            start, t0 = time.time(), time.perf_counter()
            out = wl.op(ctx)
            wall = time.perf_counter() - t0
            end = time.time()
            cpu = meter.tree_cpu_s() - cpu0
            entry = {
                "wall_s": wall,
                "verdict_s": ctx.marks.get("verdict_s") or wall,
                "cpu_s": cpu,
                "traced": traced,
                "loadavg": os.getloadavg()[0],
            }
            try:
                entry["problems"] = wl.check(ctx, out)
                if traced:
                    spans = tracer.spans[first:]
                    tracer.collect(spans)
                    entry["coverage"] = coverage(spans, start, end)
                    entry["layers"] = {**layer_values(spans), **wl.layer_extras(ctx, out, spans)}
                    entry["spans"] = [
                        {"layer": s.layer, "start": s.start - start, "end": s.end - start,
                         "parent": s.parent, "counts": s.counts}
                        for s in spans
                    ]
            finally:
                wl.release(out)
            return entry

        warm = [one_op(False) for _ in range(WARMUPS)]
        record["warmup"] = warm
        ops = []
        t_start = time.perf_counter()
        while True:
            # traced/untraced in ABBA order, so JIT warming biases neither side
            ops.append(one_op(bool(args.trace) and len(ops) % 4 in (0, 3)))
            if time.perf_counter() - t_start >= args.seconds and (not args.trace or len(ops) >= 2):
                break
        record["ops"] = ops
        record["peak_rss_by_process"] = meter.tree_peak_rss()
        record["peak_rss_mb"] = sum(record["peak_rss_by_process"].values()) / 1e6
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    record["loadavg_end"] = list(os.getloadavg())
    record["steal_s"] = meter.host_steal_s() - record.pop("steal_start_s")
    record["time_end"] = time.time()
    return summarize(record, [*warm, *ops])


def summarize(record: dict, checked: list[dict]) -> dict:
    ops = record["ops"]
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    record["e2e"] = {
        "setup_s": record["setup_s"],
        "op_s": median(o["wall_s"] for o in untraced),
        "verdict_s": median(o["verdict_s"] for o in untraced),
        "cpu_s": median(o["cpu_s"] for o in untraced),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    record["op_count"] = {"untraced": len(untraced), "traced": len(traced)}
    failed = sum(1 for o in checked if o["problems"])
    if record["trace"]:
        units = per_layer_units()
        values = {k: median(o["layers"].get(k, 0.0) for o in traced) for k in units}
        values.update({f"session.{c}": v for c, v in record["session"].items()})
        values.update({
            "trace.coverage": min(o["coverage"]["coverage"] for o in traced),
            "trace.uncovered_s": max(o["coverage"]["uncovered_s"] for o in traced),
            "trace.overhead_s": median(o["wall_s"] for o in traced) - median(o["wall_s"] for o in untraced),
        })
        low = [o for o in traced if o["coverage"]["coverage"] < MIN_COVERAGE]
        for o in low:
            o["problems"].append(f"trace coverage {o['coverage']['coverage']:.3f} < {MIN_COVERAGE}")
        failed += len(low)
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": record["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    record["failed"] = failed
    record["attempted"] = len(checked)
    return {"record": record, "result": {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
    }}


def write_record(record: dict) -> str:
    d = os.path.join(os.getcwd(), ".bench_work", "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{int(record['time_start'])}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def run_all(args) -> int:
    """Each workload in its own process; one table of every metric."""
    from workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{name}: exited {p.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
    for name, r in results.items():
        print(f"{name}: attempted {r['attempted']}, failed {r['failed']}")
        for m, v in r["metrics"].items():
            print(f"  {m:<44} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{m}": v for n, r in results.items() for m, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001-sized inputs")
    args = ap.parse_args(argv)
    if importlib.util.find_spec("tikv_data_compare_spark") is None:
        print(f"perfbench: no tikv_data_compare_spark package under {os.getcwd()}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)} or all")
    out = run(args)
    print(f"record: {write_record(out['record'])}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
