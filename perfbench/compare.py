"""Compare two sets of benchmark records on the end-to-end metrics.

    python3 perfbench/compare.py --base .bench_work/records/a*.json --new b*.json

Only untraced records count.  For each workload and metric it prints the
two medians, the base set's spread (quartile distance over median) and the
change, and calls a change ``worse`` only beyond the metric's bound in
``BENCHMARK.json`` and ``better`` only beyond the base spread.

Records are comparable only when taken on the same number of cores, the
same driver heap and the same input scale: any ``cpus``, ``driver_heap``
or ``scale`` mismatch is refused with exit code 2, because wall and cpu
time at one core count say nothing about another, and the heap moves
``peak_rss_mb`` and GC time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        if not r.get("trace"):
            out.append(r)
    return out


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def compare(base: list[dict], new: list[dict], bounds: dict[str, dict]) -> list[dict]:
    for key in ("cpus", "driver_heap", "scale"):
        seen = {r[key] for r in base + new}
        if len(seen) > 1:
            raise ValueError(f"records differ in {key}: {sorted(seen)}; refusing to compare")
    rows = []
    by_wl = defaultdict(lambda: ([], []))
    for r in base:
        by_wl[r["workload"]][0].append(r)
    for r in new:
        by_wl[r["workload"]][1].append(r)
    for wl, (b, n) in sorted(by_wl.items()):
        if not b or not n:
            continue
        for metric, spec in bounds.items():
            bv = [r["e2e"][metric] for r in b]
            nv = [r["e2e"][metric] for r in n]
            mb, mn = statistics.median(bv), statistics.median(nv)
            change = (mn - mb) / mb
            worse = change if spec["better"] == "lower" else -change
            verdict = "same"
            if worse > spec["bound"]:
                verdict = "worse"
            elif -worse > max(spread(bv), spread(nv)):
                verdict = "better"
            rows.append({"workload": wl, "metric": metric, "unit": spec["unit"], "base": mb,
                         "new": mn, "base_spread": spread(bv), "change": change, "verdict": verdict})
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args(argv)
    with open(args.benchmark) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    try:
        rows = compare(load(args.base), load(args.new), bounds)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    for r in rows:
        print(f"{r['workload']:<15} {r['metric']:<12} {r['base']:>10.4f} -> {r['new']:>10.4f} {r['unit']:<6}"
              f" {r['change']:+7.1%} (spread {r['base_spread']:.1%}) {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
