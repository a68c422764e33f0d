"""The benchmark's own smoke test (sf0.001-sized, well under a minute).

    python3 perfbench/smoke_test.py        # from the repository root

1. One ``kv_compare`` run at smoke scale prints every end-to-end metric of
   ``BENCHMARK.json`` by name with its unit, with no failed op.
2. Each workload's checker marks an op failed when one row is removed from
   a correct output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402


class SmokeTest(unittest.TestCase):
    def test_every_end_to_end_metric_printed_with_unit(self):
        with open("BENCHMARK.json") as fh:
            spec = {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "kv_compare",
               "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                           timeout=170, check=True)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        self.assertEqual(got, spec)
        for m in result["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_findings_with_one_row_removed_fail(self):
        k = [gen.encode_key(o, ln) for o in range(50) for ln in (1, 2, 3)]
        drift = gen.Drift(changed=set(k[:5]), only_src=set(k[5:9]), only_dst=set(k[9:12]))
        rows = [{"status": s, "key": key} for s, ks in drift.by_status().items() for key in ks]
        self.assertEqual(workloads.findings_problems(rows, drift), [])
        for i in range(len(rows)):
            self.assertTrue(workloads.findings_problems(rows[:i] + rows[i + 1:], drift))

    def test_funnel_with_one_row_removed_fails(self):
        rows = [
            ["funnel", "exact_dedup", 10, 9, 1],
            ["funnel", "near_dedup", 9, 8, 1],
            ["funnel", "quality", 8, 6, 2],
            ["funnel", "repetition", 6, 5, 1],
            ["corpus", "en", 3, 30, 200],
            ["corpus", "de", 2, 20, 100],
        ]
        self.assertEqual(workloads.funnel_problems(rows, kept=5, n_docs=10), [])
        for i in range(len(rows)):
            self.assertTrue(workloads.funnel_problems(rows[:i] + rows[i + 1:], kept=5, n_docs=10), rows[i])

    def test_dump_with_one_line_removed_fails(self):
        import tempfile

        with tempfile.TemporaryDirectory(dir=os.getcwd()) as d:
            lines = [f"key:{i:04X}, value:00, cnt:{i + 1}.\n" for i in range(6)]
            with open(os.path.join(d, "part-00000.txt"), "w") as fh:
                fh.writelines(lines)
            self.assertEqual(workloads.dump_problems(d, 6), [])
            with open(os.path.join(d, "part-00000.txt"), "w") as fh:
                fh.writelines(lines[:2] + lines[3:])
            self.assertTrue(workloads.dump_problems(d, 6))


if __name__ == "__main__":
    unittest.main()
