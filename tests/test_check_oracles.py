"""The oracle-check harness's argument contract (no Spark session needed)."""

import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracles.py")


def test_unknown_query_name_exits_2_before_spark():
    """A name outside the registry must fail loudly instead of filtering to
    nothing and reading as green.  ``SPARK_GRAFT_CPUS`` is set unparseable
    as a tripwire: reaching session start would die with a ValueError
    (exit 1), so exit 2 proves the names were checked first."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "not-a-number"}
    proc = subprocess.run(
        [sys.executable, TOOL, "similarity_topk", "no_such_query", "also_missing"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "also_missing no_such_query" in proc.stderr
    assert "similarity_topk" not in proc.stderr
