"""Each workload end to end with a few ops, traced: every named metric
is printed with its unit and every output check passes.
Slow (one Spark session per workload, about a minute each)."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    printed = {
        parts[1]: parts[3]
        for parts in (line.split() for line in lines)
        if parts and parts[0] == "metric"
    }
    assert printed == {
        **END_TO_END, **PER_LAYER, "peak_rss_mb": "MB", "fail_share": "ratio"
    }
    provenance = json.loads(next(l for l in lines if l.startswith("provenance "))[11:])
    assert provenance["nproc"] >= 1 and provenance["master"].startswith("local[")
    assert provenance["inputs"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    write_path = ("operators.upsert_s", "operators.compact_s", "quality.gate_s")
    if workload == "hourly_ingest":
        assert m["operators.py_bytes_out"] == m["operators.py_run_s"] == 0
        assert all(m[k] > 0 for k in write_path)
    else:
        assert all(m[k] == 0 for k in write_path)
        assert m["plans.build_s"] > 0 and m["spark.run_s"] > 0
        assert m["operators.py_bytes_out"] > 0 and m["plans.build_jobs"] > 0
