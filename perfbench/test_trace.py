"""End-to-end check of a traced run: every per-layer metric is printed
with its unit, the outputs check out, and the work counters repeat
exactly across the later traced passes of one seed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from run import PER_LAYER_UNITS

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.slow
def test_traced_counters_repeat():
    root = os.path.dirname(HERE)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_sweep",
           "--seed", "3", "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(PER_LAYER_UNITS)
    assert result["metrics"]["io.load_tables_calls"]["value"] > 0
    with open(os.path.join(root, ".perfbench", "out", "query_sweep-seed3-trace1.json")) as f:
        record = json.load(f)
    repeat = record["trace_detail"]["counters_repeat"]
    assert repeat["passes"] >= 2
    assert repeat["equal"], repeat["mismatched"]
