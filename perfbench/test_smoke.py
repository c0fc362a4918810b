"""Smoke test of the benchmark: every workload's code path and gates at
tiny sizes (``--smoke``).  Run from the repository root:

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload,trace", [
    ("build_cold", 0), ("serve_warm", 1), ("ingest_serve", 0)])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    record, result = (json.loads(line) for line in out.stdout.splitlines()[-2:])
    assert result["correct"], record["record"]["failures"]
    assert result["failed"] == 0 and result["attempted"] > 0
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    if workload == "serve_warm":
        assert result["metrics"]["index.spark_jobs_per_query"]["value"] == 0
    assert record["record"]["host"]["nproc"] >= 1
