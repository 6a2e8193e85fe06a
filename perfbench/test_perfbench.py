"""Self-test of the benchmark: one short traced run per workload at sf0.01.

    python3 -m pytest perfbench/test_perfbench.py -q

Each run takes a warm-up, one untraced and two traced passes. The test
checks that the result line carries every per-layer metric of
``BENCHMARK.json`` with its unit, that the record carries every end-to-end
metric with its unit, that every output check passed, that the count
metrics repeat exactly from one traced pass to the next, and that the run
left no files behind.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from compare import compare  # noqa: E402
from run import TRACED_PASSES, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, tmp_path) -> tuple[dict, dict]:
    out = tmp_path / f"{workload}.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--sf", "0.01", "--out", str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_short_traced_run(workload, tmp_path):
    record, result = _run(workload, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert record["cpus"] >= 1 and record["sf"] == 0.01 and record["seed"] == 3
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    for m in SPEC["end_to_end"]:
        assert record["end_to_end"][m["name"]]["unit"] == m["unit"], m["name"]
    traced = [p for p in record["passes"] if p["traced"]]
    assert len(traced) == TRACED_PASSES
    assert record["exact_counts_differ"] == [], {
        k: [p[k] for p in traced] for k in record["exact_counts_differ"]}
    if workload == "analytics_read":
        assert result["metrics"]["catalog.commits"]["value"] == 0
    else:
        assert result["metrics"]["catalog.commits"]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, record["work_dir"]))


def test_compare_refuses_other_core_counts():
    base = {"cpus": 4, "workload": "w", "sf": 0.1,
            "end_to_end": {"pass_s": {"value": 2.0, "unit": "s"}}}
    assert "pass_s" in compare(base, dict(base))[1]
    with pytest.raises(ValueError):
        compare(base, dict(base, cpus=32))
