"""Smoke tests of the benchmark itself: tiny inputs, every op, check and
span path. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["tokens_ingest", "tokens_scan",
                                      "lineitem_roundtrip"])
def test_traced_smoke_run(workload):
    res = _result(_run(workload, 1))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    with open(os.path.join(ROOT, ".perfbench", "traces",
                           f"{workload}-seed3.json")) as f:
        trace = json.load(f)
    spans = trace["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] in ids for s in spans if s["parent"] is not None)
    op_spans = [s for s in spans if s["op"] is not None]
    assert {s["op_name"] for s in op_spans} == {
        r["op"] for r in trace["ops"] if r["traced"]}
    assert any(s["layer"] == "codecs" for s in spans)


def test_untraced_smoke_run_reports_end_to_end_metrics():
    res = _result(_run("tokens_scan", 0))
    assert res["correct"] and res["failed"] == 0
    metrics = res["metrics"]
    assert set(metrics) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in metrics.values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tokens_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
