"""Smoke test of the benchmark itself: tiny inputs, every operation.

Runs each workload family in ``--smoke`` mode (sf0.001, 10k CSV rows,
one set-up, no warm-up) with tracing off and on, and checks that
every metric ``BENCHMARK.json`` names is reported with its unit and
that no execution failed. Takes a few minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["etl_import", "sql_scan", "llm_curation"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_reported(workload, trace):
    result = _run(workload, trace)
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    specs = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert result["metrics"]["success_rate"]["value"] == 1.0
        for m in specs:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_spec_matches_code():
    sys.path.insert(0, ROOT)
    from perfbench.core import END_TO_END, PER_LAYER

    for specs, table in ((SPEC["end_to_end"], END_TO_END), (SPEC["per_layer"], PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in specs} == table
    assert {w["name"] for w in SPEC["workloads"]} <= {"etl_import", "sql_scan", "llm_curation"}
