"""Smoke test: every workload runs end to end on tiny inputs (a 2000-URL
crawl fixture, the sf0.001 tables), passes its oracle checks and prints
every metric of BENCHMARK.json by name with its unit. Starts Spark once
per run, so it takes a few minutes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "20", "--trace", str(trace), "--smoke"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _printed(lines: list[str]) -> dict[str, str]:
    return {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}


@pytest.mark.parametrize("workload", ["crawl_steady", "crawl_recrawl", "query_suite"])
def test_traced_smoke_run(workload):
    lines, result = _run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    printed = _printed(lines)
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert printed[m["name"]] == m["unit"], m["name"]
    assert printed["error_rate"] == "ratio"
    spans = [ln for ln in lines if ln.startswith("spans ")][0].split()[1]
    with open(os.path.join(ROOT, spans)) as fh:
        kinds = {json.loads(line)["kind"] for line in fh}
    assert {"workload", "job", "stage"} <= kinds


@pytest.mark.parametrize("workload", ["crawl_recrawl", "query_suite"])
def test_untraced_smoke_run(workload):
    lines, result = _run(workload, trace=0)
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert all(v["value"] > 0 for v in result["metrics"].values())
