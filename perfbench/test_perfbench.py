"""The benchmark's own test: a short run of every workload, untraced and
traced, must print every metric BENCHMARK.json names, with its unit, and
pass its output checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd, workload, trace, seconds=1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p


def test_spec_matches_definitions():
    from perfbench import metrics as M
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for key, defs in (("end_to_end", M.END_TO_END), ("per_layer", M.PER_LAYER)):
        assert [m["name"] for m in SPEC[key]] == list(defs)
        for m in SPEC[key]:
            assert (m["unit"], m["better"]) == defs[m["name"]][:2], m["name"]
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_short_run_reports_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        assert res["metrics"]["fail_ratio"]["value"] == 0.0
        spans = os.path.join(ROOT, ".perfbench", "out", f"trace-{workload}-s7.json")
        with open(spans) as f:
            assert json.load(f)["spans"]


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
