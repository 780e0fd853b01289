"""Smoke test of the benchmark, at the benchmark's own corpus size.

    python3 -m pytest perfbench/smoke_test.py -q

Every workload runs once untraced and once traced. The result line must
carry exactly the metrics BENCHMARK.json names, with their units, every job
must match the oracle, and the crashed work_dir must resume. A directory
holding only the benchmark (no package) must fail without a result.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SEED = 3


def _run(cwd: str, workload: str, trace: int, timeout: int = 400) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_and_reports_the_declared_metrics(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    # preparation run, three timed jobs (+ the traced job)
    assert result["attempted"] >= 4 + trace
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    if trace and workload == "kg_zipf_resume":
        m = result["metrics"]
        assert m["lineage.write_s"]["value"] > 0
        assert m["cleaning.py_run_s"]["value"] > 0
        # the crash left E7 + materialize to redo, the resume redid exactly
        # those and took every earlier stage from its checkpoint
        with open(os.path.join(HERE, "out", f"trace-{workload}-{SEED}.json")) as f:
            lineage = json.load(f)["table"]["lineage"]
        sys.path.insert(0, HERE)
        import run

        assert lineage["stages_rerun"] == len(run.CRASHED_STAGES)
        assert lineage["stages_resumed"] > 0
    # the result line stays near 1,500 characters (1,490-1,510 measured)
    assert len(proc.stdout.strip().splitlines()[-1]) <= 1600


def test_simulated_crash_removes_only_the_later_stages(tmp_path):
    sys.path.insert(0, HERE)
    import run

    work = tmp_path / "wd"
    for stage in (*run.CRASHED_STAGES, "docs"):
        (work / stage).mkdir(parents=True)
        (work / "_lineage" / stage).mkdir(parents=True)
    run.simulate_crash(str(work))
    assert sorted(os.listdir(work)) == ["_lineage", "docs"]
    assert os.listdir(work / "_lineage") == ["docs"]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0, timeout=170)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
