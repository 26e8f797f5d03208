"""Small-size smoke run of every benchmark workload.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload at the ``smoke`` size, untraced and traced, in fresh
processes from the repository root, and checks the result line against
the metric lists declared in BENCHMARK.json. Takes a few minutes.
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
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
SEED = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
               "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "follow_serve":
        # both halves of a request's own time are measured, and graphql's
        # parse and validate are each caught by a probe
        m = res["metrics"]
        assert m["serving.graphql_api.parse_validate_ms"]["value"] > 0
        assert m["serving.graphql_api.resolve_ms"]["value"] > 0
        path = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-{SEED}.jsonl")
        with open(path) as fh:
            names = {json.loads(line)["name"] for line in fh}
        assert {"serving.graphql_api.parse", "serving.graphql_api.validate"} <= names


def test_declared_metrics_match_the_runner():
    sys.path.insert(0, HERE)
    import run

    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert [w["name"] for w in SPEC["workloads"]] == run.WORKLOAD_NAMES


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        RUN + ["--workload", "follow_serve", "--seed", "1", "--seconds", "1",
               "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout
