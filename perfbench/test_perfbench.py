"""The benchmark's own test: each workload once at sf0.001, traced, plus one
run with deliberately corrupted results.

Run from the repository root (about three minutes on 4 cores)::

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(*extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1", "--seconds", "1",
         "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    artifact = re.search(r"artifact (\S+\.json)", proc.stderr).group(1)
    with open(artifact) as f:
        return json.loads(proc.stdout.strip().splitlines()[-1]), json.load(f)


def _assert_metrics(metrics, spec):
    for m in spec:
        assert m["name"] in metrics, m["name"]
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(metrics[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_every_metric(workload):
    result, artifact = _run("--workload", workload, "--trace", "1")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    _assert_metrics(result["metrics"], SPEC["per_layer"])
    # the artifact carries the end-to-end metrics of the same run
    _assert_metrics(artifact["metrics"], SPEC["end_to_end"])
    assert artifact["stamp"]["trace"] is True and artifact["stamp"]["sf"] == 0.001
    assert artifact["spans"], "traced run recorded no spans"


def test_corrupted_result_raises_fail_ratio():
    workload = SPEC["workloads"][0]["name"]
    result, artifact = _run("--workload", workload, "--trace", "0", "--corrupt")
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    _assert_metrics(result["metrics"], SPEC["end_to_end"])
    assert not result["correct"]
    assert result["failed"] > 0
    assert artifact["failures"] and artifact["attempted"] == result["attempted"]
