"""Self-test of the benchmark at sf0.001-sized inputs (``--scale smoke``).

    python3 -m pytest geobench/test_smoke.py -q

Run from the root of a checkout. Each case starts the benchmark in a
subprocess (its last stdout line is the result object) and checks that:

* every end-to-end metric of BENCHMARK.json is emitted with its unit, on
  every workload, with all ops' outputs checked and correct;
* a deliberately corrupted op output is counted as failed;
* the traced run emits every per-layer metric of BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, "geobench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--scale", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    missing = [m["name"] for m in spec if m["name"] not in got]
    assert not missing, f"metrics not emitted: {missing}"
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def test_end_to_end_metrics_on_every_workload():
    spec = bench()
    for workload in (w["name"] for w in spec["workloads"]):
        result = run(workload, "--trace", "0")
        assert_metrics(result, spec["end_to_end"])
        assert result["correct"] and result["failed"] == 0, workload
        assert result["attempted"] >= 1
        for m in spec["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_corrupted_output_counts_as_failed():
    result = run("radius_search", "--trace", "0", "--corrupt", "knn")
    assert result["failed"] == 1
    assert result["correct"] is False


def test_traced_run_emits_every_layer_metric():
    spec = bench()
    result = run(spec["workloads"][0]["name"], "--trace", "1")
    assert_metrics(result, spec["per_layer"])
    assert result["correct"]
