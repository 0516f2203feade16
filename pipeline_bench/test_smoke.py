"""Smoke self-test of the pipeline benchmark at a tiny scale: one traced
run per workload, including ``daily_increment``, which BENCHMARK.json
leaves out to fit the timed-run budget. Every metric it names must be
printed with a unit, the oracle check must pass, and no scratch may be
left behind. Run from the repository root:

    python3 -m pytest pipeline_bench/test_smoke.py -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = ["backfill", "daily_increment", "streaming_increment"]


def _run(workload: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "pipeline_bench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--scale", "0.25"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_spec_names_only_known_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_passes_oracle(workload):
    proc = _run(workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, record_line, result_line = proc.stdout.splitlines()
    record, result = json.loads(record_line), json.loads(result_line)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["runs"]
    assert {s["name"] for s in SPEC["per_layer"]} == set(result["metrics"])
    for spec in SPEC["end_to_end"] + SPEC["per_layer"]:
        metric = record["metrics"][spec["name"]]
        assert metric["unit"] == spec["unit"] and isinstance(metric["value"], (int, float))
    for spec in SPEC["end_to_end"]:
        assert record["metrics"][spec["name"]]["value"] > 0, spec["name"]

    values = {k: v["value"] for k, v in record["metrics"].items()}
    streaming = [values[k] for k in values if k.startswith("streaming.")]
    if workload.startswith("streaming"):
        assert all(streaming)
    else:
        assert not any(streaming)
    if "increment_rows" in record:
        events = sum(v for k, v in record["increment_rows"].items() if "_events" in k)
        assert values["stage.rows_appended"] == events
    assert record["spans"] and record["stamp"]["seed"] == 7
    assert not os.path.exists(os.path.join(ROOT, ".pipeline_bench_tmp"))


def test_fails_without_the_program(tmp_path):
    """Holding only the benchmark's own files, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
