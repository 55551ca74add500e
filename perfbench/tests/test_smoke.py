"""Smoke runs of every workload on tiny inputs.

Run from the checkout root: python3 -m pytest perfbench/tests -q
(about five minutes: the Spark workloads start a JVM per run).
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

CHECKOUT = Path(__file__).resolve().parents[2]
RUN = [sys.executable, "perfbench/run.py"]
BENCH = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
# every runnable workload, also table_dml, which BENCHMARK.json leaves out
WORKLOADS = ["catalog_rest", "table_dml", "llm_pipeline"]


def run(workload: str, trace: int, seed: int = 3, cwd: Path = CHECKOUT):
    proc = subprocess.run(
        RUN
        + ["--workload", workload, "--seed", str(seed), "--seconds", "1"]
        + ["--trace", str(trace), "--smoke"],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def detail(proc, key: str):
    line = next(l for l in proc.stdout.splitlines() if l.startswith(key + " "))
    return json.loads(line[len(key) + 1 :])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    out = result(run(workload, trace=0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_repeats_spark_counts(workload):
    first, second = run(workload, trace=1), run(workload, trace=1)
    out = result(first)
    result(second)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if workload != "catalog_rest":
        # job/stage/task counts per op are deterministic for one seed
        assert detail(first, "spark_counts") == detail(second, "spark_counts")
        assert out["metrics"]["spark.jobs"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(CHECKOUT / "BENCHMARK.json", tmp_path)
    shutil.copytree(CHECKOUT / "perfbench", tmp_path / "perfbench")
    proc = run("catalog_rest", trace=0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
