"""Tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import inputs
import run
import workloads

TINY = {
    "features": {"events": 600, "entities": 2, "anchors_per_entity": 5},
    "dedup": {"docs": 40, "copies": 2},
    "table_rw": {"rows": 800, "entities": 4, "batches": 2, "changes": 80,
                 "scans": 1, "n_buckets": 2, "ts_unit_day": 500_000},
}


def _benchmark_json() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run.unit(m["name"]) for m in spec["per_layer"])


@pytest.mark.parametrize("workload", sorted(TINY))
def test_input_digest_follows_seed(tmp_path, workload):
    def dig(seed: int, sub: str) -> str:
        return inputs.digest(inputs.write_inputs(workload, seed, TINY[workload],
                                                 str(tmp_path / sub)))

    assert dig(1, "a") == dig(1, "b")
    assert dig(1, "a") != dig(2, "c")


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "features", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


class _CorruptEveryOther(workloads.TableRW):
    """table_rw whose every second pass loses one row of its output."""

    calls = 0

    def outputs(self, spark, out):
        got = super().outputs(spark, out)
        self.calls += 1
        if self.calls % 2 == 0:
            got["final"] = got["final"].iloc[1:]
        return got


def test_corrupted_output_counts_as_failed():
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own JVM; another SparkContext is running")
    wl = _CorruptEveryOther(inputs.prepare("table_rw", 5, TINY["table_rw"]), 5)
    res = run.Bench(wl, seconds=0, trace=False).run(cores=2, t_start=time.perf_counter())
    # two set-up passes and two measured passes; every second one is wrong
    assert (res["attempted"], res["failed"], res["correct"]) == (4, 2, False)
    assert set(res["metrics"]) == set(run.END_TO_END)
