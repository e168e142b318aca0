"""The benchmark's own tests, at toy input sizes.

    python3 -m pytest perfbench/tests -q

- every workload completes one verified pass;
- a deliberately corrupted output fails verification;
- the metric names a run prints match BENCHMARK.json, traced and not;
- in a directory holding only the benchmark, a run fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.tracer import NullTracer, _covered

ROOT = run.ROOT
ALL_WORKLOADS = [w["name"] for w in run.load_benchmark()["workloads"]]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from c3dc_etl_spark.session import get_spark

    return get_spark("perfbench-tests")


def _pass(spark, workload, tmp_path, corrupt):
    from perfbench import workloads

    data, _meta_path, meta = run.prepare(workload, 3, "toy")
    wl = workloads.WORKLOADS[workload](spark, data, meta, str(tmp_path), corrupt=corrupt)
    return wl.run_pass(NullTracer())


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_workload_completes_one_verified_pass(spark, workload, tmp_path):
    res = _pass(spark, workload, tmp_path, corrupt=False)
    assert res.attempted > 0 and res.items > 0
    assert res.failed == 0, res.problems


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_corrupted_output_fails_verification(spark, workload, tmp_path):
    res = _pass(spark, workload, tmp_path, corrupt=True)
    assert res.failed > 0


def _run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=180)


@pytest.mark.parametrize("trace", ["0", "1"])
def test_printed_metric_names_match_benchmark_json(trace):
    bench = run.load_benchmark()
    proc = _run(ROOT, "--workload", "operator_mix", "--seed", "5", "--seconds", "1",
                "--trace", trace, "--size", "toy")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] > 0
    want = bench["per_layer" if trace == "1" else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "1":
        for layer in ("operators.dedup", "operators.graph", "sink.tablelog"):
            assert result["metrics"][f"{layer}.jobs"]["value"] > 0
        assert result["metrics"]["trace.overhead_ratio"]["value"] > 0


def test_fails_without_a_result_when_the_program_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(tmp_path, "--workload", "study_harmonize", "--seed", "1", "--seconds", "1",
                "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_covered_is_the_clipped_union_of_intervals():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert _covered([], 0, 1) == 0
