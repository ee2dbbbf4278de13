"""Smoke test of the benchmark: every workload, traced and untraced, on
tiny inputs in one Spark session. Fails when a metric named in
BENCHMARK.json is missing or extra, or when an output check fails.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

sys.path.insert(0, run.ROOT)

import workloads  # noqa: E402

BENCHMARK = run.BENCHMARK


@pytest.fixture(scope="module")
def session():
    workdir = os.path.join(run.ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    rss = run.RssSampler()
    rss.start()
    spark = run.start_session(workdir)
    yield spark, workdir, rss
    rss.stop()
    run.stop_session(spark)
    shutil.rmtree(workdir, ignore_errors=True)


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in BENCHMARK["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke(session, workload, trace):
    spark, workdir, rss = session
    args = argparse.Namespace(
        workload=workload, seed=1, seconds=0.0, trace=trace, smoke=True,
        rss=rss, session_start_s=1.0,
    )
    result = run.measure(spark, args, os.path.join(workdir, f"{workload}-{trace}"), run.T_START)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= run.MIN_TIMED_RUNS
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"] for m in declared} == set(result["metrics"])
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name
