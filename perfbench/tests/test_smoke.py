"""A tiny-size traced run of every workload, end to end through the entry
point, each in its own process (the entry point sizes the JVM before it
starts). Each takes one to two minutes: the engine's fixed cost per
pipeline run does not shrink with the input."""

import json
import os
import subprocess
import sys

import pytest

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TINY = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
workloads.REPROCESS_OBS = 1
workloads.LIVE_MIN_ARRIVALS = 3
workloads.QUERY_DATA_SCALE = 1.0
workloads.QUERY_NAMES = workloads.QUERY_NAMES[:2]
sys.exit(run.main(["--workload", {workload!r}, "--seed", "5", "--seconds", "1", "--trace", "1"]))
"""


@pytest.mark.parametrize("workload", [n for n, _ in metrics.WORKLOADS])
def test_tiny_traced_run(workload):
    proc = subprocess.run(
        [sys.executable, "-c", TINY.format(root=ROOT, workload=workload)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = result["metrics"]
    assert list(got) == [n for n, _, _ in metrics.PER_LAYER]
    assert got["trace.overhead_frac"]["value"] != 0.0
    assert got["plans.pipeline.jobs"]["value"] > 0
    assert got["operators.toa.toas"]["value"] > 0
    if workload == "live_arrivals":
        assert got["streaming.obs_per_batch"]["value"] > 0
        assert got["sinks_datasource.commit_s"]["value"] > 0
        assert got["queries.tasks"]["value"] > 0
    else:
        assert got["scaling.reprocess_parallel_eff"]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == metrics.benchmark_json()


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the entry point exits
    with an error and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "reprocess_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
