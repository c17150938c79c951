"""End-to-end smoke test of the benchmark command.

Runs every workload once untraced and once traced, exactly as the command
in ``BENCHMARK.json`` is run, and checks the result line: every metric the
file lists is printed with its unit, the outputs matched their oracles, and
tracing changes no scheduler-job count.  About four minutes at local[4].

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# metrics every workload computes; module metrics read 0 on workloads
# without a key from that module
ALWAYS = {
    "session.get_spark_s", "session.warmup_s", "tables.scan_s", "registry.build_s",
    "registry.build_jobs", "exec.run_s", "exec.run_jobs", "driver.self_s",
    "trace.wall_s", "spark.build.stages", "spark.build.tasks", "spark.build.job_wall_s",
    "spark.build.executor_cpu_s", "spark.run.stages", "spark.run.tasks",
    "spark.run.job_wall_s", "spark.run.executor_cpu_s", "exec.passes",
}


def _run(workload: str, trace: int) -> dict:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    return request.param, _run(request.param, 0), _run(request.param, 1)


def _check(res: dict, listed: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_end_to_end_metrics(runs):
    _, plain, _ = runs
    _check(plain, BENCH["end_to_end"])
    for m in BENCH["end_to_end"]:
        assert plain["metrics"][m["name"]]["value"] > 0, m["name"]


def test_per_layer_metrics(runs):
    _, _, traced = runs
    _check(traced, BENCH["per_layer"])
    for name in ALWAYS:
        assert traced["metrics"][name]["value"] > 0, name


def test_tracing_keeps_job_counts(runs):
    _, plain, traced = runs
    t = traced["metrics"]
    assert plain["metrics"]["jobs"]["value"] == (
        t["registry.build_jobs"]["value"] + t["exec.run_jobs"]["value"]
    )
    # the event log sees exactly the jobs the status tracker counted
    assert t["spark.build.jobs"]["value"] == t["registry.build_jobs"]["value"]
    assert t["spark.run.jobs"]["value"] == t["exec.run_jobs"]["value"]
