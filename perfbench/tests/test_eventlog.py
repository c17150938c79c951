"""The event-log folder against a hand-written log with known sums.

``data/tiny_eventlog.json`` holds three jobs:

- job 0, group ``w/k/build``, description ``pass0``: stage 0 runs 1000→1300 ms inside a job of
  1000→1500 ms, with two tasks (run 100+200 ms, CPU 50+70 ms, GC 10 ms,
  1+1 MB shuffle written, 2 MB spilled to disk);
- job 1, group ``w/k/run``, description ``pass1``: lists stage 0 again (its shuffle output is
  reused, so it is skipped) and runs stage 1 2100→2500 ms inside
  2000→2600 ms; one task fails, the other writes 3 MB of output;
- job 2 has no group and one 50 ms task.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "tiny_eventlog.json")


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold(eventlog.read_events(LOG))


def test_groups(folded):
    assert set(folded) == {"w/k/build", "w/k/run", ""}


def test_build_group_sums(folded):
    m = folded["w/k/build"]
    assert m["jobs"] == 1
    assert m["stages"] == 1
    assert m["skipped_stages"] == 0
    assert m["tasks"] == 2
    assert m["failed_tasks"] == 0
    assert m["job_wall_s"] == pytest.approx(0.5)
    assert m["job_floor_s"] == pytest.approx(0.2)
    assert m["executor_run_s"] == pytest.approx(0.3)
    assert m["executor_cpu_s"] == pytest.approx(0.12)
    assert m["gc_s"] == pytest.approx(0.01)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(2.0)
    assert m["output_mb"] == 0


def test_run_group_counts_reused_stage_as_skipped(folded):
    m = folded["w/k/run"]
    assert m["jobs"] == 1
    assert m["stages"] == 1
    assert m["skipped_stages"] == 1
    assert m["tasks"] == 2
    assert m["failed_tasks"] == 1
    assert m["job_wall_s"] == pytest.approx(0.6)
    assert m["job_floor_s"] == pytest.approx(0.2)
    assert m["executor_cpu_s"] == pytest.approx(0.13)
    assert m["gc_s"] == pytest.approx(0.005)
    assert m["output_mb"] == pytest.approx(3.0)


def test_custom_key_splits_one_group_by_description():
    by_pass = eventlog.fold(
        eventlog.read_events(LOG),
        key=lambda props: props.get("spark.job.description", "-"),
    )
    assert {k: m["jobs"] for k, m in by_pass.items()} == {"pass0": 1, "pass1": 1, "-": 1}
    assert by_pass["pass1"]["output_mb"] == pytest.approx(3.0)


def test_ungrouped_job(folded):
    m = folded[""]
    assert (m["jobs"], m["tasks"], m["job_floor_s"]) == (1, 1, 0)


def test_job_intervals():
    got = eventlog.job_intervals(eventlog.read_events(LOG))
    assert got == {"w/k/build": [(1.0, 1.5)], "w/k/run": [(2.0, 2.6)], "": [(3.0, 3.1)]}


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0, 10, 0),
        ([(1, 3), (2, 4)], 0, 10, 3),         # overlap counted once
        ([(1, 2), (5, 7)], 0, 10, 3),         # disjoint
        ([(-5, 2), (8, 20)], 0, 10, 4),       # clipped to the window
        ([(12, 15)], 0, 10, 0),               # outside the window
    ],
)
def test_covered(intervals, lo, hi, want):
    assert eventlog.covered(intervals, lo, hi) == pytest.approx(want)

