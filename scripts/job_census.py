#!/usr/bin/env python
"""Per-key Spark scheduler-job census — the host-independent perf metric.

Wall-clock on this host class is steal-contaminated (round 13: adjacent
reps of identical code at 2.9 s vs 87 s); the number of scheduler JOBS a
key launches is deterministic modulo AQE and is what actually bounds
job-count-bound keys (~0.3-0.5 s fixed floor per job here).  This script
materializes each requested key through the noop sink inside its own job
group and reports ``len(statusTracker.getJobIdsForGroup(group))``.

With ``--sites`` each key's jobs are also credited to the package
``file:line`` that triggered them.  Every ``localCheckpoint``,
``collect``, ``first`` and ``count`` on a DataFrame, every
``DataFrameWriter.parquet``/``save`` and every ``DataFrameReader.parquet``
runs in a job group of its own, named after the innermost package frame
that called it; the noop write of the census itself is ``run`` and jobs
outside any of those calls are ``build-other``.  The patches switch job
groups only, so the per-key totals equal a plain census.

With ``--repeat N`` each key runs N times in a row in the one session,
each run in a job group of its own.  ``jobs`` stays the first run's
count (what a single census reads); ``min`` and ``max`` cover all N,
and a key whose count varies is flagged ``jittery``.  Some keys' first
run takes a job more or less at random on unchanged code (tpch_q7: 9
or 10), so compare two censuses only on keys neither flags.

Usage: python scripts/job_census.py [--sites] [--repeat N]
                                    [key,key,...|all] [sf_dir]
Prints one ``key jobs wall_s`` line per key plus a JSON summary line.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import task_mapreduce_spark  # noqa: E402
from task_mapreduce_spark.session import get_spark  # noqa: E402
from task_mapreduce_spark.registry import QUERIES  # noqa: E402

_PKG = os.path.dirname(os.path.abspath(task_mapreduce_spark.__file__))


def _site(frame) -> str:
    """``file:line`` of the innermost package frame at or above ``frame``
    (relative to the package), or ``run`` when no package code is on the
    stack — the census's own noop write."""
    while frame is not None:
        fn = frame.f_code.co_filename
        if fn.startswith(_PKG + os.sep):
            return f"{os.path.relpath(fn, _PKG)}:{frame.f_lineno}"
        frame = frame.f_back
    return "run"


def _install_site_groups(sc, seen: dict[str, set[str]]) -> None:
    """Wrap the job-triggering calls so each runs in job group
    ``<key>@<site>`` and records the site in ``seen[key]``.  A call made
    inside another wrapped call (``first`` → ``collect``) keeps the
    outer site."""
    from pyspark.sql import DataFrameReader, DataFrameWriter

    try:  # Spark 4.1: the classic DataFrame is the class instances have
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    state = threading.local()

    def wrap(cls, name):
        orig = getattr(cls, name)

        def wrapper(*args, **kwargs):
            key = sc.getLocalProperty("spark.jobGroup.id")
            if key is None or getattr(state, "inside", False):
                return orig(*args, **kwargs)
            site = _site(sys._getframe(1))
            seen.setdefault(key, set()).add(site)
            state.inside = True
            sc.setJobGroup(f"{key}@{site}", key)
            try:
                return orig(*args, **kwargs)
            finally:
                sc.setJobGroup(key, key)
                state.inside = False

        setattr(cls, name, wrapper)

    for name in ("localCheckpoint", "collect", "first", "count"):
        wrap(DataFrame, name)
    wrap(DataFrameWriter, "parquet")
    wrap(DataFrameWriter, "save")
    wrap(DataFrameReader, "parquet")


def main() -> int:
    sites = "--sites" in sys.argv
    if sites:
        sys.argv.remove("--sites")
    repeat = 1
    if "--repeat" in sys.argv:
        i = sys.argv.index("--repeat")
        repeat = int(sys.argv[i + 1])
        del sys.argv[i : i + 2]
    keys = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sorted(QUERIES) if keys == "all" else keys.split(",")
    spark = get_spark("tmrs-census")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm-up: JVM/session startup must not be charged to the first key
    QUERIES["tpch_q1"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    seen: dict[str, set[str]] = {}
    if sites:
        _install_site_groups(sc, seen)

    def n_jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def census(key: str, group: str) -> dict:
        sc.setJobGroup(group, key)
        t0 = time.time()
        QUERIES[key](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        wall = round(time.time() - t0, 2)
        sc.setLocalProperty("spark.jobGroup.id", None)
        row = {"jobs": n_jobs(group), "wall": wall}
        if sites:
            by_site = {s: n_jobs(f"{group}@{s}") for s in seen.get(group, ())}
            by_site["build-other"] = row["jobs"]
            row["jobs"] = sum(by_site.values())
            row["sites"] = dict(
                sorted(
                    ((s, n) for s, n in by_site.items() if n),
                    key=lambda kv: (-kv[1], kv[0]),
                )
            )
        return row

    out: dict[str, dict] = {}
    for key in names:
        runs = [census(key, key if i == 0 else f"{key}#{i}") for i in range(repeat)]
        row = out[key] = runs[0]
        line = f"{key} jobs={row['jobs']} wall={row['wall']}"
        if repeat > 1:
            counts = [r["jobs"] for r in runs]
            row.update(min=min(counts), max=max(counts))
            row["jittery"] = row["min"] != row["max"]
            line += f" min={row['min']} max={row['max']}"
            line += " JITTERY" if row["jittery"] else ""
        print(line, flush=True)
    if repeat > 1:
        jittery = [k for k, r in out.items() if r["jittery"]]
        print(f"jittery ({len(jittery)} of {len(out)}): {','.join(jittery)}")
    print("CENSUS " + json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
