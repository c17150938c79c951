#!/usr/bin/env python
"""Dump .explain("formatted") for the given keys to a directory.

Usage: python scripts/dump_plan.py key[,key...] out_dir [suffix] [sf_dir]

Writes ``out_dir/<key>_<suffix>.txt`` (suffix defaults to "after").
Run it from a git worktree of an older commit to produce the
``_before`` dumps the optimization evidence pairs with.

A key's final plan starts at its last checkpoint, so the plans of a
fixpoint's rounds never show in it.  A key that checkpoints also gets
``out_dir/<key>_<suffix>_checkpoints.txt``: the plan of every frame the
key's build ``localCheckpoint``s, in order, each under the package
``file:line`` that checkpointed it.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from task_mapreduce_spark.session import get_spark  # noqa: E402
from task_mapreduce_spark.registry import QUERIES  # noqa: E402


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _record_checkpoints(plans: list[str]) -> None:
    """Make every ``localCheckpoint`` append its frame's plan to ``plans``."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from job_census import _site  # noqa: E402

    try:  # Spark 4.1: the classic DataFrame is the class instances have
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    orig = DataFrame.localCheckpoint

    def recorded(self, *args, **kwargs):
        site = _site(sys._getframe(1))
        plans.append(f"#### checkpoint {len(plans) + 1} at {site}\n{_explain(self)}")
        return orig(self, *args, **kwargs)

    DataFrame.localCheckpoint = recorded


def main() -> int:
    keys = sys.argv[1].split(",")
    out_dir = sys.argv[2]
    suffix = sys.argv[3] if len(sys.argv) > 3 else "after"
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("tmrs-dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    plans: list[str] = []
    _record_checkpoints(plans)
    for key in keys:
        plans.clear()
        df = QUERIES[key](spark, sf_dir)
        outputs = {f"{key}_{suffix}.txt": _explain(df)}
        if plans:
            outputs[f"{key}_{suffix}_checkpoints.txt"] = "\n".join(plans)
        for name, text in outputs.items():
            path = os.path.join(out_dir, name)
            with open(path, "w") as fh:
                fh.write(text)
            print(f"wrote {path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
