#!/usr/bin/env python
"""xN scaling stress harness: replicate the sf0.1 documents and
embeddings fixtures xN (with per-replica perturbation so replicas are
near- but not exact duplicates) into /tmp, then warm-interleave base
vs xN runs of the requested keys twice each.

The PERF.md scaling tables are generated from runs of this shape.  Warm
interleaving (A/B/A/B in ONE session) is the bench-noise discipline:
ratios from a single cold pass mislead on this host.

Usage:
  python scripts/x10_stress.py [key,key,...]          # first decade (x10)
  X10_REPS=100 python scripts/x10_stress.py key,...   # second decade (x100)
  X10_TARGET_CELL=64 X10_REPS=100 python scripts/x10_stress.py \\
      sim_search_ivf,dedup_semantic,mine_hard_negatives
      # A/B the _ivf_cells constant-stride linearization knob: patches
      # the shared cell builder so E[cell] is pinned to the constant
      # instead of the sqrt(N) default (registered values unchanged —
      # the patch lives only in this process)

Each run is a job group ``<key>/<tag>/r<round>``, so a run with an
event log (``PYSPARK_SUBMIT_ARGS="--conf spark.eventLog.enabled=true
--conf spark.eventLog.dir=DIR pyspark-shell"``) folds per run with
``perfbench/eventlog.py`` (shuffle bytes, executor CPU, spill).

Env knobs: X10_REPS (default 10) picks the replication factor and the
default fixture dir /tmp/x{REPS}_fixture; X10_BASE / X10_DIR override
paths; X10_TARGET_CELL patches llm_extras._ivf_cells's target_cell for
every key in the run.  Keys default to those whose scaling story
changed most recently.  Round 9 ran the second decade by hand and the
probe caught a real robustness bug (select_dsir's over-wide
checkpoint); round 10 folded that recipe in here.
"""
from __future__ import annotations

import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from task_mapreduce_spark.session import get_spark  # noqa: E402
from task_mapreduce_spark.registry import QUERIES  # noqa: E402

REPS = int(os.environ.get("X10_REPS", "10"))
BASE = os.environ.get("X10_BASE", "/root/testdata/sf0.1")
X10 = os.environ.get("X10_DIR", f"/tmp/x{REPS}_fixture")
TARGET_CELL = os.environ.get("X10_TARGET_CELL")
KEYS = sys.argv[1].split(",") if len(sys.argv) > 1 else [
    "sim_search_ivf", "dedup_semantic", "mine_hard_negatives",
    "dedup_chunks", "embedding_pq", "sim_search_pq",
    "dedup_span_exact", "dedup_span_apply", "select_dsir",
    "retrieval_fuse_rrf", "events_attribution",
]

if TARGET_CELL:
    # pin the constant-stride knob on the SHARED cell builder for every
    # consumer in this process (sim_search_ivf / dedup_semantic /
    # mine_hard_negatives all resolve the module global at call time)
    from task_mapreduce_spark.operators import llm_extras

    _orig_ivf_cells = llm_extras._ivf_cells
    llm_extras._ivf_cells = functools.partial(
        _orig_ivf_cells, target_cell=int(TARGET_CELL)
    )
    print(f"target_cell={TARGET_CELL} patched onto _ivf_cells", flush=True)

spark = get_spark("x10-stress")
spark.sparkContext.setLogLevel("ERROR")

if not os.path.exists(f"{X10}/embeddings.parquet"):
    os.makedirs(X10, exist_ok=True)
    files = max(4, REPS // 12)
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    # max(id)+1 stride, same rationale as the events block below:
    # uniqueness is the only promised property, not density
    n = emb.agg(F.max("vec_id") + 1).collect()[0][0]
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    (emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
                F.transform(
                    "embedding",
                    # keep array<float>: load() fail-fasts on drift
                    lambda x: (
                        x
                        + (F.xxhash64(F.col("vec_id"), F.col("rep")) % 1000)
                        .cast("float")
                        / 50000.0
                    ).cast("float"),
                )
            ).alias("embedding"),
            "label",
        )
        .coalesce(files).write.mode("overwrite")
        .parquet(f"{X10}/embeddings.parquet"))
    doc = spark.read.parquet(f"{BASE}/documents.parquet")
    m = doc.agg(F.max("doc_id") + 1).collect()[0][0]
    (doc.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * m).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rep"),
                         F.col("rep").cast("string"))
            ).alias("text"),
            "lang", "source", "n_chars",
        )
        .coalesce(files).write.mode("overwrite")
        .parquet(f"{X10}/documents.parquet"))
    print(f"x{REPS} fixture built at {X10}", flush=True)

if not os.path.exists(f"{X10}/events.parquet"):
    # events replicas shift user_id so per-user streams stay intact —
    # the realistic growth mode (more users, same behavior) — and write
    # ts as epoch-nanos LONG, the real driver layout (TIMESTAMP(NANOS)
    # is unwritable from Spark; the long form exercises the same
    # loader branch the empty-corpus fixture pins).
    from task_mapreduce_spark.tables import load as _load

    ev = _load(spark, BASE, "events")
    # offsets from max(id)+1, NOT count/1e6: FIXTURES.md only promises
    # event_id is UNIQUE (not dense in [0, ne)) and says nothing about
    # the user_id domain — sparse ids under a count-based stride would
    # collide across replicas, silently breaking the dedup-key
    # uniqueness and the per-user-streams-intact premise the scaling
    # numbers rest on (round-10 ADVICE).  One tiny 1-row aggregate.
    mx = ev.agg(
        (F.max("event_id") + 1).alias("estride"),
        (F.max("user_id") + 1).alias("ustride"),
    ).collect()[0]
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    (ev.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * mx["estride"]).alias("event_id"),
            (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts"),
            (F.col("user_id") + F.col("rep") * mx["ustride"]).alias("user_id"),
            "event_type", "value", "props",
        )
        .coalesce(max(4, REPS // 12)).write.mode("overwrite")
        .parquet(f"{X10}/events.parquet"))
    print(f"x{REPS} events built at {X10}", flush=True)

if not os.path.exists(f"{X10}/orders.parquet"):
    # orders replicas shift BOTH keys by max(id)+1 strides (uniqueness
    # only — FIXTURES.md promises no density): more orders AND more
    # customers, dates unchanged, so month-partition counts stay fixed
    # while per-partition volume scales — the sink_merge_upsert growth
    # mode (CoW cost ∝ affected-partition rows, not partitions)
    o = spark.read.parquet(f"{BASE}/orders.parquet")
    mo = o.agg(
        (F.max("o_orderkey") + 1).alias("okstride"),
        (F.max("o_custkey") + 1).alias("ckstride"),
    ).collect()[0]
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    (o.crossJoin(reps)
        .select(
            (F.col("o_orderkey") + F.col("rep") * mo["okstride"]).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.col("rep") * mo["ckstride"]).alias(
                "o_custkey"
            ),
            "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority",
        )
        .coalesce(max(4, REPS // 12)).write.mode("overwrite")
        .parquet(f"{X10}/orders.parquet"))
    print(f"x{REPS} orders built at {X10}", flush=True)


def mat(df):
    df.write.mode("overwrite").format("noop").save()


tag_big = f"x{REPS}" + (f"/cell{TARGET_CELL}" if TARGET_CELL else "")
mat(QUERIES["tpch_q1"](spark, BASE))  # warm-up, untimed
for rnd in range(2):
    for key in KEYS:
        for tag, sf in (("base", BASE), (tag_big, X10)):
            spark.sparkContext.setJobGroup(f"{key}/{tag}/r{rnd}", key)
            t = time.time()
            mat(QUERIES[key](spark, sf))
            print(f"{key} {tag} r{rnd}: {time.time()-t:.2f}s", flush=True)
