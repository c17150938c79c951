"""Physical-layout assertions for sort_within_partitions.

The oracle for this key is just a projection (partition layout is not
SQL-visible), so the *point* of the operator — MR's secondary-sort
idiom — is verified here: every user_id lives in exactly one partition
and every partition is sorted by (user_id, ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from task_mapreduce_spark.registry import QUERIES


def test_secondary_sort_layout(spark, sf_dir):
    df = QUERIES["sort_within_partitions"](spark, sf_dir)
    # spark_partition_id is a narrow projection — appending it does not
    # disturb the partitioning or the intra-partition order.
    pdf = df.withColumn("pid", F.spark_partition_id()).toPandas()
    assert len(pdf) > 0

    # each user_id maps to exactly one partition
    per_user = pdf.groupby("user_id")["pid"].nunique()
    assert (per_user == 1).all(), "user_id split across partitions"

    # toPandas preserves intra-partition row order per partition block;
    # verify each partition's rows are sorted by the secondary-sort key.
    for pid, g in pdf.groupby("pid"):
        key = list(zip(g["user_id"], g["ts"], g["event_id"]))
        assert key == sorted(key), f"partition {pid} not sorted"


def test_compacted_files_bounded_and_ts_clustered(spark, sf_dir):
    """sink_compact's written files must (a) respect the per-file row
    cap and (b) carry disjoint ts ranges, so parquet min/max stats can
    prune whole files for time-windowed reads."""
    import glob

    import pyarrow.parquet as pq

    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.operators.scale import _MAX_RECORDS_PER_FILE

    df = QUERIES["sink_compact"](spark, sf_dir)
    assert df.count() > 0  # materialize (write already ran eagerly)

    out = f"{_work_dir('compact')}/events"
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 4  # one per range partition at minimum

    spans = []
    total = 0
    for f in files:
        md = pq.ParquetFile(f)
        n = md.metadata.num_rows
        assert n <= _MAX_RECORDS_PER_FILE, f"{f} has {n} rows"
        total += n
        ts = pq.read_table(f, columns=["ts"])["ts"].to_pylist()
        assert ts == sorted(ts), f"{f} not ts-sorted"
        spans.append((min(ts), max(ts)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert lo2 >= hi1, "file ts ranges overlap — min/max pruning defeated"

    # nothing lost in the rewrite
    from task_mapreduce_spark.tables import load

    assert total == load(spark, sf_dir, "events").count()


def test_zorder_files_cluster_both_dimensions(spark, sf_dir):
    """sink_zorder's written files must carry disjoint morton ranges
    AND narrow per-file spans on BOTH underlying dimensions — the
    property that lets parquet min/max stats prune on either filter
    column."""
    import glob

    import pyarrow.parquet as pq

    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.tables import load

    df = QUERIES["sink_zorder"](spark, sf_dir)
    assert df.count() > 0

    out = f"{_work_dir('zorder')}/orders"
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 8

    spans = []
    total = 0
    for f in files:
        t = pq.read_table(f, columns=["morton", "x8", "y8"])
        m = t["morton"].to_pylist()
        assert m == sorted(m), f"{f} not morton-sorted"
        total += len(m)
        spans.append((min(m), max(m), t))
    spans.sort(key=lambda s: s[0])
    for (lo1, hi1, _), (lo2, hi2, _) in zip(spans, spans[1:]):
        assert lo2 >= hi1, "file morton ranges overlap — pruning defeated"

    # locality: a file covering ≤ 1/8 of morton space must span ≤ ~half
    # of each dimension's range (z-curve locality), not the full 0..255
    n_rows = load(spark, sf_dir, "orders").count()
    assert total == n_rows
    for lo, hi, t in spans:
        if hi - lo <= 65536 // 8:
            xs, ys = t["x8"].to_pylist(), t["y8"].to_pylist()
            assert max(xs) - min(xs) <= 160, "x span too wide for a z-run"
            assert max(ys) - min(ys) <= 160, "y span too wide for a z-run"


def test_merge_upsert_retry_is_idempotent(spark, sf_dir):
    # the MERGE contract sink_merge_upsert's docstring claims: applying
    # the SAME batch to the post-merge snapshot changes nothing — a
    # retried/replayed commit (the at-least-once delivery reality) is a
    # no-op because updates set batch-owned values (never a function of
    # the target) and deletes of absent keys do nothing
    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.operators.scale import (
        _merge_apply,
        _merge_base_batch,
        _merge_manifest,
        _merge_read_snapshot,
        sink_merge_upsert,
    )

    # build v1 + v2 via the registered key, then re-apply the batch
    sink_merge_upsert(spark, sf_dir).collect()
    store = _work_dir("merge_upsert")
    _, batch = _merge_base_batch(spark, sf_dir)
    man2 = _merge_manifest(store, 2)
    _merge_apply(spark, store, man2, batch, 3)

    man3 = _merge_manifest(store, 3)
    snap2 = _merge_read_snapshot(spark, store, man2)
    snap3 = _merge_read_snapshot(spark, store, man3)

    rows2 = {(r["k"], r["p"]): r["val"] for r in snap2.collect()}
    rows3 = {(r["k"], r["p"]): r["val"] for r in snap3.collect()}
    assert rows2, "empty snapshot — fixture drift?"
    assert rows3 == rows2, "retried MERGE mutated the table"

    # the retry rewrote exactly the batch's partitions that hold rows
    # (as v3) and carried everything else at its prior version; a batch
    # partition left without rows is in neither manifest
    v3_parts = {p for p, v in man3.items() if v == 3}
    batch_parts = {r["p"] for r in batch.select("p").distinct().collect()}
    assert man3.keys() == man2.keys()
    assert v3_parts == batch_parts & man2.keys()
    carried = {(p, v) for p, v in man3.items() if v != 3}
    prior = {(p, v) for p, v in man2.items() if p not in batch_parts}
    assert carried == prior


def test_merge_history_time_travel_and_concurrent_reader(spark, sf_dir):
    # the lakehouse semantics sink_merge_history's docstring claims:
    # (1) SNAPSHOT ISOLATION — a reader that resolved manifest v2
    # before the v3 commit reads the IDENTICAL table after it (data
    # files are immutable; commits only add); (2) tombstone lifecycle —
    # batch B resurrects at least one key batch A deleted, with B's
    # value; (3) per-partition version indirection — manifest v3 maps
    # some partition to data version 2 (carried across a generation).
    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.operators.scale import (
        _merge_base_batch,
        _merge_batch_b,
        _merge_manifest,
        _merge_read_snapshot,
        sink_merge_history,
    )

    # drive the chain; capture the v2 snapshot BETWEEN the two commits
    # by re-reading manifest v2 afterwards (files are immutable, so
    # "before v3" and "after v3" reads must agree — that equality IS
    # the concurrent-reader guarantee)
    sink_merge_history(spark, sf_dir).collect()
    store = _work_dir("merge_history")
    man2 = _merge_manifest(store, 2)
    man3 = _merge_manifest(store, 3)
    snap2 = {
        (r["k"], r["p"]): r["val"]
        for r in _merge_read_snapshot(spark, store, man2).collect()
    }
    snap3 = {
        (r["k"], r["p"]): r["val"]
        for r in _merge_read_snapshot(spark, store, man3).collect()
    }
    assert snap2, "empty v2 snapshot — fixture drift?"

    # (3) per-partition indirection across a generation: v3's manifest
    # must carry at least one partition at data version 2 and at least
    # one still at version 1 (batch B's window is wider than A's but
    # neither covers the full calendar)
    assert 2 in set(man3.values())
    assert 1 in set(man3.values())
    assert 3 in set(man3.values())

    # (2) resurrection: keys A deleted (in base, h2%2==1, od>=cutoff A)
    # that B re-inserted (h3%3==2) are ABSENT in v2, present in v3
    # with B's value (the original o_totalprice)
    batch_a = {r["k"]: r for r in _merge_base_batch(spark, sf_dir)[1].collect()}
    batch_b = {r["k"]: r for r in _merge_batch_b(spark, sf_dir).collect()}
    resurrected = [
        k
        for k, ra in batch_a.items()
        if ra["op"] == "D"
        and k in batch_b
        and batch_b[k]["op"] == "I"
    ]
    assert resurrected, "fixture produced no delete->reinsert key"
    for k in resurrected[:20]:
        p = batch_b[k]["p"]
        assert (k, p) not in snap2, "tombstoned key visible in v2"
        assert snap3.get((k, p)) == batch_b[k]["bval"], (
            "resurrected key missing or wrong value in v3"
        )

    # (1) the v2 snapshot read after the v3 commit equals the oracle's
    # from-scratch merge of (base, batch A) — i.e. the v3 commit did
    # not mutate v2's files.  Recompute base+A in-process.
    base = {
        (r["k"], r["p"]): r["val"]
        for r in _merge_base_batch(spark, sf_dir)[0].collect()
    }
    expect2 = dict(base)
    for k, rb in batch_a.items():
        key = (k, rb["p"])
        if rb["op"] == "D":
            expect2.pop(key, None)
        else:
            expect2[key] = rb["bval"]
    assert snap2 == expect2, "v2 snapshot drifted after the v3 commit"


def test_merge_vacuum_deletes_only_unreferenced_v1_partitions(spark, sf_dir):
    # the retention contract sink_merge_vacuum's docstring claims:
    # after vacuum (retain {v2, v3}), (a) every v1 partition batch A
    # rewrote is GONE from disk, (b) every v1 partition still referenced
    # by a retained manifest survives — including those only batch B
    # touched (the naive-vacuum corruption case), and (c) the expired
    # v1 snapshot is no longer fully readable while v2 still is.
    import os

    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.operators.scale import (
        _merge_base_batch,
        _merge_manifest,
        _merge_read_snapshot,
        sink_merge_vacuum,
    )

    sink_merge_vacuum(spark, sf_dir).collect()
    store = _work_dir("merge_vacuum")
    a_parts = {
        r["p"]
        for r in _merge_base_batch(spark, sf_dir)[1]
        .select("p")
        .distinct()
        .collect()
    }
    on_disk = {
        d.split("=", 1)[1]
        for d in os.listdir(f"{store}/data/v1")
        if d.startswith("p=")
    }
    assert not (a_parts & on_disk), "superseded v1 partition survived vacuum"

    man2 = _merge_manifest(store, 2)
    ref_v1 = {p for p, v in man2.items() if v == 1}
    assert ref_v1 <= on_disk, "vacuum deleted a partition v2 references"

    # v2 still serves end-to-end from the vacuumed store
    snap2 = _merge_read_snapshot(spark, store, man2)
    assert snap2.count() > 0
    # the expired v1 snapshot is genuinely incomplete: its manifest
    # references partitions whose files are gone
    v1_all = set(_merge_manifest(store, 1))
    assert v1_all - on_disk == a_parts


def test_changelog_cdf_matches_full_snapshot_diff(spark, sf_dir):
    # the CDF contract sink_changelog_cdf's docstring claims: the
    # manifest-pruned diff (only version-changed partitions ever joined)
    # equals the diff of the two FULL snapshots, recomputed here
    # in-process from the batch definitions — and the changelog carries
    # the lifecycle interactions the history key commits (resurrection
    # surfaces as 'insert', a B-overwrite of an A-update as 'update'
    # with both images, a B-tombstone as 'delete').
    from decimal import Decimal

    from task_mapreduce_spark.operators.scale import (
        _merge_base_batch,
        _merge_batch_b,
        sink_changelog_cdf,
    )

    got = {
        r["k"]: (r["change_type"], r["pre_val"], r["post_val"], r["p"])
        for r in sink_changelog_cdf(spark, sf_dir).collect()
    }

    # replay the chain in plain Python: base -> m2 (batch A) -> m3 (B)
    base, batch_a = _merge_base_batch(spark, sf_dir)
    m2 = {(r["k"], r["p"]): r["val"] for r in base.collect()}
    a_rows = batch_a.collect()
    for r in a_rows:
        if r["op"] == "D":
            m2.pop((r["k"], r["p"]), None)
        else:
            m2[(r["k"], r["p"])] = r["bval"]
    m3 = dict(m2)
    b_rows = _merge_batch_b(spark, sf_dir).collect()
    for r in b_rows:
        if r["op"] == "D":
            m3.pop((r["k"], r["p"]), None)
        else:
            m3[(r["k"], r["p"])] = r["bval"]

    def dec(v):
        return None if v is None else Decimal(f"{v:.2f}")

    expect = {}
    for (k, p) in set(m2) | set(m3):
        pre, post = dec(m2.get((k, p))), dec(m3.get((k, p)))
        if pre == post:
            continue
        change = (
            "insert" if pre is None else "delete" if post is None else "update"
        )
        expect[k] = (change, pre, post, p)
    assert got == expect, "pruned CDF differs from the full-snapshot diff"

    # lifecycle interactions are all represented (fixture sanity — the
    # history test proves they exist; here they must REACH the feed)
    a_ops = {r["k"]: r["op"] for r in a_rows}
    b_ops = {r["k"]: r["op"] for r in b_rows}
    kinds = {
        (a_ops.get(k), b_ops.get(k), got[k][0])
        for k in got
    }
    assert ("D", "I", "insert") in kinds, "resurrection missing from CDF"
    assert ("U", "U", "update") in kinds, "A-update overwrite missing"
    assert ("U", "D", "delete") in kinds, "re-delete missing from CDF"
    # every CDF row lives in a partition batch B touched — the pruning
    # derivation (changed = manifest-version diff) is complete
    b_parts = {r["p"] for r in b_rows}
    assert {v[3] for v in got.values()} <= b_parts
    n = next(iter(got.values()), None)
    assert n is not None, "empty changelog — fixture drift?"


def test_rollup_cdf_maintain_is_order_independent(spark, sf_dir):
    # the self-maintainability claim rollup_cdf_maintain's docstring
    # makes: count + fixed-scale decimal sum maintained from the feed
    # equal the from-scratch recompute in ANY feed application order.
    # The oracle proves maintained == scratch for the one order Spark
    # ran; here we replay the maintenance in exact Decimal arithmetic,
    # split the feed into halves applied in BOTH orders, and require
    # all three results identical — the property that lets a real
    # consumer apply CDC shards concurrently per key.
    from decimal import Decimal

    from task_mapreduce_spark.operators.scale import (
        _merge_base_batch,
        _merge_batch_b,
        rollup_cdf_maintain,
    )

    got = {
        r["p"]: (r["n_rows"], r["sum_val"])
        for r in rollup_cdf_maintain(spark, sf_dir).collect()
    }
    assert got, "empty maintained rollup — fixture drift?"

    # rebuild v2 state and the feed in plain Python (Decimal-exact)
    base, batch_a = _merge_base_batch(spark, sf_dir)
    m2 = {(r["k"], r["p"]): r["val"] for r in base.collect()}
    for r in batch_a.collect():
        if r["op"] == "D":
            m2.pop((r["k"], r["p"]), None)
        else:
            m2[(r["k"], r["p"])] = r["bval"]
    m3 = dict(m2)
    for r in _merge_batch_b(spark, sf_dir).collect():
        if r["op"] == "D":
            m3.pop((r["k"], r["p"]), None)
        else:
            m3[(r["k"], r["p"])] = r["bval"]

    def dec(v):
        return Decimal(f"{v:.2f}")

    feed = []
    for (k, p) in set(m2) | set(m3):
        pre = dec(m2[(k, p)]) if (k, p) in m2 else None
        post = dec(m3[(k, p)]) if (k, p) in m3 else None
        if pre != post:
            feed.append((k, p, pre, post))

    def apply_feed(state, rows):
        out = dict(state)
        for _k, p, pre, post in rows:
            n, s = out.get(p, (0, Decimal(0)))
            n += (post is not None) - (pre is not None)
            s += (post or Decimal(0)) - (pre or Decimal(0))
            out[p] = (n, s)
        return {p: v for p, v in out.items() if v[0] > 0}

    state2 = {}
    for (k, p), v in m2.items():
        n, s = state2.get(p, (0, Decimal(0)))
        state2[p] = (n + 1, s + dec(v))

    lo = [f for f in feed if f[0] % 2 == 0]
    hi = [f for f in feed if f[0] % 2 == 1]
    one_shot = apply_feed(state2, feed)
    lo_first = apply_feed(apply_feed(state2, lo), hi)
    hi_first = apply_feed(apply_feed(state2, hi), lo)
    assert one_shot == lo_first == hi_first, "maintenance is order-dependent"

    # and the Spark-maintained view equals the replay (counts exact,
    # sums equal after the same decimal→double conversion)
    assert set(got) == set(one_shot)
    for p, (n, s) in one_shot.items():
        gn, gs = got[p]
        assert gn == n, f"{p}: maintained count {gn} != replay {n}"
        assert gs == float(s), f"{p}: maintained sum {gs} != replay {s}"


def test_merge_snapshot_missing_version_raises(spark, sf_dir):
    # a manifest that maps a partition to a data version with no
    # directory (vacuumed, or never written) must fail LOUDLY at read
    # time: a silently missing partition would read back as an empty one
    import pytest
    from pyspark.errors import AnalysisException

    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.operators.scale import (
        _merge_manifest,
        _merge_read_snapshot,
        sink_merge_upsert,
    )

    sink_merge_upsert(spark, sf_dir).collect()  # builds the v1/v2 store
    store = _work_dir("merge_upsert")
    man2 = _merge_manifest(store, 2)
    p = next(p for p, v in man2.items() if v == 2)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        _merge_read_snapshot(spark, store, {**man2, p: 99}).collect()
    # and the committed manifest still serves values
    assert _merge_read_snapshot(spark, store, man2).count() > 0


def test_merge_snapshot_missing_partition_raises(spark, sf_dir):
    # a partition directory deleted from a data version that is still
    # live must fail the read, not read back as an empty partition: the
    # commit maps only partitions that wrote a directory, so a missing
    # one is always lost data
    import shutil

    import pytest
    from pyspark.errors import AnalysisException

    from task_mapreduce_spark.operators.relational import _work_dir
    from task_mapreduce_spark.operators.scale import (
        _merge_manifest,
        _merge_read_snapshot,
        sink_merge_upsert,
    )

    sink_merge_upsert(spark, sf_dir).collect()  # builds the v1/v2 store
    store = _work_dir("merge_upsert")
    man2 = _merge_manifest(store, 2)
    p = next(p for p, v in sorted(man2.items()) if v == 1)
    shutil.rmtree(f"{store}/data/v1/p={p}")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        _merge_read_snapshot(spark, store, man2).collect()
