"""Invariant tests for the training-pipeline operators — properties
the DuckDB oracle can't express (conservation laws, bounds) plus the
plan shapes that must survive 100 TB."""

from __future__ import annotations

import pyspark.sql.functions as F

from task_mapreduce_spark.operators.training_pipeline import _PACK_BUDGET
from task_mapreduce_spark.registry import QUERIES
from task_mapreduce_spark.tables import load


def test_pack_sequences_conserves_docs_and_tokens(spark, sf_dir):
    bins = QUERIES["pack_sequences"](spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    totals = bins.agg(
        F.sum("n_docs").alias("docs"), F.sum("bin_tokens").alias("tokens")
    ).first()
    want = d.select(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(F.split("text", " "))).alias("tokens"),
    ).first()
    assert totals["docs"] == want["docs"]
    assert totals["tokens"] == want["tokens"]


def test_pack_sequences_bins_contiguous_and_filled(spark, sf_dir):
    rows = QUERIES["pack_sequences"](spark, sf_dir).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        ids = sorted(r["bin_id"] for r in rs)
        # contiguous fill ⇒ bin ids are 0..max with no gaps
        assert ids == list(range(len(ids))), lang
        # every bin except the last must have reached the budget before
        # its successor opened: its docs' tokens-before span the budget,
        # so fill ≥ budget - (largest doc that straddled the boundary).
        for r in rs:
            assert r["n_docs"] >= 1
            assert r["first_doc"] <= r["last_doc"]


def test_sample_stratified_rates_and_determinism(spark, sf_dir):
    a = QUERIES["sample_stratified"](spark, sf_dir).collect()
    b = QUERIES["sample_stratified"](spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # same rows every run
    d = load(spark, sf_dir, "documents")
    full = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in a:
        assert 0 < r["n_sampled"] <= full[r["lang"]]
        # the unbiased estimate should be in the right ballpark (hash
        # sampling at these stratum sizes: generous 3x bound, no flakes)
        assert r["n_estimated"] <= 3 * full[r["lang"]]


def test_embedding_quantize_code_bounds(spark, sf_dir):
    q = QUERIES["embedding_quantize"](spark, sf_dir)
    # floor(x / fl(amax/127)) can reach -128 for x == -amax when the
    # rounded scale is slightly below the true amax/127, so the
    # per-element code bound is [-128, 127], not [-127, 127].
    bad = q.filter(
        (F.col("q_l1") > 128 * F.col("n_dims")) | (F.col("scale_r") <= 0)
    ).count()
    assert bad == 0
    assert q.count() > 0


def test_events_funnel_stages_monotone(spark, sf_dir):
    r = QUERIES["events_funnel"](spark, sf_dir).first()
    assert r["n_view"] >= r["n_view_then_click"] >= r["n_full_funnel"] >= 0
    if r["n_view"]:
        assert 0.0 <= r["conversion"] <= 1.0


def test_cdc_upsert_one_row_per_key(spark, sf_dir):
    out = QUERIES["cdc_upsert"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    assert out.count() == e.select("user_id", "event_type").distinct().count()
    # last write wins: the kept ts is the max per key
    mx = e.groupBy("user_id", "event_type").agg(F.max("ts").alias("last_ts"))
    joined = out.alias("o").join(mx.alias("m"), ["user_id", "event_type"])
    assert joined.filter(F.col("o.last_ts") != F.col("m.last_ts")).count() == 0


def test_rollup_hypertable_levels_sum_consistently(spark, sf_dir):
    df = QUERIES["rollup_hypertable"](spark, sf_dir)
    fine = df.filter(F.col("gid") == 0).agg(F.sum("cnt")).first()[0]
    grand = df.filter(F.col("gid") == 7).agg(F.sum("cnt")).first()[0]
    day_level = df.filter(F.col("gid") == 1).agg(F.sum("cnt")).first()[0]
    assert fine == grand == day_level  # every level partitions the same rows


def test_text_bigrams_within_token_budget(spark, sf_dir):
    bg = QUERIES["text_bigrams"](spark, sf_dir)
    n_bigrams = bg.agg(F.sum("n")).first()[0] or 0
    d = load(spark, sf_dir, "documents")
    # total bigram occurrences (incl. the n==1 tail that the op cuts)
    # is exactly Σ(tokens-1) over docs with ≥2 tokens
    cap = d.select(
        F.sum(
            F.when(F.size(F.split("text", " ")) >= 2, F.size(F.split("text", " ")) - 1)
        )
    ).first()[0]
    assert 0 < n_bigrams <= cap


def test_pack_budget_positive():
    assert _PACK_BUDGET > 0


def test_profile_columns_one_row_per_column_consistent_counts(spark, sf_dir):
    prof = QUERIES["profile_columns"](spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    n = li.count()
    assert len(prof) == 5
    for r in prof:
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n
        # min_s/max_s are stringified; compare numerically when both
        # parse (lexicographic order inverts for e.g. min=9, max=10)
        try:
            lo, hi = float(r["min_s"]), float(r["max_s"])
        except (TypeError, ValueError):
            lo, hi = r["min_s"], r["max_s"]
        assert lo <= hi or r["n_distinct"] == 1


def test_delta_encode_restart_markers_and_order(spark, sf_dir):
    enc = QUERIES["delta_encode"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    # exactly one NULL-delta restart marker per user series
    assert (
        enc.filter(F.col("dt_us").isNull()).count()
        == e.select("user_id").distinct().count()
    )
    # series are ordered: every encoded time delta is non-negative
    assert enc.filter(F.col("dt_us") < 0).count() == 0
    assert enc.count() == e.count()


def test_incremental_rollup_merge_equals_recompute(spark, sf_dir):
    from task_mapreduce_spark.functions.exact import dsum

    merged = QUERIES["incremental_rollup"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    full = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        dsum("value").alias("sum_value"),
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_anomaly_mad_outliers_bounded(spark, sf_dir):
    rows = QUERIES["anomaly_mad"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_outliers"] <= r["n_events"]
        assert r["mad_r"] >= 0
        # robust screen: by construction at most half the points can sit
        # beyond 3 MADs of the median (MAD is the deviations' median)
        assert r["n_outliers"] <= r["n_events"] / 2


def test_scd2_intervals_partition_each_user_timeline(spark, sf_dir):
    rows = QUERIES["scd2_dimension"](spark, sf_dir).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    n_events_total = 0
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        # versions dense from 1; exactly one open (current) interval
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r["is_current"] for r in vs) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        for prev, nxt in zip(vs, vs[1:]):
            # intervals chain with no gaps or overlaps
            assert prev["valid_to"] == nxt["valid_from"]
            # run collapsing: consecutive versions change the attribute
            assert prev["event_type"] != nxt["event_type"]
        n_events_total += sum(r["n_events"] for r in vs)
    n_events = load(spark, sf_dir, "events").count()
    assert n_events_total == n_events  # every change event lands in a run


# ---------------------------------------------------------------------------
# sessions_concurrency
# ---------------------------------------------------------------------------

_EVENTS_RAW_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, t_seconds, user_id); ts written as epoch-nanos
    long, the driver corpus's TIMESTAMP(NANOS) layout."""
    data = [
        (eid, int(t * 1_000_000_000), uid, "view", 1.0, "{}")
        for eid, t, uid in rows
    ]
    df = spark.createDataFrame(data, _EVENTS_RAW_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_concurrency_planted_overlaps(spark, tmp_path):
    # u1: events at 0s and 600s -> session [0, 600]; u2: [300, 300]
    # inside it; u4: [600, 600] touching its endpoint (inclusive
    # overlap); u3: [7200, 7200] isolated
    sf = _write_events(
        spark,
        tmp_path,
        [(1, 0, 1), (2, 600, 1), (3, 300, 2), (4, 7200, 3), (5, 600, 4)],
    )
    out = {
        r["user_id"]: r["n_concurrent"]
        for r in QUERIES["sessions_concurrency"](spark, sf).collect()
    }
    assert out == {1: 2, 2: 1, 3: 0, 4: 1}


def test_concurrency_matches_bruteforce(spark, sf_dir):
    # the sweep must agree with the quadratic definition on the real
    # fixture (the oracle already re-checks the sweep construction;
    # this checks the DEFINITION independently of any sweep)
    sess = [
        (r["user_id"], r["session_seq"], r["start_us"],
         r["start_us"] + r["duration_us"])
        for r in QUERIES["sessionize_events"](spark, sf_dir).collect()
    ]
    want = {}
    for u, q, s, e in sess:
        want[(u, q)] = sum(
            1
            for u2, q2, s2, e2 in sess
            if (u2, q2) != (u, q) and s2 <= e and e2 >= s
        )
    got = {
        (r["user_id"], r["session_seq"]): r["n_concurrent"]
        for r in QUERIES["sessions_concurrency"](spark, sf_dir).collect()
    }
    assert got == want


def test_pattern_match_order_and_forbidden_symbol(spark, tmp_path):
    # u1: v c p  -> matched; u2: v e c p -> error between stages, NOT
    # matched; u3: p c v -> right symbols wrong order, NOT matched;
    # u4: ts tie between view and click broken by event_id (1 < 2) ->
    # matched
    rows = [
        (1, 10, 1, "view"), (2, 20, 1, "click"), (3, 30, 1, "purchase"),
        (4, 10, 2, "view"), (5, 15, 2, "error"), (6, 20, 2, "click"),
        (7, 30, 2, "purchase"),
        (8, 10, 3, "purchase"), (9, 20, 3, "click"), (10, 30, 3, "view"),
        (11, 10, 4, "view"), (12, 10, 4, "click"), (13, 30, 4, "purchase"),
    ]
    data = [
        (eid, int(t * 1_000_000_000), uid, et, 1.0, "{}")
        for eid, t, uid, et in rows
    ]
    df = spark.createDataFrame(data, _EVENTS_RAW_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["user_id"]: r for r in
           QUERIES["events_pattern_match"](spark, str(tmp_path)).collect()}
    assert out[1]["matched"] and out[1]["seq"] == "vcp"
    assert not out[2]["matched"] and out[2]["seq"] == "vecp"
    assert not out[3]["matched"] and out[3]["seq"] == "pcv"
    assert out[4]["matched"] and out[4]["seq"] == "vcp"


def test_resample_gapfill_planted_gaps_interpolate_linearly(spark, tmp_path):
    # type "a": bucket 0 holds values {1.0, 3.0} (avg 2.0), bucket 3
    # holds {8.0}; buckets 1-2 are gaps on the dense spine and must
    # interpolate to 2 + 6*(1/3) = 4.0 and 2 + 6*(2/3) = 6.0.
    # type "b": one present bucket -> a 1-row spine, no gaps.
    data = [
        (1, 0, 1, "a", 1.0, "{}"),
        (2, 10, 1, "a", 3.0, "{}"),
        (3, 3 * 3600, 2, "a", 8.0, "{}"),
        (4, 7 * 3600, 3, "b", 5.0, "{}"),
    ]
    rows = [
        (eid, int(t * 1_000_000_000), uid, et, v, p)
        for eid, t, uid, et, v, p in data
    ]
    spark.createDataFrame(rows, _EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/events.parquet")

    out = {
        (r["event_type"], r["bucket_hr"]): r
        for r in QUERIES["events_resample_gapfill"](spark, str(tmp_path)).collect()
    }
    assert len(out) == 4 + 1  # dense spine 0..3 for "a", single bucket for "b"
    a0, a1, a2, a3 = (out[("a", i)] for i in range(4))
    assert (a0["n_events"], a0["avg_value"], a0["value_filled"], a0["is_gap"]) == (2, 2.0, 2.0, False)
    assert (a1["n_events"], a1["avg_value"], a1["value_filled"], a1["is_gap"]) == (0, None, 4.0, True)
    assert (a2["n_events"], a2["avg_value"], a2["value_filled"], a2["is_gap"]) == (0, None, 6.0, True)
    assert (a3["n_events"], a3["avg_value"], a3["value_filled"], a3["is_gap"]) == (1, 8.0, 8.0, False)
    b = out[("b", 7)]
    assert (b["n_events"], b["value_filled"], b["is_gap"]) == (1, 5.0, False)


def test_embedding_pq_invariants(spark, sf_dir):
    from task_mapreduce_spark.operators.training_pipeline import _PQ_M
    from task_mapreduce_spark.tables import load

    rows = QUERIES["embedding_pq"](spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    # every vector encodes every subspace exactly once
    assert len(rows) == n_vecs * _PQ_M
    seen = {(r["vec_id"], r["sub"]) for r in rows}
    assert len(seen) == len(rows)
    codes = {r["code"] for r in rows}
    for r in rows:
        assert 0 <= r["sub"] < _PQ_M
        assert r["err2"] >= 0.0
    # codewords are real corpus vectors chosen by the hash-order rule
    import hashlib

    def h48(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)

    ids = [r["vec_id"] for r in rows]
    n = n_vecs
    import math
    stride = max(1, math.floor(n / max(1.0, math.ceil(math.sqrt(n)))))
    seeds = {i for i in set(ids) if h48(i) % stride == 0}
    # codeword IDS are preserved through Lloyd refinement (empty
    # codewords drop), so codes stay a subset of the hash-order seeds
    assert codes <= seeds
    # against the seed codebook a seed vector's own slice is at distance
    # 0 (the self-encode identity the codebook rule rests on) ...
    from task_mapreduce_spark.operators.training_pipeline import (
        _pq_assign,
        _pq_slices,
    )

    rows0 = _pq_assign(*_pq_slices(spark, sf_dir)).collect()
    by_vec0 = {}
    for r in rows0:
        by_vec0.setdefault(r["vec_id"], []).append(r)
    for s in seeds:
        assert all(r["err2"] == 0.0 for r in by_vec0[s]), s
    # ... and each Lloyd round is monotone: total distortion with the
    # refined codebooks never exceeds the seed-codebook distortion
    # (assignment and mean steps both non-increasing; tiny epsilon for
    # the round-9/round-6 layers)
    tot0 = sum(r["err2"] for r in rows0)
    tot1 = sum(r["err2"] for r in rows)
    assert tot1 <= tot0 + 1e-3, (tot1, tot0)


def test_sim_search_pq_rerank_recall_and_invariants(spark, sf_dir):
    from task_mapreduce_spark.operators.llm_extras import _ANN_N_QUERIES
    from task_mapreduce_spark.operators.training_pipeline import _PQ_TOP_K
    from task_mapreduce_spark.tables import load

    rows = QUERIES["sim_search_pq"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        assert r["dist"] >= 0.0 and r["adc_dist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(_ANN_N_QUERIES))
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    rec = 0.0
    for q, grp in by_q.items():
        # ranks contiguous 1..k on the unique (dist, vec_id) order
        assert sorted(r["rank"] for r in grp) == list(
            range(1, _PQ_TOP_K + 1)
        )
        got = {r["vec_id"] for r in grp}
        qv = vecs[q]
        d = {
            i: sum((a - b) ** 2 for a, b in zip(v, qv))
            for i, v in vecs.items()
            if i != q
        }
        exact = [i for i, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))][
            :_PQ_TOP_K
        ]
        rec += len(got & set(exact)) / _PQ_TOP_K
    rec /= len(by_q)
    # measured 0.56 at sf0.001 / 0.68 at sf0.01 with ONE per-subspace
    # Lloyd round (round 9; untrained seed codebooks sat at 0.62/0.52 —
    # the round bought +0.16 at the driver's correctness scale) + the
    # 50-candidate exact rerank; 0.5 pins the two-stage pattern working
    # without over-fitting the fixture
    assert rec >= 0.5, rec


def test_sim_search_pq_const_recall_and_linearity_rule(spark, sf_dir):
    # the registered constant-codebook configuration (round 12): same
    # two-stage invariants as the flat key, codebook size pinned ≈ K
    # regardless of corpus size (the linear-encode regime), recall
    # floor from the measured K grid (0.54/0.62/0.78 at 16/32/64)
    from task_mapreduce_spark.operators.training_pipeline import (
        _pq_slices,
        _PQ_CONST_K,
        _PQ_M,
        _PQ_TOP_K,
    )
    from task_mapreduce_spark.tables import load

    rows = QUERIES["sim_search_pq_const"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    rec = 0.0
    for q, grp in by_q.items():
        # ranks contiguous from 1, never more than k — a query whose
        # probed cells yield fewer than k candidates legitimately emits
        # a shorter list (round-12 advice: the exact-k assertion broke
        # on tiny/rewritten fixtures, not on real defects)
        ranks = [r["rank"] for r in grp]
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= _PQ_TOP_K
        got = {r["vec_id"] for r in grp}
        qv = vecs[q]
        d = {
            i: sum((a - b) ** 2 for a, b in zip(v, qv))
            for i, v in vecs.items()
            if i != q
        }
        exact = [
            i for i, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))
        ][:_PQ_TOP_K]
        rec += len(got & set(exact)) / _PQ_TOP_K
    rec /= len(by_q)
    assert rec >= 0.55, rec

    # the codebook really is ≈ K per subspace (the constant-regime
    # rule, NOT √N): seed count per sub is hash-binomial around K
    _, cs = _pq_slices(spark, sf_dir, target_k=_PQ_CONST_K)
    per_sub = cs.groupBy("sub").count().collect()
    assert len(per_sub) == _PQ_M
    for r in per_sub:
        assert 0.4 * _PQ_CONST_K <= r["count"] <= 2.0 * _PQ_CONST_K


# ---------------------------------------------------------------------------
# events_attribution
# ---------------------------------------------------------------------------


def test_attribution_matches_pure_python_replay(spark, sf_dir):
    # independent replay: sort each user's events by (us, event_id),
    # carry the last prior touch, credit purchases — no SQL shared with
    # either engine
    from collections import defaultdict
    from decimal import Decimal

    ev = sorted(
        load(spark, sf_dir, "events").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    got = defaultdict(lambda: [0, Decimal(0), 0, 0])  # n, rev, lat_us, n_lat
    last_touch = {}
    prev_user = None
    for r in ev:
        if r["user_id"] != prev_user:
            last_touch, prev_user = None, r["user_id"]
        # tables.load normalizes events.ts to TIMESTAMP_NTZ on every
        # reader build, so collect() always yields naive datetimes
        # (machine tz UTC) — no epoch-nanos-long branch can be reached
        # here (round-10 ADVICE: the old legacy branch was dead code)
        from datetime import timezone

        sec = int(r["ts"].replace(tzinfo=timezone.utc).timestamp())
        us = sec * 1_000_000 + r["ts"].microsecond
        if r["event_type"] == "purchase":
            ch = last_touch[0] if last_touch else "unattributed"
            g = got[ch]
            g[0] += 1
            g[1] += Decimal(str(round(r["value"], 4)))
            if last_touch:
                g[2] += us - last_touch[1]
                g[3] += 1
        if r["event_type"] in ("click", "view"):
            last_touch = (r["event_type"], us)
    rows = QUERIES["events_attribution"](spark, sf_dir).collect()
    assert {r["channel"] for r in rows} == set(got)
    for r in rows:
        n, rev, lat, n_lat = got[r["channel"]]
        assert r["n_conversions"] == n
        assert abs(r["revenue"] - float(rev)) < 1e-6
        if n_lat:
            assert r["avg_latency_s"] == round(lat / n_lat / 1_000_000, 6)
        else:
            assert r["avg_latency_s"] is None


def test_attribution_conversions_cover_all_purchases(spark, sf_dir):
    n_purchases = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    rows = QUERIES["events_attribution"](spark, sf_dir).collect()
    assert sum(r["n_conversions"] for r in rows) == n_purchases
    assert {r["channel"] for r in rows} <= {"click", "view", "unattributed"}


def test_attribution_incremental_composition(spark, sf_dir):
    # the 100 TB operating mode: process events in time-sliced batches,
    # carrying only each user's LAST batch-1 touch forward — the
    # per-conversion attribution must equal the full-history run
    from task_mapreduce_spark.operators.training_pipeline import (
        _attributed_conversions,
    )

    e = load(spark, sf_dir, "events")
    rows = e.select("event_id", "user_id", "event_type", "ts").collect()

    def us_of(r):
        # load() always yields TIMESTAMP_NTZ datetimes (see the replay
        # test above) — no legacy long branch
        from datetime import timezone

        return (
            int(r["ts"].replace(tzinfo=timezone.utc).timestamp()) * 10**6
            + r["ts"].microsecond
        )

    ordered = sorted(rows, key=lambda r: (us_of(r), r["event_id"]))
    pivot = len(ordered) // 2
    b1, b2 = ordered[:pivot], ordered[pivot:]
    last_touch = {}
    for r in b1:  # already in (us, event_id) order
        if r["event_type"] in ("click", "view"):
            last_touch[r["user_id"]] = r["event_id"]
    b1_ids = [r["event_id"] for r in b1]
    carry_ids = set(last_touch.values())
    b2_ids = [r["event_id"] for r in b2] + sorted(carry_ids)

    def conv_map(df):
        return {
            r["event_id"]: (r["channel"], r["latency_us"])
            for r in _attributed_conversions(df).collect()
        }

    full = conv_map(e)
    part1 = conv_map(e.filter(F.col("event_id").isin(b1_ids)))
    part2 = conv_map(e.filter(F.col("event_id").isin(b2_ids)))
    assert set(part1) | set(part2) == set(full)
    assert not set(part1) & set(part2)
    merged = {**part1, **part2}
    assert merged == full
    # the carried state is REAL: some batch-2 purchase must have been
    # attributed to a batch-1 touch, or the split proved nothing
    b2_purchases_with_b1_touch = [
        eid for eid in part2
        if eid not in carry_ids and merged[eid][0] != "unattributed"
    ]
    assert b2_purchases_with_b1_touch or not part2, "vacuous split"


# ---------------------------------------------------------------------------
# events_attribution_incremental
# ---------------------------------------------------------------------------


def test_attribution_incremental_equals_from_scratch(spark, sf_dir):
    # the registered key's rows must equal the from-scratch
    # per-conversion run (channel, value, latency per purchase), with
    # the batch tag matching the integer-midpoint pivot
    from task_mapreduce_spark.operators.training_pipeline import (
        _attributed_conversions,
    )

    got = {
        r["event_id"]: (r["batch"], r["channel"], r["value"],
                        r["latency_us"])
        for r in QUERIES["events_attribution_incremental"](
            spark, sf_dir
        ).collect()
    }
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mn, mx = e.agg(F.min(us), F.max(us)).first()
    pivot = (mn + mx) // 2
    scratch = _attributed_conversions(e)
    want = {}
    for r in scratch.join(
        e.select("event_id", us.alias("us")), "event_id"
    ).collect():
        batch = 1 if r["us"] < pivot else 2
        want[r["event_id"]] = (
            batch, r["channel"], r["value"], r["latency_us"]
        )
    assert got == want


def test_attribution_incremental_carried_state_fires(spark, sf_dir):
    # the split must be NON-VACUOUS: some batch-2 purchase has to be
    # attributed to a batch-1 touch (latency spans the pivot), or the
    # key proved nothing about carried state
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mn, mx = e.agg(F.min(us), F.max(us)).first()
    pivot = (mn + mx) // 2
    rows = (
        QUERIES["events_attribution_incremental"](spark, sf_dir)
        .join(e.select("event_id", us.alias("us")), "event_id")
        .filter(
            (F.col("batch") == 2)
            & F.col("latency_us").isNotNull()
            & (F.col("us") - F.col("latency_us") < F.lit(pivot))
        )
        .count()
    )
    assert rows > 0, "no cross-pivot attribution — vacuous split"


# ---------------------------------------------------------------------------
# pq_index_persist
# ---------------------------------------------------------------------------


def test_pq_index_persist_round_trip_bit_exact(spark, sf_dir):
    # reloaded-store ADC + rerank must reproduce the live sim_search_pq
    # path bit-exactly: codes are integers, codebook elements round-9
    # doubles — parquet stores both exactly
    live = {
        (r["query_id"], r["vec_id"]): (r["adc_dist"], r["dist"], r["rank"])
        for r in QUERIES["sim_search_pq"](spark, sf_dir).collect()
    }
    reloaded = {
        (r["query_id"], r["vec_id"]): (r["adc_dist"], r["dist"], r["rank"])
        for r in QUERIES["pq_index_persist"](spark, sf_dir).collect()
    }
    assert reloaded == live


def test_pq_index_persist_audit_counts(spark, sf_dir):
    from task_mapreduce_spark.operators.training_pipeline import _PQ_M

    rows = QUERIES["pq_index_persist"](spark, sf_dir).collect()
    assert rows
    n = load(spark, sf_dir, "embeddings").count()
    codes = {r["index_codes"] for r in rows}
    words = {r["index_codewords"] for r in rows}
    # the code table is exactly N*M rows: a dropped or duplicated
    # posting breaks this even if the probe set dodges it
    assert codes == {n * _PQ_M}
    (w,) = words
    # per-subspace codebooks: between M (one codeword each) and
    # M * ~2*sqrt(N) (the seed-stride ceiling)
    assert _PQ_M <= w <= _PQ_M * (2 * int(n ** 0.5) + 2)


def test_sim_search_ivfpq_recall_and_invariants(spark, sf_dir):
    # the composed IVFADC key (round 12; hier coarse level + two-level
    # size-scaled probe as of round 13): two-stage invariants plus a
    # recall floor.  Composed recall is bounded by the IVF probe's own
    # recall ceiling times residual-PQ shortlist quality — measured
    # 0.60/0.70 at sf0.001/0.01 on the linear coarse level (the flat
    # √N coarse level measured 0.54/0.52); 0.45 pins the composition
    # working without over-fitting the fixture.
    from task_mapreduce_spark.operators.training_pipeline import _PQ_TOP_K
    from task_mapreduce_spark.tables import load

    rows = QUERIES["sim_search_ivfpq"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        assert r["dist"] >= 0.0 and r["adc_dist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "composed index returned nothing"
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    rec = 0.0
    for q, grp in by_q.items():
        # ranks contiguous from 1, never more than k — a query whose
        # probed cells yield fewer than k candidates legitimately emits
        # a shorter list (round-12 advice: the exact-k assertion broke
        # on tiny/rewritten fixtures, not on real defects)
        ranks = [r["rank"] for r in grp]
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= _PQ_TOP_K
        got = {r["vec_id"] for r in grp}
        qv = vecs[q]
        d = {
            i: sum((a - b) ** 2 for a, b in zip(v, qv))
            for i, v in vecs.items()
            if i != q
        }
        exact = [
            i for i, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))
        ][:_PQ_TOP_K]
        rec += len(got & set(exact)) / _PQ_TOP_K
    rec /= len(by_q)
    assert rec >= 0.45, rec


def test_drift_psi_detects_planted_shift(spark, tmp_path):
    # the metric's one job: a shifted numeric distribution scores PSI
    # well past the 0.25 "drifted" threshold while an unchanged
    # categorical stays under 0.05 — plus a pure-Python replay of the
    # exact formula (smoothing, rounded ln terms, decimal total)
    # against the operator's own per-bin counts.
    import math
    from datetime import datetime, timezone
    from decimal import Decimal

    t_ref = datetime(2024, 1, 10, tzinfo=timezone.utc).timestamp()
    t_cur = datetime(2024, 1, 25, tzinfo=timezone.utc).timestamp()
    types = ["click", "error", "purchase", "signup", "view"]
    data = []
    for i in range(200):  # reference: value uniform 0..9
        data.append(
            (i, int(t_ref * 1e9), i % 7, types[i % 5], float(i % 10), "{}")
        )
    for i in range(200):  # current: value shifted into 5.0..9.5
        data.append(
            (1000 + i, int(t_cur * 1e9), i % 7, types[i % 5],
             5.0 + (i % 10) / 2.0, "{}")
        )
    spark.createDataFrame(data, _EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/events.parquet")

    rows = QUERIES["profile_drift_psi"](spark, str(tmp_path)).collect()
    by_feat = {}
    for r in rows:
        by_feat.setdefault(r["feature"], []).append(r)
    assert len(by_feat["value"]) == 10       # all bins, empties included
    assert len(by_feat["event_type"]) == 5
    psi = {f: rs[0]["psi_total"] for f, rs in by_feat.items()}
    assert psi["value"] > 0.25, f"planted shift not flagged: {psi}"
    assert psi["event_type"] < 0.05, f"stable feature flagged: {psi}"

    # replay the formula from the operator's own counts
    for feat, rs in by_feat.items():
        b = float(len(rs))
        nref = sum(r["n_ref"] for r in rs)
        ncur = sum(r["n_cur"] for r in rs)
        total = Decimal(0)
        for r in rs:
            p_ref = (r["n_ref"] + 0.5) / (nref + 0.5 * b)
            p_cur = (r["n_cur"] + 0.5) / (ncur + 0.5 * b)
            term = round((p_cur - p_ref) * math.log(p_cur / p_ref), 6)
            assert abs(term - r["psi_term"]) < 2e-6, (feat, r["bin"])
            total += Decimal(f"{r['psi_term']:.6f}")
        assert abs(float(total) - rs[0]["psi_total"]) < 1e-9, feat
