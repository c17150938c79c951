"""Property-based tests (SURVEY.md §5.4): algebraic identities every
relational engine must satisfy, over hypothesis-generated frames.
These catch operator-composition bugs the example-based oracle tests
can't (they only check the specific registered queries)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from pyspark.sql import functions as F

from task_mapreduce_spark.functions.hashing import hash48, hash48_sql

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=5),
        st.sampled_from(["x", "y", "z", None]),
    ),
    min_size=0,
    max_size=40,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "a INT, b INT, s STRING")


@_SETTINGS
@given(rows=ROWS)
def test_filter_composition(spark, rows):
    df = _df(spark, rows)
    p, q = F.col("a") > 0, F.col("b") < 3
    assert df.filter(p).filter(q).count() == df.filter(p & q).count()


@_SETTINGS
@given(rows=ROWS)
def test_union_all_counts_add(spark, rows):
    df = _df(spark, rows)
    assert df.unionByName(df).count() == 2 * df.count()


@_SETTINGS
@given(rows=ROWS)
def test_distinct_idempotent(spark, rows):
    df = _df(spark, rows)
    d1 = df.distinct()
    assert d1.count() == d1.distinct().count()
    assert d1.count() <= max(df.count(), 0) if rows else d1.count() == 0


@_SETTINGS
@given(rows=ROWS, k=st.integers(min_value=1, max_value=10))
def test_topk_is_prefix_of_sort(spark, rows, k):
    df = _df(spark, rows)
    order = [F.desc("a"), F.asc("b"), F.asc_nulls_last("s")]
    full = [tuple(r) for r in df.orderBy(*order).collect()]
    top = [tuple(r) for r in df.orderBy(*order).limit(k).collect()]
    assert top == full[:k]


@_SETTINGS
@given(rows=ROWS)
def test_subtract_intersect_partition(spark, rows):
    # distinct rows split exactly into (∩ evens) ⊎ (∖ evens)
    df = _df(spark, rows).select("a").distinct()
    evens = df.filter(F.col("a") % 2 == 0)
    inter = df.intersect(evens).count()
    diff = df.subtract(evens).count()
    assert inter + diff == df.count()


@_SETTINGS
@given(rows=ROWS)
def test_groupby_count_totals(spark, rows):
    df = _df(spark, rows)
    per_group = df.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    total = per_group.agg(F.sum("c")).first()[0]
    assert (total or 0) == df.count()


@_SETTINGS
@given(rows=ROWS)
def test_explode_inverse_of_collect(spark, rows):
    df = _df(spark, rows)
    n = df.filter(F.col("s").isNotNull()).count()
    regrouped = (
        df.filter(F.col("s").isNotNull())
        .groupBy("b")
        .agg(F.collect_list("s").alias("ss"))
        .select(F.explode("ss"))
        .count()
    )
    assert regrouped == n


DOC_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),      # doc_id (deduped below)
        st.sampled_from(["en", "de", "zh"]),             # lang
        st.integers(min_value=1, max_value=600),         # n_tokens
    ),
    min_size=0,
    max_size=40,
)


@_SETTINGS
@given(rows=DOC_ROWS, budget=st.integers(min_value=600, max_value=1600))
def test_contiguous_fill_packing_invariants(spark, rows, budget):
    # the pack_sequences formula on arbitrary frames: bins partition the
    # docs, ids are dense from 0 per lang, fills conserve tokens.
    # Precondition (matches the operator's contract): every doc fits the
    # budget — an oversized doc advances the cursor past whole bins
    # (hypothesis found that; real packers chunk long docs upstream),
    # so budget ≥ the generator's max n_tokens.
    rows = list({r[0]: r for r in rows}.values())  # unique doc_id
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING, n_tokens LONG")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("bin_id", F.expr(f"(cum - n_tokens) div {budget}"))
        .groupBy("lang", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in out) == len(rows)
    assert sum(r["fill"] for r in out) == sum(r[2] for r in rows)
    per_lang: dict[str, list] = {}
    for r in out:
        per_lang.setdefault(r["lang"], []).append(r["bin_id"])
    for ids in per_lang.values():
        assert sorted(ids) == list(range(len(ids)))


@_SETTINGS
@given(rows=ROWS)
def test_delta_encode_roundtrip(spark, rows):
    # delta encoding must invert: value = first + running sum of deltas
    rows = [(i, a, b) for i, (a, b, _s) in enumerate(rows)]
    df = spark.createDataFrame(rows, "seq LONG, key INT, v INT")
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("seq")
    enc = df.withColumn("dv", F.col("v") - F.lag("v").over(w))
    dec = enc.withColumn(
        "v2",
        F.first("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        + F.coalesce(
            F.sum("dv").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            F.lit(0),
        ),
    )
    assert dec.filter(F.col("v2") != F.col("v")).count() == 0


def test_percentile_buckets_balance_heavy_tail(spark):
    # sort_global's bucket seeding must not pile a heavy-tailed key
    # into one straggler bucket (equal-width min/max slices would put
    # ~97% of pow(U,8) draws into the first slice).
    from task_mapreduce_spark.operators.relational import percentile_bucket_ids

    n, n_buckets = 20000, 16
    hv = spark.range(n).select((F.pow(F.rand(7), F.lit(8.0)) * 1e6).alias("v"))
    hv = hv.cache()
    try:
        hv.count()
        pid = percentile_bucket_ids(hv, "v", n_buckets)
        counts = [
            r["count"] for r in hv.withColumn("p", pid).groupBy("p").count().collect()
        ]
    finally:
        hv.unpersist()
    assert sum(counts) == n
    # every bucket within 25% of ideal occupancy (observed: ±0.2%)
    ideal = n / n_buckets
    assert max(counts) <= 1.25 * ideal
    assert min(counts) >= 0.75 * ideal


# ---------------------------------------------------------------------------
# Cross-ENGINE properties: identities the oracle harness itself rests on.
# These are the first tests to fail when the environment swaps the Spark
# or DuckDB build (it has, twice), so they run on generated inputs, not
# just the fixture corpus.
# ---------------------------------------------------------------------------

_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=24
)


@_SETTINGS
@given(tokens=st.lists(_TEXT, min_size=1, max_size=8, unique=True))
def test_portable_hash_identical_across_engines(spark, oracle, tokens):
    # functions.hashing's portable 48-bit token hash: Spark's hash48
    # must equal its DuckDB twin hash48_sql for ANY string (incl.
    # unicode and ''), at both md5 offsets the keys read, because
    # LSH/fingerprint/split keys are value-checked through it.
    sdf = spark.createDataFrame([(t,) for t in tokens], "t STRING")
    for chars in (1, 13):
        got = {
            r["t"]: r["h"]
            for r in sdf.select("t", hash48("t", chars).alias("h")).collect()
        }
        for t in tokens:
            want = oracle.execute(
                f"SELECT {hash48_sql('?', chars)}", [t]
            ).fetchone()[0]
            assert got[t] == want, f"hash diverged for {t!r} at chars {chars}"


@_SETTINGS
@example(tokens=["a", "b", "c"])
@given(tokens=st.lists(_TEXT, min_size=3, max_size=8))
def test_hash48_in_a_transform_hashes_each_element(spark, tokens):
    # F.transform binds a function's second parameter to the element
    # INDEX: passed bare, hash48 would read md5 chars from the index and
    # every element from the third on would hash differently.  Called
    # from a one-parameter lambda, each element hashes as itself.
    sdf = spark.createDataFrame([(tokens,)], "arr ARRAY<STRING>")
    got = sdf.select(F.transform("arr", lambda t: hash48(t)).alias("hs")).first()
    exploded = sdf.select(F.posexplode("arr")).select("pos", hash48("col").alias("h"))
    want = [r["h"] for r in sorted(exploded.collect(), key=lambda r: r["pos"])]
    assert got["hs"] == want


@_SETTINGS
@given(
    vals=st.lists(
        st.integers(min_value=-10**9, max_value=10**9).map(lambda i: i / 10),
        min_size=1,
        max_size=30,
    )
)
def test_decimal_exact_sum_identical_across_engines(spark, oracle, vals):
    # functions/exact.py's contract: double → DECIMAL(24,4) → SUM is
    # bit-identical between engines for any input (order-independent
    # and tie-free, since a binary double never lands exactly on a
    # .00005 rounding boundary).
    sdf = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    got = sdf.agg(
        F.sum(F.col("v").cast("decimal(24,4)")).cast("double")
    ).collect()[0][0]
    placeholders = ",".join(["(?)"] * len(vals))
    want = oracle.execute(
        f"SELECT CAST(SUM(CAST(v AS DECIMAL(24,4))) AS DOUBLE) "
        f"FROM (VALUES {placeholders}) t(v)",
        vals,
    ).fetchone()[0]
    assert str(got) == str(want), (got, want)


# random sparse graphs: _min_label_cc (delta propagation + pointer
# jumping) must match a reference union-find exactly — exercises the
# jump path whenever hypothesis draws a component with diameter > 3
EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=24),
        st.integers(min_value=0, max_value=24),
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=EDGES)
def test_min_label_cc_matches_union_find(spark, round_shape, edges):
    from task_mapreduce_spark.operators.llm_extras import (
        _CC_MAX_ITER,
        _CC_PJ_FROM,
        _min_label_cc,
    )

    n = 25
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label fixpoint = the minimum node id per component, which is
    # exactly what min-merging union-find roots yield
    want = {x: min(y for y in range(n) if find(y) == find(x)) for x in range(n)}

    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 0)], "a LONG, b LONG"
    ).filter(F.col("a") != F.col("b"))
    # n bounds the node rows, so a small round 0 runs in one partition
    got = {
        r["doc_id"]: r["label"]
        for r in _min_label_cc(nodes, edf, n).collect()
    }
    assert got == want
    assert round_shape[-1] == _cc_rounds(n, edges, _CC_PJ_FROM, _CC_MAX_ITER)


def _cc_rounds(n, edges, jump_from, max_rounds):
    """Rounds ``_min_label_cc`` runs, replayed in Python: each round
    min-folds the pushed labels, pointer-jumps from ``jump_from`` on,
    and only changed nodes push next round."""
    sym = [(a, b) for a, b in edges if a != b]
    sym += [(b, a) for a, b in sym]
    label = {x: x for x in range(n)}
    push = [(b, a) for a, b in sym]
    for it in range(max_rounds):
        cur = dict(label)
        for x, v in push:
            cur[x] = min(cur[x], v)
        if it >= jump_from:
            cur = {x: min(v, cur[v]) for x, v in cur.items()}
        changed = {x for x in cur if cur[x] < label[x]}
        label = cur
        if not changed:
            return it + 1
        push = [(b, label[a]) for a, b in sym if a in changed]
    return max_rounds


# random small directed graphs: bfs_distances (min_propagate with step 1
# under graph_bfs's 4-round cap) must equal a Python BFS capped at 4 hops.
# Most draws leave node 0 with a small reach, so the frontier empties
# before the cap; the pinned examples cover an early exit and a chain
# that outruns the cap.
BFS_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=11),
    ),
    min_size=0,
    max_size=24,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(edges=[(0, 1), (1, 2), (2, 0), (5, 6)])
@example(edges=[(i, i + 1) for i in range(7)])
@given(edges=BFS_EDGES)
def test_bfs_matches_python_bfs_and_exits_early(spark, round_shape, edges):
    from task_mapreduce_spark.operators.graph import _BFS_ITERS, bfs_distances

    want = {0: 0}
    frontier = {0}
    for hop in range(1, _BFS_ITERS + 1):
        frontier = {b for a, b in edges if a in frontier and b not in want}
        if not frontier:
            break
        want.update({v: hop for v in frontier})

    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    dist, rounds = bfs_distances(edf, 0, _BFS_ITERS)
    got = {r["node"]: r["dist"] for r in dist.collect()}
    assert got == want
    # round k reaches hop k+1; the first round that reaches nothing is
    # the last one run, so an early exit returns the capped answer
    assert rounds == min(max(want.values()) + 1, _BFS_ITERS)


_BPE_WORDS = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=15
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=_BPE_WORDS)
def test_tokenizer_train_bpe_matches_pure_python_reference(spark, tmp_path, words):
    # independent implementation of the DOCUMENTED semantics (weighted
    # pair counts, (count DESC, pair ASC) argmax, TWO-PASS
    # non-overlapping LTR replace — Python str.replace shares exactly
    # those scan semantics with Spark's and DuckDB's `replace`).  This
    # breaks the common-mode risk of the oracle check: the SQL twin is
    # generated by the repo's own CTE builder, this reference is not.
    # The "ab" alphabet maximizes shared-boundary/same-symbol runs, the
    # one regime where merge-application variants can diverge.
    import collections

    from task_mapreduce_spark.registry import QUERIES

    text = " ".join(words)
    spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    freq = collections.Counter(words)
    seqs = {w: " " + " ".join(w) + " " for w in freq}
    want = []
    for r in range(1, 9):
        pc = collections.Counter()
        for w, f in freq.items():
            syms = seqs[w].split()
            for i in range(len(syms) - 1):
                pc[syms[i] + " " + syms[i + 1]] += f
        if not pc:
            break
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        a, b = pair.split(" ")
        want.append((r, a, b, a + b, cnt))
        pat, rep = f" {pair} ", f" {a}{b} "
        seqs = {w: s.replace(pat, rep).replace(pat, rep) for w, s in seqs.items()}

    got = sorted(
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["cnt"])
        for r in QUERIES["tokenizer_train_bpe"](spark, str(tmp_path)).collect()
    )
    assert got == want


_GF_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                 # event_type
        st.integers(min_value=0, max_value=12),      # bucket hour
        st.integers(min_value=0, max_value=10),      # integer value
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_GF_ROWS)
def test_resample_gapfill_matches_pure_python_reference(spark, tmp_path, rows):
    # independent reference of the documented semantics: per-(type,
    # bucket) mean, dense spine over present min..max, linear
    # interpolation between nearest present neighbors.  Compared with
    # 1e-6 tolerance against the UNROUNDED reference so the assertion
    # is insensitive to the (documented) round-6 half-up vs banker's
    # edge while still catching any real formula/window mistake.
    import collections

    from task_mapreduce_spark.registry import QUERIES

    data = [
        (i, (b * 3600 + (i % 60)) * 1_000_000_000, 1, et, float(v), "{}")
        for i, (et, b, v) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id BIGINT, ts BIGINT, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    vals = collections.defaultdict(list)
    for et, b, v in rows:
        vals[(et, b)].append(v)
    want = {}
    for et in {et for et, _, _ in rows}:
        bkts = sorted(b for (t, b) in vals if t == et)
        present = {b: sum(vals[(et, b)]) / len(vals[(et, b)]) for b in bkts}
        for b in range(bkts[0], bkts[-1] + 1):
            if b in present:
                want[(et, b)] = (len(vals[(et, b)]), present[b], False)
            else:
                pb = max(x for x in present if x < b)
                nb = min(x for x in present if x > b)
                filled = present[pb] + (present[nb] - present[pb]) * (b - pb) / (nb - pb)
                want[(et, b)] = (0, filled, True)

    got = {
        (r["event_type"], r["bucket_hr"]): r
        for r in QUERIES["events_resample_gapfill"](spark, str(tmp_path)).collect()
    }
    assert set(got) == set(want)
    for k, (n, filled, is_gap) in want.items():
        r = got[k]
        assert r["n_events"] == n and r["is_gap"] == is_gap
        assert abs(r["value_filled"] - filled) <= 1e-6 + 1e-9


_CC_DOCS = st.lists(
    st.sets(st.sampled_from("pqrstuv"), min_size=3, max_size=7),
    min_size=2,
    max_size=12,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toksets=_CC_DOCS)
def test_cluster_incremental_equals_from_scratch_on_random_corpora(
    spark, tmp_path, toksets
):
    # random small token sets over a 7-token alphabet generate dense,
    # irregular Jaccard graphs; doc_ids 0..n-1 land in batch/base by the
    # real md5 rule, so contraction paths (batch-batch edges, multi-way
    # base merges through one batch doc, untouched components) all get
    # exercised far beyond the planted-bridge example.
    from task_mapreduce_spark.registry import QUERIES

    rows = [
        (i, " ".join(sorted(ts)), "en", "s", len(ts)) for i, ts in enumerate(toksets)
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)
    inc = {r["doc_id"]: r["component_id"]
           for r in QUERIES["dedup_cluster_incremental"](spark, sf).collect()}
    full = {r["doc_id"]: r["component_id"]
            for r in QUERIES["dedup_cluster_cc"](spark, sf).collect()}
    assert inc == full


def test_ivf_constant_stride_knob_keeps_cell_size_flat(spark):
    # the constant-stride linearization knob (SCALE.md's pair-family
    # escape hatch, _ivf_cells(target_cell=s)): with stride pinned to a
    # CONSTANT s, seeds = hash % s == 0 makes nlist ∝ N and E[cell
    # size] ≈ s — flat as the corpus grows — so within-cell pair work
    # is LINEAR in N.  Checked on a ×10 growth with SPARSE NON-DENSE
    # ids (the id regime that broke the old `vec_id % stride` rule).
    # Vectors are deterministic pseudo-random (md5-derived), dim 8.
    from task_mapreduce_spark.operators.llm_extras import (
        _ivf_cells,
        _normed_vectors,
    )

    s = 20

    def cells_at(n):
        ids = spark.range(n).select(
            # sparse, stretched, non-contiguous ids
            (F.col("id") * 97 + 13).alias("vec_id")
        )
        emb = ids.select(
            "vec_id",
            F.expr(
                "transform(sequence(1, 8), j -> "
                " (conv(substr(md5(concat(cast(vec_id as string), '_', j)),"
                "  1, 6), 16, 10) % 1000) / 1000.0 - 0.5)"
            ).alias("embedding"),
        )
        assigned, _ = _ivf_cells(_normed_vectors(emb), target_cell=s)
        return assigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("cell").alias("nlist"),
        ).collect()[0]

    small, big = cells_at(400), cells_at(4000)
    mean_small = small["n"] / small["nlist"]
    mean_big = big["n"] / big["nlist"]
    # E[cell size] = s in expectation at BOTH scales (hash thinning is
    # Binomial(N, 1/s): generous 2x bounds absorb the variance)
    assert s / 2 <= mean_small <= 2 * s, mean_small
    assert s / 2 <= mean_big <= 2 * s, mean_big
    # and the cell COUNT, not the cell size, absorbs the x10 growth
    ratio = big["nlist"] / small["nlist"]
    assert 6 <= ratio <= 15, ratio


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=EDGES)
def test_two_successive_contract_merges_equal_from_scratch(spark, edges):
    # the composition property the 100 TB incremental-CC story actually
    # rests on: ingesting batch1 then batch2, EACH by contraction
    # through the running labels (_contract_merge, the factored
    # dedup_cluster_incremental step), must equal from-scratch CC on
    # the full graph bit-exactly.  One merge was already proven against
    # the recursive-CTE oracle; this pins the ITERATED form.  Waves by
    # doc_id % 3: 0 = base corpus, 1 = first batch, 2 = second batch.
    from task_mapreduce_spark.operators.curation import _contract_merge
    from task_mapreduce_spark.operators.llm_extras import _min_label_cc

    n = 25
    wave = {x: x % 3 for x in range(n)}
    uniq = {(a, b) for a, b in edges if a != b}
    e0 = [(a, b) for a, b in uniq if wave[a] == 0 and wave[b] == 0]
    e1 = [
        (a, b)
        for a, b in uniq
        if max(wave[a], wave[b]) == 1
    ]
    e2 = [(a, b) for a, b in uniq if wave[a] == 2 or wave[b] == 2]

    def edf(pairs):
        return spark.createDataFrame(pairs or [(0, 0)], "a LONG, b LONG").filter(
            F.col("a") != F.col("b")
        )

    def ndf(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id LONG")

    base_ids = [x for x in range(n) if wave[x] == 0]
    thru1 = [x for x in range(n) if wave[x] <= 1]
    # the prior run takes a node bound, as dedup_cluster_incremental's does
    prior = _min_label_cc(ndf(base_ids), edf(e0), n).localCheckpoint()
    l1 = _contract_merge(ndf(thru1), prior, edf(e1)).localCheckpoint()
    l2 = _contract_merge(ndf(range(n)), l1, edf(e2))

    got = {r["doc_id"]: r["label"] for r in l2.collect()}
    want = {
        r["doc_id"]: r["label"]
        for r in _min_label_cc(ndf(range(n)), edf(list(uniq))).collect()
    }
    assert got == want


_CHUNK_DOCS = st.lists(
    st.lists(st.sampled_from("abc"), min_size=1, max_size=60).map(
        lambda ts: " ".join(ts)
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_CHUNK_DOCS)
def test_dedup_chunks_matches_pure_python_reference(spark, tmp_path, texts):
    # independent implementation of the documented semantics (32-token
    # chunks every 24, sha-keyed classes, (doc_id, chunk_id)-min owner)
    # — breaks the common-mode risk of the SQL oracle, which shares the
    # repo's own decomposition text.  Tiny token alphabet ("a".."c")
    # maximizes cross-doc chunk collisions, including partial tail
    # chunks and chunks duplicated WITHIN one document.
    from task_mapreduce_spark.registry import QUERIES

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    classes = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        for ci, start in enumerate(range(0, len(toks), 24)):
            chunk = " ".join(toks[start : start + 32])
            classes.setdefault(chunk, []).append((i, ci))
    want = {}
    for chunk, members in classes.items():
        owner = min(members)
        for m in members:
            want[m] = (m == owner, None if m == owner else owner)

    got = {
        (r["doc_id"], r["chunk_id"]): (
            r["keep"],
            None if r["keep"] else (r["dup_of_doc"], r["dup_of_chunk"]),
        )
        for r in QUERIES["dedup_chunks"](spark, str(tmp_path)).collect()
    }
    assert got == want


_PQ_VECS = st.lists(
    st.lists(
        st.integers(min_value=-3, max_value=3), min_size=16, max_size=16
    ),
    min_size=2,
    max_size=12,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_PQ_VECS)
def test_embedding_pq_matches_pure_python_reference(spark, tmp_path, vecs):
    # independent implementation of the documented PQ semantics
    # (hash-order stride seeds, per-subspace slices, squared-L2 argmin
    # with codeword-id tiebreak, ONE per-subspace Lloyd round).
    # INTEGER-valued dim-16 vectors make every seed-stage distance an
    # exact integer, so ties genuinely exercise the cid-min rule (small
    # ints collide often); the Lloyd means go through the same
    # shortest-repr HALF_UP rounding Spark's round() applies
    # (BigDecimal.valueOf semantics), so the refined stage is replayed
    # bit-exactly too.
    import hashlib
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from task_mapreduce_spark.registry import QUERIES

    def spark_round(x: float, d: int) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal(f"1e-{d}"), rounding=ROUND_HALF_UP
            )
        )

    n = len(vecs)
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )

    stride = max(1, math.floor(n / max(1.0, math.ceil(math.sqrt(n)))))
    seeds = [
        i
        for i in range(n)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16) % stride == 0
    ]
    dsub = 16 // 8
    # the hash-order draw CAN be empty on tiny corpora (no id hash
    # ≡ 0 mod stride): both engines then encode nothing — the
    # reference must mirror that, not crash on min() of nothing
    assign0 = {}
    for i, v in enumerate(vecs):
        for sub in range(8):
            if not seeds:
                break
            sv = v[sub * dsub : (sub + 1) * dsub]
            best = min(
                (
                    sum(
                        (sv[j] - vecs[c][sub * dsub + j]) ** 2
                        for j in range(dsub)
                    ),
                    c,
                )
                for c in seeds
            )
            assign0[(i, sub)] = best[1]

    # one Lloyd round: per-(sub, code) element-wise mean (exact integer
    # sum → one double division → round 9), then re-assign on the
    # sequential-fold rounded squared-L2
    members = defaultdict(list)
    for (i, sub), c in assign0.items():
        members[(sub, c)].append(vecs[i][sub * dsub : (sub + 1) * dsub])
    cbook = defaultdict(dict)
    for (sub, c), svs in members.items():
        cbook[sub][c] = [
            spark_round(sum(col) / len(col), 9) for col in zip(*svs)
        ]

    def d2(sv, cw):
        acc = 0.0
        for a, b in zip(sv, cw):
            acc = acc + (a - b) * (a - b)
        return spark_round(acc, 6)

    want = {}
    for i, v in enumerate(vecs):
        for sub in range(8):
            if not cbook[sub]:
                continue
            sv = v[sub * dsub : (sub + 1) * dsub]
            best = min((d2(sv, cw), c) for c, cw in cbook[sub].items())
            want[(i, sub)] = (best[1], best[0])

    got = {
        (r["vec_id"], r["sub"]): (r["code"], r["err2"])
        for r in QUERIES["embedding_pq"](spark, str(tmp_path)).collect()
    }
    assert got == want


@pytest.mark.parametrize("chain", ["ivf", "pq"])
def test_seed_stage_matches_sql(spark, oracle, sf_dir, chain):
    # the trainer's seed stage is the same on both engines: the Spark
    # seed rule + assign equals the SQL chain's round-0 assignment
    # (cells0 / codes0), and the seed centroids count the same
    from task_mapreduce_spark.operators import kmeans
    from task_mapreduce_spark.operators.llm_extras import (
        _IVF_CELLS_CTES,
        _ivf_assign,
        _normed_vectors,
    )
    from task_mapreduce_spark.operators.training_pipeline import (
        _PQ_CTES,
        _pq_assign,
        _pq_slices,
    )
    from task_mapreduce_spark.tables import load

    if chain == "ivf":
        e = _normed_vectors(load(spark, sf_dir, "embeddings"))
        seeds = kmeans.seeds(e, "v")
        got = _ivf_assign(e, seeds).select("vec_id", "cell")
        ctes, asn0, seeds0 = _IVF_CELLS_CTES, "vec_id, cell FROM cells0", "cents0"
    else:
        ev, seeds = _pq_slices(spark, sf_dir)
        got = _pq_assign(ev, seeds).select("vec_id", "sub", "code", "err2")
        ctes, asn0, seeds0 = _PQ_CTES, "vec_id, sub, code, err2 FROM codes0", "cs0"
    want = set(map(tuple, oracle.execute(f"WITH {ctes} SELECT {asn0}").fetchall()))
    assert {tuple(r) for r in got.collect()} == want
    n_seeds = oracle.execute(f"WITH {ctes} SELECT count(*) FROM {seeds0}").fetchone()[0]
    assert seeds.count() == n_seeds


def test_pq_constant_codebook_knob_keeps_k_flat(spark):
    # the constant-codebook linearization knob (_pq_slices(target_k=K),
    # the PQ twin of _ivf_cells(target_cell=)): with the seed stride
    # derived as floor(N/K), the codebook size stays ≈K as the corpus
    # grows ×10 — so encode work N·M·K is LINEAR in N, real PQ's K=256
    # regime.  Checked with SPARSE NON-DENSE ids (the id regime the
    # hash-order seed rule exists for); default √N rule shown to grow
    # alongside as the contrast.
    from task_mapreduce_spark.operators.training_pipeline import _pq_slices

    import os
    import tempfile

    k = 20

    def codebook_sizes(n, tmp):
        ids = spark.range(n).select((F.col("id") * 97 + 13).alias("vec_id"))
        emb = ids.select(
            "vec_id",
            F.expr(
                "transform(sequence(1, 16), j -> cast("
                " (conv(substr(md5(concat(cast(vec_id as string), '_', j)),"
                "  1, 6), 16, 10) % 1000) / 1000.0 - 0.5 as float))"
            ).alias("embedding"),
            F.lit(0).alias("label"),
        )
        emb.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/embeddings.parquet"
        )
        _, cs_knob = _pq_slices(spark, tmp, target_k=k)
        _, cs_sqrt = _pq_slices(spark, tmp)
        return (
            cs_knob.select("cid").distinct().count(),
            cs_sqrt.select("cid").distinct().count(),
        )

    with tempfile.TemporaryDirectory() as tmp_a, \
            tempfile.TemporaryDirectory() as tmp_b:
        k_small, sqrt_small = codebook_sizes(400, tmp_a)
        k_big, sqrt_big = codebook_sizes(4000, tmp_b)
    # E[codebook] = K at BOTH scales (Binomial thinning: 2x bounds)
    assert k / 2 <= k_small <= 2 * k, k_small
    assert k / 2 <= k_big <= 2 * k, k_big
    # while the default √N codebook grows ≈√10× across the same jump
    assert sqrt_big >= 2 * sqrt_small, (sqrt_small, sqrt_big)
