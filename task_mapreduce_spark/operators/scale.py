"""Scale-technique operators: the join/layout/sampling machinery a
100 TB deployment leans on, demonstrated as oracle-checkable keys.

Each key isolates ONE technique the rest of the engine assumes
(SCALE.md documents the rationale; SURVEY.md §2.10-extensions lists
the keys):

- ``tpch_q5``        — the full 6-table local-supplier join (adds the
                       supplier⋈customer nation-equality that
                       ``join_multiway`` omits).
- ``join_bucketed``  — co-located join over pre-bucketed tables: the
                       ONLY shuffle in the plan is the final
                       aggregation, asserted in tests/test_plans.py.
- ``join_skew_salted`` — hot-key-proof shuffle join: dim replicated
                       ×SALT, fact salted deterministically, so one
                       hot key spreads over SALT reducers.
- ``sample_hash``    — deterministic hash sampling (md5 prefix) with
                       unbiased scale-up estimates; the same rows are
                       chosen on every engine and every run.
- ``sink_compact``   — small-files governance: range-clustered,
                       size-bounded parquet output (compaction).

No key collects data rows to the driver.  Python-side literals are O(1)
except the merge family's manifests: driver dicts of partition → data
version, bounded by the calendar (one entry per order month).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from task_mapreduce_spark.functions.exact import dsum, dsum_exact, sql_dsum, sql_dsum_exact
from task_mapreduce_spark.functions.hashing import hash48
from task_mapreduce_spark.operators.joins import _REVENUE_SQL, revenue_col
from task_mapreduce_spark.operators.relational import _work_dir
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load


# ---------------------------------------------------------------------------
# tpch_q5 — local-supplier volume: the classic 6-table join
# ---------------------------------------------------------------------------


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n.n_name, {sql_dsum_exact(_REVENUE_SQL)} AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue per nation where the supplier is LOCAL
    to the customer (s_nationkey = c_nationkey) — the constraint that
    makes Q5 harder than a star join, because customer joins the fact
    chain on TWO keys from different tables.

    Shape for 100 TB: region⋈nation (5 rows) broadcasts into supplier,
    and that still-small result (suppliers of one region) broadcasts
    into lineitem — so the biggest table is filtered to ~1/5 of its
    rows before the first shuffle.  Only orders⋈lineitem and
    customer⋈orders shuffle, both on their natural keys; the
    nation-equality rides along as a post-join filter predicate on
    already-co-located rows."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    local_sup = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    revenue = revenue_col()
    return (
        li.join(F.broadcast(local_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum_exact(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


# ---------------------------------------------------------------------------
# join_bucketed — co-located join, zero join-side shuffle
# ---------------------------------------------------------------------------

_BUCKETS = 8


@register(
    "join_bucketed",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both tables pre-hashed into the same
    number of buckets on the join key, so the join needs NO exchange at
    all — bucket i of orders joins bucket i of customer where it sits.

    This is THE repeated-join amortization at 100 TB: pay one shuffle
    at ingest (the bucketed write), then every subsequent join on that
    key is shuffle-free regardless of data size.  ``sortBy`` inside
    each bucket additionally removes the sort of the sort-merge join.
    tests/test_plans.py asserts the executed plan's only Exchange is
    the final aggregation's.

    The ``merge`` hint pins a sort-merge join: at test scale Catalyst
    would otherwise broadcast the small side, which is exactly the
    strategy bucketing exists to replace when both sides are large."""
    base = _work_dir("bucketed")
    sides = [
        ("orders", "o_custkey", ["o_orderkey", "o_custkey", "o_totalprice"]),
        ("customer", "c_custkey", ["c_custkey", "c_mktsegment"]),
    ]
    for name, key, cols in sides:
        tbl = f"tmrs_bucketed_{name}"
        (
            load(spark, sf_dir, name)
            .select(*cols)
            .write.bucketBy(_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", f"{base}/{tbl}")
            .format("parquet")
            .saveAsTable(tbl)
        )
    o = spark.table("tmrs_bucketed_orders")
    c = spark.table("tmrs_bucketed_customer").hint("merge")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# join_skew_salted — hot keys spread over SALT reducers
# ---------------------------------------------------------------------------

_SALT = 8


@register(
    "join_skew_salted",
    oracle=f"""
    SELECT s.s_name,
           COUNT(*) AS n_items,
           {sql_dsum_exact(_REVENUE_SQL)} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join — the skew defense when the build side is
    too big to broadcast and one key is hot.  Fact rows get a
    deterministic salt in [0, SALT) from their own (non-join) columns;
    the dim side is replicated once per salt value; the join key
    becomes (key, salt), so a key carrying 50% of the fact spreads over
    SALT reducers instead of melting one.

    Semantics-preserving by construction (each fact row still matches
    exactly its one dim row), so the oracle is the plain unsalted join.
    The ``shuffle_hash`` hint forces the shuffle path the technique
    targets — with broadcast allowed the demo would degenerate.  AQE's
    skew-join split solves the same problem reactively for sort-merge
    joins; salting is the proactive form that also covers hash joins
    and streaming state."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice", "l_discount"
    )
    fact = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT))
    )
    dim = (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    revenue = revenue_col()
    return (
        fact.join(
            dim.hint("shuffle_hash"),
            (fact.l_suppkey == dim.s_suppkey) & (fact.salt == dim.salt),
        )
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_exact(revenue).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# sample_hash — deterministic, engine-portable hash sampling
# ---------------------------------------------------------------------------

# md5 hex < _SAMPLE_HEX  ⇔  first byte in 0x00.._SAMPLE_NUM-1  ⇔
# _SAMPLE_NUM/256 ≈ 5.08 %.  The threshold literal is DERIVED from the
# numerator so the filter, the oracle, and the estimate cannot drift.
_SAMPLE_NUM, _SAMPLE_DEN = 13, 256
_SAMPLE_HEX = f"{_SAMPLE_NUM:02x}"


@register(
    "sample_hash",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_sampled,
           CAST(COUNT(*) * {_SAMPLE_DEN} AS DOUBLE) / {_SAMPLE_NUM} AS n_estimated,
           {sql_dsum('o_totalprice')} AS sampled_total
    FROM orders
    WHERE md5(CAST(o_orderkey AS VARCHAR)) < '{_SAMPLE_HEX}'
    GROUP BY o_orderpriority
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash sampling: keep a row iff md5(key) falls below a threshold.

    Unlike ``TABLESAMPLE``/``df.sample`` this is deterministic and
    engine-portable — the SAME rows are selected on every run, every
    engine, every partitioning, which makes samples joinable across
    tables (sample orders and their lineitems by hashing the same key)
    and results reproducible.  At 100 TB the filter is a narrow
    projection evaluated at scan time: no shuffle, no coordination, and
    downstream work shrinks by the sampling factor.  The scale-up
    estimate is unbiased because md5 output is uniform on [0, 2^128).
    """
    o = load(spark, sf_dir, "orders")
    sampled = o.filter(F.md5(F.col("o_orderkey").cast("string")) < _SAMPLE_HEX)
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (F.count(F.lit(1)).cast("double") * _SAMPLE_DEN / _SAMPLE_NUM).alias(
            "n_estimated"
        ),
        dsum("o_totalprice").alias("sampled_total"),
    )


# ---------------------------------------------------------------------------
# sink_compact — range-clustered, size-bounded output files
# ---------------------------------------------------------------------------

_MAX_RECORDS_PER_FILE = 5000


@register(
    "sink_compact",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           min(ts) AS min_ts,
           max(ts) AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction / layout governance: rewrite events range-clustered
    by ts with a per-file row cap, then answer from the compacted copy.

    Streaming ingest produces millions of tiny files; at 100 TB the
    fix is periodic compaction into (a) files of bounded size — the
    ``maxRecordsPerFile`` cap, so no file exceeds what one task can
    scan — and (b) a RANGE clustering on the dominant filter column, so
    every file covers a narrow ts interval and parquet min/max stats
    prune whole files for time-windowed queries.  tests/test_plans.py
    verifies both properties on the written files via pyarrow."""
    e = load(spark, sf_dir, "events")
    out = f"{_work_dir('compact')}/events"
    (
        e.repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
        .parquet(out)
    )
    back = spark.read.schema(e.schema).parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# Z-order clustering (multi-dimensional file pruning)
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension → 16-bit morton codes
_Z_EPOCH = "1992-01-01"


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave two {0..255} ints with engine-portable arithmetic
    (%, >=, CASE — no shift operators, which the two SQL dialects
    spell differently)."""
    terms = []
    for i in range(_Z_BITS):
        p = 2**i
        terms.append(f"(CASE WHEN ({x} % {2 * p}) >= {p} THEN {4**i} ELSE 0 END)")
        terms.append(f"(CASE WHEN ({y} % {2 * p}) >= {p} THEN {2 * 4**i} ELSE 0 END)")
    return " + ".join(terms)


_Z_AGG = f"""
    SELECT morton // 256 AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(x8) AS BIGINT) AS x_lo, CAST(MAX(x8) AS BIGINT) AS x_hi,
           CAST(MIN(y8) AS BIGINT) AS y_lo, CAST(MAX(y8) AS BIGINT) AS y_hi
    FROM z GROUP BY morton // 256
"""


@register(
    "sink_zorder",
    oracle=f"""
    WITH d AS (
      SELECT o_custkey % 256 AS x8,
             date_diff('day', DATE '{_Z_EPOCH}', CAST(o_orderdate AS DATE)) % 256 AS y8
      FROM orders
    ),
    z AS (SELECT x8, y8, {_morton_sql('x8', 'y8')} AS morton FROM d)
    {_Z_AGG}
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered rewrite of orders on two dimensions
    at once — the OPTIMIZE ZORDER idiom: range-clustering by the
    interleaved bits of (custkey, order-day) keeps per-file min/max
    spans narrow on BOTH columns, so parquet stats prune files for
    either filter dimension, not just the sort leader.

    The morton code is pure integer arithmetic on bucketed dims
    (engine-portable, deterministic); the write is range-partitioned
    and sorted by it with a per-file row cap (tests assert the written
    files' morton ranges are disjoint and their x/y spans bounded).
    The returned aggregate certifies the clustering: per 256-code
    z-bucket, both dimensions' spans stay ≤ 2^(bits/2) wide instead of
    the full 0..255 — exactly the locality file skipping needs.
    """
    o = load(spark, sf_dir, "orders")
    d = o.select(
        (F.col("o_custkey") % 256).alias("x8"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(_Z_EPOCH).cast("date")
            )
            % 256
        ).alias("y8"),
    )
    z = d.withColumn("morton", F.expr(_morton_sql("x8", "y8")))
    out = f"{_work_dir('zorder')}/orders"
    (
        z.repartitionByRange(8, "morton")
        .sortWithinPartitions("morton")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
        .parquet(out)
    )
    back = spark.read.schema(z.schema).parquet(out)
    return (
        back.withColumn("zbucket", F.expr("morton div 256"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.min("x8").cast("bigint").alias("x_lo"),
            F.max("x8").cast("bigint").alias("x_hi"),
            F.min("y8").cast("bigint").alias("y_lo"),
            F.max("y8").cast("bigint").alias("y_hi"),
        )
    )


# ---------------------------------------------------------------------------
# join_bloom — Bloom-filter-prefiltered join (semi-join pushdown at scale)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 14       # 16,384 bits = 256 longs = a 2 KB broadcast
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3                # hash functions; FPP ≈ (1-e^(-kn/m))^k


def _bloom_test(key_sql: str, seed: int) -> "F.Column":
    """Membership probe: bit (xxhash64(key, seed) mod m) is set in the
    broadcast ``bloom`` array of 64-bit words."""
    pos = f"pmod(xxhash64({key_sql}, {seed}), {_BLOOM_BITS})"
    return F.expr(
        f"(element_at(bloom, CAST({pos} DIV 64 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST({pos} % 64 AS INT))) != 0"
    )


@register(
    "join_bloom",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join with an explicit Bloom-filter pre-filter: revenue by order
    priority for orders whose customer has an account balance > 9000.

    The technique this key isolates: when the dim side is too large to
    broadcast as ROWS but its qualifying KEY SET fits a few KB as bits,
    build a Bloom filter over the dim keys (3 linear aggregations:
    hash→bit positions→bit_or per word), broadcast the 256-long array,
    and drop non-matching fact rows BEFORE the join shuffle.  False
    positives are removed by the real equi-join that follows, so the
    result is exact — the bloom only prunes shuffle volume (at TPC-H
    selectivity ~10% of customers qualify, so ~90% of the orders scan
    never enters the exchange).  This is the manual, engine-visible
    form of Spark's own runtime-filter/semi-join pushdown, kept
    explicit so the plan can be asserted; xxhash64 is Spark-native and
    the filter never needs oracle parity because it is semantically
    invisible.

    100 TB: bloom build is a narrow scan of the dim keys; m/k tune by
    the standard FPP formula (2 KB here; a 1 B-key dim wants ~GB-scale
    bits, at which point Spark's built-in bloom on a sampled key range
    or a partitioned semi-join takes over — SCALE.md discusses the
    crossover)."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    pos_cols = [
        F.pmod(F.xxhash64(F.col("c_custkey"), F.lit(i)), F.lit(_BLOOM_BITS))
        for i in range(_BLOOM_K)
    ]
    bits = cust.select(F.explode(F.array(*pos_cols)).alias("pos")).select(
        F.expr("CAST(pos DIV 64 AS INT)").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
    )
    words = bits.groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))
    bloom = words.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_WORDS - 1)),
            lambda w: F.coalesce(
                F.try_element_at(F.col("m"), w), F.lit(0).cast("long")
            ),
        ).alias("bloom")
    )
    o = load(spark, sf_dir, "orders")
    pre = o.crossJoin(F.broadcast(bloom))
    for i in range(_BLOOM_K):
        pre = pre.filter(_bloom_test("o_custkey", i))
    return (
        pre.join(cust, pre["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# sink_merge_upsert — engine-portable MERGE into a partitioned parquet
# table: copy-on-write at partition granularity, manifest-versioned
# snapshots, reload-and-serve (round-11 verdict #2)
# ---------------------------------------------------------------------------

_MERGE_CUTOFF = "2001-01-01"   # the change batch: late-window orders
_MERGE_SCHEMA = "k long, val double, p string"

_MERGE_CUTOFF_B = "2000-07-01"  # second batch window: [B_CUTOFF, B_END)
_MERGE_END_B = "2001-05-01"     # — overlaps batch A's (>= 2001-01) without
#                                 nesting it, so manifest v3 carries some
#                                 partitions at ver 2 (2001-05..08: A
#                                 touched, B didn't), some at ver 3, some
#                                 still at ver 1 — the cross-generation
#                                 indirection the time-travel pytest pins


def _merge_chain_ctes() -> str:
    """The merge-chain CTE block (orders → base/batch_a → m2 →
    batch_b → m3) shared by ALL FIVE merge-family oracles — one
    definition (the `_ivf_hier_ctes` fragment-generator convention) so
    an edit to the chain semantics cannot leave one oracle silently
    certifying a different chain.  Oracles that stop at m2 simply
    don't reference batch_b/m3 (DuckDB prunes unused CTEs).

    h3 takes md5 chars 25-32 — the 8 hex chars REMAINING after h1/h2
    consumed 12+12, i.e. a 32-bit value, NOT a member of the repo's
    48-bit portable hash family.  Plenty for batch B's 3-way op coin;
    do not reuse it anywhere a 48-bit range is assumed (the
    multiply-add permutation trick's product bound, for one)."""
    return f"""o AS (
      SELECT o_orderkey AS k,
             strftime(o_orderdate, '%Y-%m') AS p,
             o_totalprice AS val,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 13, 12))::BIGINT AS h2,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 25, 8))::BIGINT AS h3,
             o_orderdate AS od
      FROM orders
    ),
    base AS (SELECT k, val, p FROM o WHERE h1 % 10 <> 0),
    batch_a AS (
      SELECT k, p,
             CASE WHEN h1 % 10 = 0 THEN 'I'
                  WHEN h2 % 2 = 0 THEN 'U'
                  ELSE 'D' END AS op,
             CASE WHEN h1 % 10 = 0 THEN val
                  WHEN h2 % 2 = 0 THEN val + 1.0 END AS bval
      FROM o WHERE od >= TIMESTAMP '{_MERGE_CUTOFF}'
    ),
    m2 AS (
      SELECT COALESCE(t.k, b.k) AS k,
             CASE WHEN b.op IN ('U', 'I') THEN b.bval ELSE t.val END AS val,
             COALESCE(t.p, b.p) AS p
      FROM base t FULL OUTER JOIN batch_a b ON t.k = b.k
      WHERE b.op IS NULL OR b.op <> 'D'
    ),
    batch_b AS (
      SELECT k, p,
             CASE WHEN h3 % 3 = 0 THEN 'U'
                  WHEN h3 % 3 = 1 THEN 'D'
                  ELSE 'I' END AS op,
             CASE WHEN h3 % 3 = 0 THEN val + 2.0
                  WHEN h3 % 3 = 2 THEN val END AS bval
      FROM o WHERE od >= TIMESTAMP '{_MERGE_CUTOFF_B}'
               AND od < TIMESTAMP '{_MERGE_END_B}'
    ),
    m3 AS (
      SELECT COALESCE(t.k, b.k) AS k,
             CASE WHEN b.op IN ('U', 'I') THEN b.bval ELSE t.val END AS val,
             COALESCE(t.p, b.p) AS p
      FROM m2 t FULL OUTER JOIN batch_b b ON t.k = b.k
      WHERE b.op IS NULL OR b.op <> 'D'
    )"""


def _merge_manifest(store: str, ver: int) -> dict[str, int]:
    """Committed manifest ``ver`` of ``store``:
    ``{partition: data version}``."""
    with open(f"{store}/manifest/v{ver}.json") as fh:
        return json.load(fh)


def _merge_commit(store: str, ver: int, man: dict[str, int]) -> None:
    """Publish manifest ``ver``.  It is written under a temp name and
    then ``os.replace``d: the rename is the commit point, so a reader
    sees the whole manifest or none of it."""
    path = f"{store}/manifest/v{ver}.json"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w") as fh:
        json.dump(man, fh, sort_keys=True)
    os.replace(f"{path}.tmp", path)


def _merge_read_snapshot(spark, store: str, man: dict[str, int]) -> DataFrame:
    """Read the snapshot manifest ``man`` describes: one declared-schema
    scan of each data version it references, over exactly the
    ``data/v{v}/p=…`` directories it maps to that version (``basePath``
    keeps ``p`` a column), unioned.  A superseded partition's stale copy
    is never read, and a partition directory that is missing (vacuumed,
    or its version never written) fails at read time with
    PATH_NOT_FOUND: the commit maps only partitions that wrote a
    directory (:func:`_merge_written`), so none may read back empty."""
    by_ver: dict[int, list[str]] = {}
    for p, v in sorted(man.items()):
        by_ver.setdefault(v, []).append(p)
    # an empty manifest (empty corpus, no changed partition) reads as an
    # empty table; the optimizer drops this seed from non-empty unions
    out = spark.createDataFrame([], _MERGE_SCHEMA)
    for v, parts in sorted(by_ver.items()):
        root = f"{store}/data/v{v}"
        out = out.unionByName(
            spark.read.schema(_MERGE_SCHEMA)
            .option("basePath", root)
            .parquet(*(f"{root}/p={p}" for p in parts))
        )
    return out


def _merge_written(store: str, ver: int) -> list[str]:
    """The partitions data version ``ver`` wrote, listed on the driver.
    A partition with no rows writes no directory, and a partition value
    (an order month, ``yyyy-MM``) is its directory name unescaped."""
    names = os.listdir(f"{store}/data/v{ver}")
    return sorted(d[len("p="):] for d in names if d.startswith("p="))


def _merge_create(store: str, base: DataFrame) -> None:
    """Commit version 1: ``base`` partitioned by ``p`` under ``data/v1``,
    every partition it wrote mapped to version 1."""
    base.repartition("p").write.mode("overwrite").partitionBy("p").parquet(
        f"{store}/data/v1"
    )
    _merge_commit(store, 1, dict.fromkeys(_merge_written(store, 1), 1))


def _merge_apply(
    spark, store: str, src: dict[str, int], batch: DataFrame, dst: int
) -> None:
    """One copy-on-write MERGE commit: apply ``batch`` (k, p, op, bval)
    to the snapshot manifest ``src`` describes, write data version
    ``dst`` and commit manifest ``dst``.

    Last-write-wins UPSERT + tombstone DELETE: 'U'/'I' set val to the
    batch's OWN bval (never a function of the target, so a retried
    commit is idempotent — pytest-pinned), 'D' drops the key whether
    present or not.

    Copy-on-write at PARTITION granularity: the batch's distinct
    partitions are collected (calendar-bounded) and only they are
    re-merged and rewritten under ``data/v{dst}``; the new manifest
    carries every other partition by reference and maps the partitions
    that wrote a directory to ``dst``.  An affected partition whose
    rows were all deleted wrote none and leaves the manifest: it has no
    rows."""
    affected = {r["p"] for r in batch.select("p").distinct().collect()}
    tgt = _merge_read_snapshot(
        spark, store, {p: src[p] for p in affected if p in src}
    )
    b = batch.select("k", F.col("p").alias("bp"), "op", "bval")
    merged = (
        tgt.join(b, "k", "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "k",
            F.when(F.col("op").isin("U", "I"), F.col("bval"))
            .otherwise(F.col("val"))
            .alias("val"),
            F.coalesce("p", "bp").alias("p"),
        )
    )
    merged.repartition("p").write.mode("overwrite").partitionBy("p").parquet(
        f"{store}/data/v{dst}"
    )
    man = {p: v for p, v in src.items() if p not in affected}
    man.update(dict.fromkeys(_merge_written(store, dst), dst))
    _merge_commit(store, dst, man)


def _merge_base_batch(spark, sf_dir: str):
    """The deterministic (base table, change batch) pair the key and
    its pytest share.  Membership and op come from INDEPENDENT md5
    bits (CLAUDE.md: chars 1-12 decide base membership, chars 13-24
    the update/delete coin — composing two rules from the same bits
    silently empties a slice): base = 90% of orders by hash; the batch
    is the TIME-LOCALIZED tail (orders from {cutoff} on — the CDC
    shape: late corrections + new arrivals), inserts being exactly the
    hash slice the base excluded, so I/U/D are disjoint and total."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("p"),
        F.col("o_totalprice").alias("val"),
        F.col("o_orderdate").alias("od"),
    )
    o = o.withColumn("h1", hash48("k")).withColumn("h2", hash48("k", 13))
    base = o.filter(F.col("h1") % 10 != 0).select("k", "val", "p")
    batch = o.filter(
        F.col("od") >= F.lit(_MERGE_CUTOFF).cast("timestamp")
    ).select(
        "k",
        "p",
        F.when(F.col("h1") % 10 == 0, F.lit("I"))
        .when(F.col("h2") % 2 == 0, F.lit("U"))
        .otherwise(F.lit("D"))
        .alias("op"),
        F.when(F.col("h1") % 10 == 0, F.col("val"))
        .when(F.col("h2") % 2 == 0, F.col("val") + F.lit(1.0))
        .alias("bval"),
    )
    return base, batch


@register(
    "sink_merge_upsert",
    # the oracle is the from-scratch SQL MERGE: one full-outer join over
    # the WHOLE base (no partition bookkeeping), so the Spark side's
    # CoW route — rewrite affected partitions, carry the rest by
    # manifest reference, reload both — must reproduce it exactly
    oracle=f"""
    WITH {_merge_chain_ctes()},
    rollup AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sql_dsum("val")} AS sum_val,
             CAST(MIN(k) AS BIGINT) AS min_k,
             CAST(MAX(k) AS BIGINT) AS max_k
      FROM m2 GROUP BY p
    ),
    audit AS (
      SELECT CAST(COUNT(CASE WHEN op = 'I' THEN 1 END) AS BIGINT) AS n_ins,
             CAST(COUNT(CASE WHEN op = 'U' THEN 1 END) AS BIGINT) AS n_upd,
             CAST(COUNT(CASE WHEN op = 'D' THEN 1 END) AS BIGINT) AS n_del,
             CAST(COUNT(DISTINCT p) AS BIGINT) AS parts_rewritten
      FROM batch_a
    ),
    carried AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS parts_carried FROM (
        SELECT DISTINCT p FROM base
        EXCEPT SELECT DISTINCT p FROM batch_a)
    )
    SELECT r.p, r.n_rows, r.sum_val, r.min_k, r.max_k,
           a.n_ins, a.n_upd, a.n_del, a.parts_rewritten, c.parts_carried
    FROM rollup r CROSS JOIN audit a CROSS JOIN carried c
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACID-style MERGE/upsert sink with snapshot read-back — the
    lakehouse idiom the persist-family keys stop short of (round-11
    verdict #2), built engine-portably: a partitioned parquet table +
    a versioned JSON MANIFEST (partition → data version) that the driver
    owns, standing in for Delta/Iceberg's snapshot log, which the
    sandbox can't install.

    Commit base table v1 (partitioned by order month), then apply the
    change batch — inserts, updates (explicit new value, NOT a function
    of the target — the idempotency property), deletes (tombstones) — as
    a COPY-ON-WRITE merge (:func:`_merge_apply`) that rewrites ONLY the
    partitions the batch touches and carries the other ~90% of the
    table BY REFERENCE in manifest v2.  The returned frame reads the v2
    SNAPSHOT back from disk (reloaded manifest + both data versions) and
    certifies it per partition: row count, exact-decimal value sum,
    min/max key — against an oracle that recomputes the MERGE from
    scratch with one full-outer join.  The audit constants are the batch
    op counts plus the rewritten/carried partition counts of the
    RELOADED manifests (8 rewritten / 72 carried at sf0.1): v2 rewrote a
    partition it maps to v2 or dropped from v1 (the commit left it
    without rows), and carries one it still maps to v1.  The oracle
    counts the batch's partitions instead; the two agree because batch
    A deletes only base keys, so a batch partition v1 lacks keeps its
    inserted rows.

    Concurrent readers: data files are immutable and a manifest is
    committed once per version by an atomic rename, so a reader that
    resolved v1 keeps a consistent table while v2 commits.

    100 TB shape: commit cost is |batch| + |touched partitions|; the
    manifest is one entry per partition, read and written on the
    driver; the full-outer merge join shuffles only affected-partition
    rows on the key.  Nothing rewrites, rescans, or re-sorts the
    carried 99%+ of the table."""
    base, batch = _merge_base_batch(spark, sf_dir)
    # the batch feeds three jobs (affected collect, merge write, the
    # op-count audit); checkpoint it once — |batch| narrow rows, the
    # CDC working set a real commit holds as its input anyway
    batch = batch.localCheckpoint()

    store = _work_dir("merge_upsert")
    _merge_create(store, base)
    _merge_apply(spark, store, _merge_manifest(store, 1), batch, 2)

    # ---- snapshot read-back: the RELOADED manifest + data store only ----
    man1, man2 = _merge_manifest(store, 1), _merge_manifest(store, 2)
    rollup = _merge_read_snapshot(spark, store, man2).groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum("val").alias("sum_val"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )
    audit = batch.agg(
        F.count(F.when(F.col("op") == "I", 1)).cast("bigint").alias("n_ins"),
        F.count(F.when(F.col("op") == "U", 1)).cast("bigint").alias("n_upd"),
        F.count(F.when(F.col("op") == "D", 1)).cast("bigint").alias("n_del"),
    ).select(
        "*",
        # rewritten: mapped to v2, or emptied (in v1, gone from v2)
        F.lit(sum(v == 2 for v in man2.values()) + len(man1.keys() - man2.keys()))
        .cast("bigint")
        .alias("parts_rewritten"),
        F.lit(sum(v == 1 for v in man2.values()))
        .cast("bigint")
        .alias("parts_carried"),
    )
    return rollup.crossJoin(F.broadcast(audit))


# ---------------------------------------------------------------------------
# sink_merge_history — a three-commit MERGE chain with TIME-TRAVEL
# read-back of every version (round-12 verdict #6)
# ---------------------------------------------------------------------------

def _merge_batch_b(spark, sf_dir: str) -> DataFrame:
    """The SECOND change batch of the history chain.  Ops come from md5
    chars 25-32 (the 8 hex chars left after h1/h2's 12+12 — a 32-bit
    coin, see :func:`_merge_chain_ctes`) — independent of base
    membership (chars 1-12) AND of batch A's update/delete coin
    (chars 13-24), per the CLAUDE.md composed-hash-rule discipline
    (three rules on one key, three disjoint digest slices).  The
    window overlaps batch A's, so the chain exercises every
    cross-commit interaction: B updates rows A inserted, RESURRECTS
    keys A deleted (op 'I' on a tombstoned key — the upsert semantic a
    CDC replay produces), re-deletes, and overwrites A's updates
    last-write-wins."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.date_format("o_orderdate", "yyyy-MM").alias("p"),
        F.col("o_totalprice").alias("val"),
        F.col("o_orderdate").alias("od"),
    )
    h3 = F.conv(
        F.substring(F.md5(F.col("k").cast("string")), 25, 8), 16, 10
    ).cast("long")
    return o.filter(
        (F.col("od") >= F.lit(_MERGE_CUTOFF_B).cast("timestamp"))
        & (F.col("od") < F.lit(_MERGE_END_B).cast("timestamp"))
    ).select(
        "k",
        "p",
        F.when(h3 % 3 == 0, F.lit("U"))
        .when(h3 % 3 == 1, F.lit("D"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.when(h3 % 3 == 0, F.col("val") + F.lit(2.0))
        .when(h3 % 3 == 2, F.col("val"))
        .alias("bval"),
    )


def _build_merge_history(spark, sf_dir: str, tag: str):
    """Drive the three-commit chain (base → v1, batch A → v2, batch B
    → v3) into a fresh store under ``tag`` and return
    ``(store, man1, man2, man3)``, the manifests reloaded from disk —
    shared by sink_merge_history (time travel) and sink_merge_vacuum
    (retention) so the two keys certify the SAME committed lineage."""
    base, batch_a = _merge_base_batch(spark, sf_dir)
    batch_a = batch_a.localCheckpoint()
    batch_b = _merge_batch_b(spark, sf_dir).localCheckpoint()

    store = _work_dir(tag)
    _merge_create(store, base)
    _merge_apply(spark, store, _merge_manifest(store, 1), batch_a, 2)
    _merge_apply(spark, store, _merge_manifest(store, 2), batch_b, 3)
    return (store, *(_merge_manifest(store, v) for v in (1, 2, 3)))


@register(
    "sink_merge_history",
    # the oracle recomputes every snapshot FROM SCRATCH (two sequential
    # SQL merges, no partition/version bookkeeping), so the CoW chain —
    # three data versions, three manifests, carried-by-reference
    # partitions resolving through TWO generations — must reproduce all
    # three historical tables exactly
    oracle=f"""
    WITH {_merge_chain_ctes()}
    SELECT ver, p, n_rows, sum_val, min_k, max_k FROM (
      SELECT 1 AS ver, p, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sql_dsum("val")} AS sum_val,
             CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
      FROM base GROUP BY p
      UNION ALL
      SELECT 2, p, CAST(COUNT(*) AS BIGINT), {sql_dsum("val")},
             CAST(MIN(k) AS BIGINT), CAST(MAX(k) AS BIGINT)
      FROM m2 GROUP BY p
      UNION ALL
      SELECT 3, p, CAST(COUNT(*) AS BIGINT), {sql_dsum("val")},
             CAST(MIN(k) AS BIGINT), CAST(MAX(k) AS BIGINT)
      FROM m3 GROUP BY p
    )
    """,
)
def sink_merge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-commit MERGE chain + TIME TRAVEL — the remaining lakehouse
    semantic after sink_merge_upsert's single commit (round-12 verdict
    #6): commit base (v1), batch A (v2 — the upsert key's CDC batch),
    then batch B (v3 — a wider overlapping window whose ops come from a
    third independent digest slice), and read back ALL THREE manifest
    versions as consistent historical tables, certified per (version,
    partition): row count, exact-decimal value sum, min/max key.

    What the chain proves that one commit can't:

    - **carried-by-reference across generations** — a partition batch A
      touched but batch B didn't resolves through manifest v3 to DATA
      version 2 (not 3, not 1): version resolution is per-partition
      indirection, not a linear scan of newest-first dirs;
    - **tombstone lifecycle** — B resurrects keys A deleted (op 'I' on
      a tombstoned key), re-deletes others, and overwrites A's updates
      last-write-wins; the oracle's two sequential from-scratch merges
      must agree per partition;
    - **time travel** — manifest vN is a complete, immutable snapshot
      descriptor: reading v1/v2 AFTER v3 committed returns the
      historical tables bit-exactly (data files are never rewritten,
      only superseded in newer manifests — the concurrent-reader pytest
      pins v2 unchanged across the v3 commit).

    100 TB shape: identical to sink_merge_upsert per commit (cost ∝
    |batch| + touched-partition rows; manifests are one entry per
    partition); history adds ZERO write amplification (old versions are
    retained files, the Delta/Iceberg retention model) and time-travel
    reads are ordinary statically pruned snapshot reads of an old
    manifest."""
    store, *mans = _build_merge_history(spark, sf_dir, "merge_history")

    # ---- time travel: certify each manifest version's table ----
    outs = [
        _merge_read_snapshot(spark, store, man)
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum("val").alias("sum_val"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .select(
            F.lit(ver).cast("int").alias("ver"),
            "p",
            "n_rows",
            "sum_val",
            "min_k",
            "max_k",
        )
        for ver, man in enumerate(mans, 1)
    ]
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


# ---------------------------------------------------------------------------
# sink_merge_vacuum — retention: physically delete superseded files,
# prove the retained snapshots still serve (completes the lakehouse
# lifecycle: commit → history/time-travel → vacuum)
# ---------------------------------------------------------------------------


@register(
    "sink_merge_vacuum",
    # the oracle derives the EXPECTED vacuum outcome independently —
    # deletable v1 partitions are exactly batch A's window (superseded
    # by v2 in every retained manifest), retained v1 partitions the
    # calendar outside it — and recomputes both retained snapshots from
    # scratch; a vacuum that deletes a referenced directory breaks the
    # rollups, one that deletes too few breaks the audit counts
    oracle=f"""
    WITH {_merge_chain_ctes()},
    audit AS (
      -- deletable = batch A's partitions THAT EXIST IN v1: a batch-A
      -- partition containing only insert-slice keys is never in
      -- base/man1, so the Spark side has nothing to delete for it
      -- (round-13 review: COUNT(DISTINCT p) FROM batch_a alone would
      -- overcount on a hostile fixture rewrite)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT DISTINCT p FROM batch_a
                INTERSECT SELECT DISTINCT p FROM base))
               AS parts_deleted,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT DISTINCT p FROM base
                EXCEPT SELECT DISTINCT p FROM batch_a))
               AS v1_parts_retained
    )
    SELECT r.ver, r.p, r.n_rows, r.sum_val, a.parts_deleted,
           a.v1_parts_retained
    FROM (
      SELECT 2 AS ver, p, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {sql_dsum("val")} AS sum_val
      FROM m2 GROUP BY p
      UNION ALL
      SELECT 3, p, CAST(COUNT(*) AS BIGINT), {sql_dsum("val")}
      FROM m3 GROUP BY p
    ) r CROSS JOIN audit a
    """,
)
def sink_merge_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM/retention — the lifecycle step after time travel
    (sink_merge_history): physically delete data files no RETAINED
    manifest references, then prove the retained snapshots still serve
    bit-exactly from the vacuumed store.

    Policy here: retain manifests {v2, v3} (expire v1 — the
    Delta/Iceberg age-based retention decision).  A v1 partition
    directory is deletable iff NEITHER retained manifest maps that
    partition to data version 1; by construction that is exactly batch
    A's window (those partitions were rewritten into v2, which both
    retained manifests reference), while partitions only batch B
    touched remain referenced AT v1 by manifest v2 and must survive —
    the case a naive "delete everything under data/v1" vacuum corrupts.

    Certification is from-disk on both axes: the (ver 2 | ver 3)
    per-partition rollups are read THROUGH the vacuumed store (a
    deleted-but-referenced directory would drop their rows), and the
    audit columns count the deletions performed and the v1 partitions
    STILL ON DISK after the vacuum (a fresh scan of data/v1) — both
    recomputed independently by the oracle from the batch definitions.

    Driver-side file deletion over driver-side manifests: vacuum IS a
    catalog/driver operation in every lakehouse implementation — the
    deletable set is set arithmetic over calendar-bounded dicts, and no
    DATA rows ever reach the driver.

    100 TB shape: vacuum cost is |deletable files| filesystem deletes —
    independent of table size; the retained-snapshot reads are the
    ordinary statically pruned snapshot reads.  Retention is what bounds
    a CoW table's storage at 2-3× live size instead of unbounded
    history."""
    store, man1, man2, man3 = _build_merge_history(
        spark, sf_dir, "merge_vacuum"
    )

    # deletable = v1 partitions referenced by NO retained manifest
    kept = {p for man in (man2, man3) for p, v in man.items() if v == 1}
    deleted = 0
    for p in sorted(man1.keys() - kept):
        d = f"{store}/data/v1/p={p}"
        if os.path.isdir(d):
            shutil.rmtree(d)
            deleted += 1

    # retained snapshots, read from the VACUUMED store
    outs = [
        _merge_read_snapshot(spark, store, man)
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum("val").alias("sum_val"),
        )
        .select(F.lit(ver).cast("int").alias("ver"), "p", "n_rows", "sum_val")
        for ver, man in ((2, man2), (3, man3))
    ]
    # audit from disk: deletions performed + v1 partitions surviving
    survivors = (
        spark.read.schema(_MERGE_SCHEMA)
        .parquet(f"{store}/data/v1")
        .agg(F.count_distinct("p").cast("bigint").alias("v1_parts_retained"))
        .select(
            F.lit(deleted).cast("bigint").alias("parts_deleted"),
            "v1_parts_retained",
        )
    )
    return (
        outs[0]
        .unionByName(outs[1])
        .crossJoin(F.broadcast(survivors))
    )


# ---------------------------------------------------------------------------
# sink_changelog_cdf — the CHANGE DATA FEED between two manifest
# versions: the row-level delta an incremental downstream consumer
# reads instead of re-scanning the table (Delta CDF / Iceberg
# changelog-scan semantics), derived by diffing ONLY the partitions
# whose manifest version changed
# ---------------------------------------------------------------------------


@register(
    "sink_changelog_cdf",
    # the oracle recomputes BOTH snapshots from scratch (two sequential
    # SQL merges, no manifest bookkeeping) and diffs the FULL tables —
    # so the Spark side's manifest-pruned diff (only changed partitions
    # ever scanned or joined) must reproduce the complete changelog: a
    # missed changed partition drops rows, a mis-carried partition
    # invents spurious updates
    oracle=f"""
    WITH {_merge_chain_ctes()},
    cdf AS (
      SELECT COALESCE(a.k, b.k) AS k,
             COALESCE(a.p, b.p) AS p,
             CASE WHEN a.k IS NULL THEN 'insert'
                  WHEN b.k IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type,
             CAST(a.val AS DECIMAL(18,2)) AS pre_val,
             CAST(b.val AS DECIMAL(18,2)) AS post_val
      FROM m2 a FULL OUTER JOIN m3 b ON a.k = b.k
      WHERE a.k IS NULL OR b.k IS NULL
         OR CAST(a.val AS DECIMAL(18,2)) <> CAST(b.val AS DECIMAL(18,2))
    ),
    changed AS (
      SELECT DISTINCT p FROM batch_b
      WHERE p IN (SELECT p FROM m2 UNION SELECT p FROM m3)
    ),
    audit AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM changed) AS parts_changed,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT p FROM base UNION SELECT p FROM m2
                UNION SELECT p FROM m3
                EXCEPT SELECT p FROM changed))
               AS parts_unchanged
    )
    SELECT c.k, c.p, c.change_type, c.pre_val, c.post_val,
           a.parts_changed, a.parts_unchanged
    FROM cdf c CROSS JOIN audit a
    """,
)
def sink_changelog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between two committed snapshots — the row-level
    (k, p, change_type, pre_val, post_val) delta of manifest v2 → v3,
    i.e. what Delta's CDF / Iceberg's changelog scan hand an
    incremental downstream consumer (a rollup maintainer, a replica,
    an index refresher) so it never re-scans the table.

    The scale claim is WHICH data gets touched: two manifests that
    agree on a partition's version reference the SAME immutable data
    files, so that partition provably contains zero changes.  The diff
    therefore (1) diffs the two manifests on the driver (set arithmetic
    over dicts), (2) reads the pre- and post-snapshots RESTRICTED to the
    version-changed partitions (both scans prune statically to batch
    B's calendar window), and (3) full-outer-joins pre/post on the key
    within that slice only.  A key's partition is a pure function of
    the key (its order month), so pre/post images of one key live in
    the same partition and the restricted join loses nothing — the
    oracle proves exactly that by diffing both FULL from-scratch
    snapshots.  Net-change semantics: a MERGE that rewrote a row with
    an identical value emits no CDF row (value diff, not file diff).

    The audit columns certify the pruning derivation itself:
    parts_changed/parts_unchanged are the manifest-diff counts (a
    partition any of the chain's manifests held, and v2 → v3 kept, is
    unchanged), which the oracle recomputes independently from the
    batch and snapshot definitions — a diff that scanned a carried
    partition wouldn't break the changelog (same files ⇒ empty diff)
    but WOULD break these counts if it mis-derived the changed set.  A
    manifest holds exactly the partitions with rows, so "changed" means
    touched by batch B and holding rows in v2 or v3: a batch-B partition
    empty on both sides (deletes of absent keys only) changed nothing.

    Values are certified as DECIMAL(18,2) on both sides (order prices
    are cents-exact; the CDC deltas are integral) — the fixed-scale
    discipline every float-bearing oracle key uses.

    100 TB shape: CDF cost ∝ changed-partition rows — independent of
    table size (a CDC commit touches the calendar tail, so the diff
    reads days, not decades of history).  The alternative — diff two
    full snapshots — is a 2×-table scan per sync."""
    store, man1, man2, man3 = _build_merge_history(
        spark, sf_dir, "changelog_cdf"
    )
    cdf, changed = _changelog(spark, store, man2, man3)
    n_parts = len(man1.keys() | man2.keys() | man3.keys())
    return cdf.select(
        "*",
        F.lit(len(changed)).cast("bigint").alias("parts_changed"),
        F.lit(n_parts - len(changed)).cast("bigint").alias("parts_unchanged"),
    )


def _changelog(spark, store, man_pre: dict, man_post: dict):
    """The manifest-pruned changelog between two snapshots — shared by
    the feed itself (:func:`sink_changelog_cdf`) and its consumer
    (:func:`rollup_cdf_maintain`) so producer and consumer can never
    disagree on change semantics.  Returns ``(cdf, changed)``: the
    (k, p, change_type, pre_val, post_val) feed and the set of
    partitions whose version differs (incl. appearing or
    disappearing)."""
    changed = {
        p
        for p in man_pre.keys() | man_post.keys()
        if man_pre.get(p) != man_post.get(p)
    }

    def restricted(man):
        return {p: v for p, v in man.items() if p in changed}

    pre = _merge_read_snapshot(spark, store, restricted(man_pre)).select(
        F.col("k"),
        F.col("p"),
        F.col("val").cast("decimal(18,2)").alias("pre_val"),
    )
    post = _merge_read_snapshot(spark, store, restricted(man_post)).select(
        F.col("k"),
        F.col("p").alias("p_post"),
        F.col("val").cast("decimal(18,2)").alias("post_val"),
    )

    # the changelog: full-outer on the key within the changed slice;
    # rows whose value is unchanged are NOT changes
    cdf = (
        pre.join(post, "k", "full_outer")
        .filter(
            F.col("pre_val").isNull()
            | F.col("post_val").isNull()
            | (F.col("pre_val") != F.col("post_val"))
        )
        .select(
            "k",
            F.coalesce("p", "p_post").alias("p"),
            F.when(F.col("pre_val").isNull(), F.lit("insert"))
            .when(F.col("post_val").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            "pre_val",
            "post_val",
        )
    )
    return cdf, changed


# ---------------------------------------------------------------------------
# rollup_cdf_maintain — incremental view maintenance THROUGH the change
# feed: keep a materialized aggregate fresh under updates and deletes
# (retractions), the case append-only maintenance (incremental_rollup)
# cannot express
# ---------------------------------------------------------------------------


@register(
    "rollup_cdf_maintain",
    # the oracle computes the post-commit rollup FROM SCRATCH over the
    # full v3 table; the Spark side must reproduce it by arithmetic on
    # the v2 materialization + the change feed alone — a dropped
    # retraction, a double-counted insert, or any decimal-state drift
    # breaks a partition row, and the feed-consumption counts are
    # re-derived independently from the full-table diff
    oracle=f"""
    WITH {_merge_chain_ctes()},
    cdf AS (
      SELECT COALESCE(a.k, b.k) AS k,
             COALESCE(a.p, b.p) AS p,
             CASE WHEN a.k IS NULL THEN 'insert'
                  WHEN b.k IS NULL THEN 'delete'
                  ELSE 'update' END AS change_type
      FROM m2 a FULL OUTER JOIN m3 b ON a.k = b.k
      WHERE a.k IS NULL OR b.k IS NULL
         OR CAST(a.val AS DECIMAL(18,2)) <> CAST(b.val AS DECIMAL(18,2))
    ),
    feed AS (
      SELECT CAST(COUNT(CASE WHEN change_type = 'insert' THEN 1 END) AS BIGINT) AS n_ins,
             CAST(COUNT(CASE WHEN change_type = 'delete' THEN 1 END) AS BIGINT) AS n_del,
             CAST(COUNT(CASE WHEN change_type = 'update' THEN 1 END) AS BIGINT) AS n_upd
      FROM cdf
    )
    SELECT r.p, r.n_rows, r.sum_val, f.n_ins, f.n_del, f.n_upd
    FROM (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS n_rows, {sql_dsum("val")} AS sum_val
      FROM m3 GROUP BY p
    ) r CROSS JOIN feed f
    """,
)
def rollup_cdf_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance through the change feed: a
    materialized per-partition aggregate (row count + exact-decimal
    value sum over the v2 snapshot) is brought to the v3 state by
    CONSUMING :func:`_changelog` — inserts add, deletes retract,
    updates retract the pre-image and add the post-image — and the
    result must equal the from-scratch v3 rollup bit-exactly.

    This is the case append-only maintenance (`incremental_rollup`)
    cannot express: count and a fixed-scale decimal sum are
    SELF-MAINTAINABLE under retraction (each delta is +1/−1 and
    ±value; decimal addition is exact and commutative, so
    state + Σdeltas ≡ recompute in ANY application order), which is
    why every materialized-view engine maintains them from the CDC
    stream instead of re-scanning — non-self-maintainable aggregates
    (MIN/MAX under deletes) are what force a changed-partition rescan,
    and the feed's partition column is exactly what bounds that rescan
    when it happens.

    The maintenance arithmetic stays DECIMAL until the final cast
    (matching `dsum`'s state): a double-state rollup would drift from
    the recompute at the ulp level and the oracle would catch it.
    Partitions whose rows are all deleted leave the view (n_rows = 0
    filtered — a from-scratch GROUP BY emits no row for them); new
    insert-only partitions enter via the full-outer merge.

    100 TB shape: maintenance cost is |feed| rows + a |partitions|-row
    state merge — ∝ CHANGED data, independent of table size; the v2
    materialization is carried state a deployment already holds (here
    it is recomputed once because every key is self-contained).  The
    alternative — recompute the view per sync — is a full-table scan
    each time.  Composes with sink_changelog_cdf (the producer) and
    sink_merge_history (any manifest pair)."""
    store, _man1, man2, man3 = _build_merge_history(
        spark, sf_dir, "rollup_cdf"
    )
    cdf, _changed = _changelog(spark, store, man2, man3)
    # two consumers (delta aggregate + feed-count audit): checkpoint the
    # feed once — |changed rows|, the working set a CDC consumer holds
    cdf = cdf.localCheckpoint()

    # the materialized v2 state — decimal sum state, NOT double
    # (double state would drift from the from-scratch recompute)
    old = (
        _merge_read_snapshot(spark, store, man2)
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_old"),
            F.sum(F.col("val").cast("decimal(24,4)")).alias("sum_old"),
        )
    )
    # consume the feed: per-partition row and value deltas
    delta = cdf.groupBy("p").agg(
        (
            F.count(F.col("post_val")) - F.count(F.col("pre_val"))
        ).cast("bigint").alias("d_rows"),
        F.sum(
            F.coalesce(F.col("post_val"), F.lit(0).cast("decimal(18,2)"))
            - F.coalesce(F.col("pre_val"), F.lit(0).cast("decimal(18,2)"))
        ).alias("d_sum"),
    )
    maintained = (
        old.join(delta, "p", "full_outer")
        .select(
            "p",
            (
                F.coalesce("n_rows_old", F.lit(0))
                + F.coalesce("d_rows", F.lit(0))
            ).cast("bigint").alias("n_rows"),
            (
                F.coalesce(F.col("sum_old"), F.lit(0).cast("decimal(24,4)"))
                + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(24,4)"))
            )
            .cast("decimal(24,4)")
            .cast("double")
            .alias("sum_val"),
        )
        .filter(F.col("n_rows") > 0)
    )
    feed = cdf.agg(
        F.count(F.when(F.col("change_type") == "insert", 1))
        .cast("bigint")
        .alias("n_ins"),
        F.count(F.when(F.col("change_type") == "delete", 1))
        .cast("bigint")
        .alias("n_del"),
        F.count(F.when(F.col("change_type") == "update", 1))
        .cast("bigint")
        .alias("n_upd"),
    )
    return maintained.crossJoin(F.broadcast(feed))
