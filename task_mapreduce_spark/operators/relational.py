"""Core relational surface (SURVEY.md §2.1, §2.2, §2.6, §2.7) + flagship.

MapReduce heritage: ``map`` ≙ project/filter, ``reduce`` ≙ groupBy-agg,
"distributed grep" ≙ filter_like_regex, "distributed sort" ≙
sort_global (Dean & Ghemawat §2.3).  Everything here is a declarative
DataFrame plan — Catalyst does predicate pushdown, column pruning and
(for orderBy) range-partitioned sort; nothing runs driver-side.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from task_mapreduce_spark.functions.exact import (
    davg,
    dsum,
    dsum_exact,
    sql_davg,
    sql_dsum,
    sql_dsum_exact,
)
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load


def _work_dir(tag: str) -> str:
    """Fixed per-process scratch dir (reused across invocations so
    repeated parity sweeps don't leak a new /tmp dir per call)."""
    d = os.path.join(tempfile.gettempdir(), f"tmrs_{tag}_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return d

# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary.
# scan → filter (pushed to parquet) → hash-agg with partial aggregation
# (the MapReduce combine, done automatically map-side) → small sort.
# Scale note: group-by cardinality is 6 (returnflag × linestatus), so the
# shuffle moves only per-partition partials — this is the ideal 100 TB
# aggregation shape.
# ---------------------------------------------------------------------------

# The products are computed decimal×decimal (operands cast FIRST): a
# double product differs between engines at the ulp level and rounds to
# a different decimal, which broke the sf0.1 hash in round 1.  Decimal
# arithmetic is exact, so both engines sum identical rationals and the
# final cast-to-double is one deterministic conversion.
_DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,4))"
    " * (1 - CAST(l_discount AS DECIMAL(6,4)))"
)
_CHARGE_SQL = f"{_DISC_PRICE_SQL} * (1 + CAST(l_tax AS DECIMAL(6,4)))"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  {sql_dsum_exact(_DISC_PRICE_SQL)} AS sum_disc_price,
  {sql_dsum_exact(_CHARGE_SQL)} AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  {sql_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1", oracle=_Q1_ORACLE)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(5,4)")
    price = F.col("l_extendedprice").cast("decimal(12,4)")
    disc_price = price * (one - F.col("l_discount").cast("decimal(6,4)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(6,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_exact(disc_price).alias("sum_disc_price"),
            dsum_exact(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.1 scans / sources / sinks
# ---------------------------------------------------------------------------


@register("scan_parquet", oracle="SELECT * FROM nation")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain columnar scan; projection/predicates push to the parquet reader."""
    return load(spark, sf_dir, "nation")


@register(
    "scan_csv_json",
    oracle="SELECT * FROM region UNION ALL SELECT * FROM region",
)
def scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format ingest with explicit schemas (never inferred in prod:
    schema inference is a full extra pass over 100 TB)."""
    region = load(spark, sf_dir, "region")
    tmp = _work_dir("scan")
    csv_path, json_path = f"{tmp}/csv", f"{tmp}/json"
    region.write.mode("overwrite").option("header", True).csv(csv_path)
    region.write.mode("overwrite").json(json_path)
    schema = "r_regionkey INT, r_name STRING"
    csv_df = spark.read.schema(schema).option("header", True).csv(csv_path)
    json_df = spark.read.schema(schema).json(json_path)
    return csv_df.unionByName(json_df)


@register(
    "scan_sink_orc",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def scan_sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip — the other columnar format Spark ships natively
    (same vectorized reader, predicate pushdown and pruning story as
    parquet).  Read back with the written schema: explicit schemas skip
    inference and survive empty sinks."""
    n = load(spark, sf_dir, "nation")
    out = f"{_work_dir('orc')}/nation"
    n.write.mode("overwrite").orc(out)
    return spark.read.schema(n.schema).orc(out)


@register(
    "sink_parquet",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(24,4))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → read-back roundtrip. In production the write would be
    partitioned by a date column (`partitionBy`) for partition pruning."""
    orders = load(spark, sf_dir, "orders")
    out = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice").alias("total")
    )
    tmp = _work_dir("sink")
    out.write.mode("overwrite").parquet(f"{tmp}/agg")
    return spark.read.schema(out.schema).parquet(f"{tmp}/agg")


# ---------------------------------------------------------------------------
# §2.2 projection / filter / predicates
# ---------------------------------------------------------------------------


@register(
    "project_rename_cast",
    oracle="""
    SELECT
      l_orderkey AS order_key,
      CAST(l_linenumber AS BIGINT) AS line_no,
      CAST(l_shipdate AS DATE) AS ship_date,
      CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
      l_returnflag || '-' || l_linestatus AS flag_status
    FROM lineitem
    """,
)
def project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").cast("bigint").alias("line_no"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        # F.concat (not concat_ws): SQL `||` yields NULL on any NULL input
        # and concat_ws silently skips NULLs — matching NULL propagation
        # keeps oracle parity on nullable columns.
        F.concat("l_returnflag", F.lit("-"), "l_linestatus").alias("flag_status"),
    )


@register(
    "filter_pred",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice BETWEEN 1000 AND 200000
      AND NOT (o_orderpriority = '5-LOW')
      AND o_custkey IS NOT NULL
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates stay Column expressions so they push down to
    the parquet row-group stats (`PushedFilters` in .explain)."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(1000, 200000)
        & ~(F.col("o_orderpriority") == "5-LOW")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "filter_like_regex",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE text LIKE '%fast%' AND regexp_matches(text, 'agg (row|scan)')
    """,
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep (Dean & Ghemawat §2.3) as a declarative filter."""
    d = load(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").like("%fast%") & F.col("text").rlike("agg (row|scan)")
    ).select("doc_id", "source")


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct ≙ MapReduce identity-reduce; Spark plans it as a hash
    aggregate with map-side partials, so the shuffle carries unique keys
    only — exactly what you want at 100 TB."""
    c = load(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------------------
# §2.6 sort / top-k
# ---------------------------------------------------------------------------


def _pid_from_literal_bounds(col_name: str, bounds: list) -> F.Column:
    """pid = 1 + #distinct boundaries strictly below the value, with the
    boundaries inlined as LITERALS: the id is a pure function of the
    row's value — recomputation/eviction-stable, unlike range
    partitioning's per-run sampling — monotone in the value, and equal
    keys share a bucket.  Must stay arithmetic-identical to the
    broadcast-array form in :func:`sort_global` (distinct bounds,
    strict <), which derives the same ids in the counting pass."""
    pid: F.Column = F.lit(1)
    for b in sorted(set(bounds)):  # dedup: massive ties → empty buckets
        pid = pid + F.when(F.col(col_name) > F.lit(b), 1).otherwise(0)
    return pid.cast("long")


def percentile_bucket_ids(df: DataFrame, col_name: str, n_buckets: int) -> F.Column:
    """Bucket-id expression (1..n) for a global sort: boundaries seeded
    from ``approx_percentile`` so heavy-tailed keys still yield
    near-equal bucket counts (linear min/max widths pile a skewed key
    into one straggler bucket)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(F.percentile_approx(col_name, qs, 10000)).first()[0] or []
    return _pid_from_literal_bounds(col_name, bounds)


@register(
    "sort_global",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    """,
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order ≙ MR distributed sort (TeraSort).

    The global rank is materialized WITHOUT a single-partition window
    (which would funnel the whole table through one task).  Because
    the boundaries are equi-depth percentiles rather than equal-width
    slices of [min, max], a heavy-tailed sort key still spreads ~1/n
    of the rows into each bucket.

    TWO jobs, not three: the boundary derivation rides the counting
    job as a broadcast 1-row aggregate (the repo's standing
    metadata-row pattern, cf. tpch_q15) — each count row carries the
    boundary array it was bucketed under, so ONE collect yields both
    the per-bucket counts and the exact boundaries that produced
    them.  The ranking pass then re-derives the bucket id from those
    collected boundaries as LITERALS (a pure function of the row's
    value), which is what makes the two passes provably consistent:
    approx_percentile's partial-merge order need not be reproducible
    across jobs, but the ranking pass never re-runs it.  Pass 2
    computes a per-bucket row_number and adds the broadcast bucket
    offset; ties are broken by the unique key so the rank is
    deterministic."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    order_cols = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    n_buckets = 64  # at 100 TB: raise so each bucket fits an executor core
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds_row = o.agg(
        F.array_sort(
            F.array_distinct(F.percentile_approx("o_totalprice", qs, 10000))
        ).alias("__bounds")
    )
    # same arithmetic as _pid_from_literal_bounds: 1 + #distinct
    # boundaries strictly below the value.  greatest(·, 0) on top of
    # coalesce: size(NULL) is NULL on this Spark build but -1 on
    # legacy-sizeOfNull builds (CLAUDE.md: the build swaps between
    # rounds), and a -1 here would desync the counting pass (pid=0)
    # from the literal ranking pass (pid=1), emptying the join.
    pid_bcast = (
        F.lit(1)
        + F.greatest(
            F.coalesce(
                F.size(F.filter("__bounds", lambda b: b < F.col("o_totalprice"))),
                F.lit(0),
            ),
            F.lit(0),
        )
    ).cast("long")
    stat = (
        o.crossJoin(F.broadcast(bounds_row))
        .withColumn("pid", pid_bcast)
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("__bounds").alias("bounds"))
        .collect()
    )  # ≤ n+1 rows of metadata, each carrying the (identical) bounds array
    # `or []`: an all-NULL sort column yields rows but a NULL bounds array
    bounds = (stat[0]["bounds"] if stat else None) or []
    offsets, acc = [], 0
    # descending sort → highest bucket id ranks first
    for r in sorted(stat, key=lambda r: -r["pid"]):
        offsets.append((int(r["pid"]), acc))
        acc += r["cnt"]
    off_df = spark.createDataFrame(offsets or [(1, 0)], "pid BIGINT, off BIGINT")
    parts = o.withColumn("pid", _pid_from_literal_bounds("o_totalprice", bounds))
    w = Window.partitionBy("pid").orderBy(*order_cols)
    return (
        parts.join(F.broadcast(off_df), "pid")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.row_number().over(w) + F.col("off")).cast("long").alias("rn"),
        )
    )


@register(
    "topk_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: planned as TakeOrderedAndProject — each partition
    keeps its local top-100, only k×partitions rows reach the driver
    stage. O(k) memory at any scale; the unique-key tiebreak makes the
    result set deterministic."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


@register(
    "sort_within_partitions",
    oracle="SELECT user_id, event_id, ts FROM events",
)
def sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MR secondary-sort idiom: partition by key, sort within partition —
    no global shuffle-sort. Content equals the plain projection (oracle);
    tests/test_layout.py asserts the physical layout (key-disjoint
    partitions, each sorted by (user_id, ts, event_id))."""
    e = load(spark, sf_dir, "events")
    return (
        e.repartition(8, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "event_id", "ts")
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@register(
    "set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "set_intersect_except",
    oracle="""
    SELECT 'both' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'only_customer' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    both = c.intersect(o).select(F.lit("both").alias("tag"), "c_custkey")
    # subtract == SQL EXCEPT (set semantics); exceptAll+distinct is NOT —
    # a key on both sides with higher left multiplicity would survive it.
    only = c.subtract(o).select(F.lit("only_customer").alias("tag"), "c_custkey")
    return both.unionByName(only)


@register(
    "scan_evolving_schema",
    # expected result derivable purely from `orders`: era-0 files lack
    # o_orderpriority, so merged reads surface it as NULL there
    oracle="""
    SELECT yr, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS with_priority
    FROM (
      SELECT CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) < 1998
                  THEN 1997 ELSE 1998 END AS yr,
             CASE WHEN year(CAST(o_orderdate AS TIMESTAMP)) < 1998
                  THEN NULL ELSE o_orderpriority END AS o_orderpriority
      FROM orders
    )
    GROUP BY yr ORDER BY yr
    """,
)
def scan_evolving_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two file eras of the same table — the old
    era written BEFORE a column existed, the new era after — read back
    as one relation with ``mergeSchema``, the old files surfacing the
    missing column as NULL.

    This is the every-day 100 TB situation (a corpus accumulated over
    years drifts columns), and the two production rules it encodes:
    merged reads must ask for schema union explicitly (``mergeSchema``
    is a footer-only pass but not free — at scale you pin the merged
    schema in a catalog instead of re-deriving it per query), and
    downstream logic must treat era-missing values as NULL, never as a
    read error.  The count/COUNT(col) pair proves NULL-fill happened
    per era."""
    o = load(spark, sf_dir, "orders")
    era0 = o.filter(F.year("o_orderdate") < 1998).select(
        "o_orderkey", "o_orderdate"
    )
    era1 = o.filter(F.year("o_orderdate") >= 1998).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    tmp = _work_dir("evolve")
    era0.write.mode("overwrite").parquet(f"{tmp}/t/era=0")
    era1.write.mode("overwrite").parquet(f"{tmp}/t/era=1")
    merged = spark.read.option("mergeSchema", True).parquet(f"{tmp}/t")
    return (
        merged.groupBy(
            F.when(F.year("o_orderdate") < 1998, 1997).otherwise(1998).alias("yr")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.count("o_orderpriority").cast("bigint").alias("with_priority"),
        )
        .orderBy("yr")
    )


@register(
    "scan_permissive_corrupt",
    oracle="""
    SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE o_orderstatus END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o_orderkey % 10 = 0 THEN 1 END) AS BIGINT)
             AS n_corrupt
    FROM orders
    GROUP BY status
    """,
)
def scan_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant text ingest: a JSON landing file where every
    tenth record is malformed (truncated mid-object — the classic
    upstream-producer crash artifact), read back in PERMISSIVE mode
    with a declared ``_corrupt_record`` column and accounted per
    status, corrupt rows under a NULL status bucket.

    This is the production ingest contract at 100 TB: one bad record
    must quarantine ITSELF (parse → NULL fields + raw line in the
    corrupt column), never fail the job (FAILFAST) or silently vanish
    (DROPMALFORMED) — the corrupt count is the data-quality metric a
    landing pipeline alerts on.  The malformed lines are derived
    deterministically from the fixture (o_orderkey % 10 = 0), so the
    oracle reproduces the expected accounting from ``orders`` alone."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    line = F.when(
        F.col("o_orderkey") % 10 == 0,
        F.concat(F.lit('{"o_orderkey": '), F.col("o_orderkey"), F.lit(", TRUNC")),
    ).otherwise(F.to_json(F.struct("o_orderkey", "o_orderstatus")))
    tmp = _work_dir("permissive")
    path = f"{tmp}/landing_json"
    o.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = (
        "o_orderkey LONG, o_orderstatus STRING, _corrupt_record STRING"
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return parsed.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
    )
