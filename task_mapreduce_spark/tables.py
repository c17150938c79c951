"""Table loading + declared schemas.

Schemas are declared as ``StructType`` constants (read from the parquet
footers of the driver-generated tables — FIXTURES.md) and validated on
load: at 100 TB a silent schema drift is an outage, so the engine fails
fast on any column/type mismatch instead of propagating it.  The check
reads the table's parquet footer on the driver (pyarrow, well under a
millisecond) and the scan declares the schema, so loading a table runs
no Spark job; letting Spark infer the schema would cost one scheduler
job per load.

All loads go through :func:`load` so that (a) the session timezone is
pinned to UTC before any timestamp semantics apply, and (b) column
pruning / predicate pushdown stay available — we hand Catalyst the raw
parquet scan and express everything else declaratively on top.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from task_mapreduce_spark.session import tune

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = list(SCHEMAS)


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _data_files(path: str) -> list[str]:
    """A table's local data files, sorted: the table itself, or a
    directory table's files (Spark skips ``_``/``.`` names such as
    ``_SUCCESS`` and ``.crc`` sidecars).  Empty when there is no local
    data file to read: a missing path, a remote URI, or a directory
    holding only partition subdirectories."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return []
    return [
        full
        for entry in sorted(os.listdir(path))
        if not entry.startswith(("_", "."))
        and os.path.isfile(full := os.path.join(path, entry))
    ]


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark would infer the table's schema from
    (the first of :func:`_data_files`), or None when there is none."""
    files = _data_files(path)
    return files[0] if files else None


def row_count(sf_dir: str, name: str) -> int | None:
    """Table ``name``'s row count, summed over its data files' parquet
    footers on the driver (as :func:`load` reads them), so it runs no
    Spark job.  None when there is no local footer to read (a remote
    URI, a missing path): a caller that wants a bound then goes
    without."""
    files = _data_files(path_of(sf_dir, name))
    if not files:
        return None
    return sum(pq.read_metadata(f).num_rows for f in files)


def _footer_schema(name: str, parquet: pq.ParquetSchema) -> T.StructType:
    """Spark's types for one parquet footer, read on the driver."""
    arrow = parquet.to_arrow_schema()
    # pyarrow reads legacy INT96 timestamps as tz-less nanos, which would
    # map to TIMESTAMP_NTZ; Spark reads them as a session-zone TIMESTAMP.
    for i in range(len(parquet)):
        col = parquet.column(i)
        if col.physical_type == "INT96" and col.path in arrow.names:
            arrow = arrow.set(
                arrow.get_field_index(col.path),
                pa.field(col.path, pa.timestamp("us", tz="UTC")),
            )
    try:
        return from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except TypeError as e:  # a parquet type Spark's Arrow mapping rejects
        raise ValueError(f"schema drift for table {name!r}: {e}") from e


def _is_nanos(parquet: pq.ParquetSchema, column: str) -> bool:
    """Whether ``column`` is stored as parquet TIMESTAMP(NANOS)."""
    for i in range(len(parquet)):
        col = parquet.column(i)
        if col.path == column:
            unit = json.loads(col.logical_type.to_json()).get("timeUnit")
            return unit == "nanoseconds"
    return False


def events_schema(spark: SparkSession, path: str) -> T.StructType:
    """The declared schema a scan of the ``events`` table at ``path``
    reads with, ``ts`` typed as its parquet footer decides (read once,
    on the driver): a MICROS or MILLIS ``ts`` reads as TIMESTAMP_NTZ,
    and a plain INT64 ``ts`` (legacy epoch nanos) as a long.  The
    footer's other columns must match ``SCHEMAS["events"]`` as for any
    table (:func:`_check`).

    Only a TIMESTAMP(NANOS) footer, or no local footer to read, asks the
    reader (a one-task inference job), because how it reads NANOS
    depends on the Spark build: newer readers surface it natively as
    TIMESTAMP_NTZ (truncated to micros), older ones only read it with
    the legacy nanos-as-long conf.  The conf is session-global and
    deliberately never unset — scans execute lazily, and on readers
    that honor it the conf must still hold at execution time."""
    footer = _footer_file(path)
    parquet = pq.read_metadata(footer).schema if footer is not None else None
    if parquet is not None and not _is_nanos(parquet, "ts"):
        got = _footer_schema("events", parquet)
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        got = spark.read.parquet(path).schema
    want = SCHEMAS["events"]
    if "ts" in got.fieldNames() and isinstance(got["ts"].dataType, T.LongType):
        want = T.StructType(
            [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in want]
        )
    _check("events", got, want)
    return want


def _check(
    name: str, schema: T.StructType, declared: T.StructType | None = None
) -> None:
    declared = SCHEMAS[name] if declared is None else declared
    got = {f.name: f.dataType for f in schema.fields}
    want = {f.name: f.dataType for f in declared.fields}
    if got != want:
        raise ValueError(
            f"schema drift for table {name!r}: expected {want}, got {got}"
        )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema; fail fast on schema drift
    (names, case-sensitively, and types).

    The check reads the parquet footer on the driver, and the scan then
    declares ``SCHEMAS[name]``, so a load runs no Spark job.  A bare
    ``spark.read.parquet(path)`` would run a one-task schema-inference
    job per call.  The check is not optional: under a declared schema
    Spark fills a missing column with NULLs and matches a case-only
    rename silently.  A path with no local footer to read (a remote
    URI, or a missing path, which then fails with Spark's own
    ``PATH_NOT_FOUND``) infers, one job, and checks the inferred schema.

    ``events`` reads with the declared schema, ``ts`` typed as its
    footer decides (:func:`events_schema`, which runs the same check): a
    ``ts`` read as epoch nanos (a plain INT64 column, or TIMESTAMP(NANOS)
    under the legacy conf) is then floored to microseconds — the same
    truncation DuckDB applies, so oracle parity holds at the value
    level.  Only a TIMESTAMP(NANOS) footer costs the load a job.
    """
    tune(spark)
    path = path_of(sf_dir, name)
    if name == "events":
        schema = events_schema(spark, path)
        df = spark.read.schema(schema).parquet(path)
        if isinstance(schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
            )
        return df
    footer = _footer_file(path)
    if footer is not None:
        _check(name, _footer_schema(name, pq.read_metadata(footer).schema))
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    df = spark.read.parquet(path)
    _check(name, df.schema)
    return df
