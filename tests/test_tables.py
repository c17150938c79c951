"""``tables.load``: the driver-side footer check catches schema drift that a
declared-schema read alone would hide, and the layouts the repo writes
itself (multi-file directories, Spark output with ``_SUCCESS``) load
clean.  ``tables.row_count`` reads the same footers."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from task_mapreduce_spark.tables import SCHEMAS, load, row_count


def _renamed(old, new):
    return lambda t: t.rename_columns([new if c == old else c for c in t.column_names])


def _cast(col, typ):
    return lambda t: t.set_column(
        t.schema.get_field_index(col), col, pc.cast(t[col], typ)
    )


# (table, drift) pairs, each applied with pyarrow to a copy of the table
_DRIFTS = {
    "renamed": ("nation", _renamed("n_name", "n_title")),
    "case_only_rename": ("nation", _renamed("n_name", "n_NAME")),
    "dropped": ("orders", lambda t: t.drop_columns(["o_orderpriority"])),
    "extra": (
        "nation",
        lambda t: t.append_column("n_comment", pa.array([""] * t.num_rows)),
    ),
    "int_widened": ("nation", _cast("n_regionkey", pa.int64())),
    # a type Spark's Arrow mapping rejects outright
    "int_unsigned": ("nation", _cast("n_regionkey", pa.uint32())),
    "ntz_as_tz_aware": ("orders", _cast("o_orderdate", pa.timestamp("us", tz="UTC"))),
}


@pytest.mark.parametrize("drift", sorted(_DRIFTS))
def test_load_rejects_drift(spark, sf_dir, tmp_path, drift):
    name, change = _DRIFTS[drift]
    table = change(pq.read_table(f"{sf_dir}/{name}.parquet"))
    pq.write_table(table, f"{tmp_path}/{name}.parquet")
    with pytest.raises(ValueError, match=f"table '{name}'"):
        load(spark, str(tmp_path), name)


def test_load_rejects_spark_written_timestamp(spark, sf_dir, tmp_path):
    # Spark writes a tz-aware TIMESTAMP as INT96 by default, which pyarrow
    # reads as tz-less nanos: the footer check must still see TIMESTAMP
    (
        load(spark, sf_dir, "orders")
        .withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        .write.parquet(f"{tmp_path}/orders.parquet")
    )
    with pytest.raises(ValueError, match="table 'orders'"):
        load(spark, str(tmp_path), "orders")


@pytest.mark.parametrize("name", ["nation", "orders"])
def test_load_multi_file_directory(spark, sf_dir, tmp_path, name):
    # the scripts/probe_partitioning.py layout: N Spark-written part files
    src = load(spark, sf_dir, name)
    src.repartition(4).write.parquet(f"{tmp_path}/{name}.parquet")
    parts = [
        f for f in os.listdir(f"{tmp_path}/{name}.parquet") if f.startswith("part-")
    ]
    assert len(parts) > 1
    back = load(spark, str(tmp_path), name)
    assert back.schema == SCHEMAS[name]
    assert sorted(back.collect()) == sorted(src.collect())


@pytest.mark.parametrize("name", ["nation", "orders"])
def test_load_empty_spark_directory(spark, tmp_path, name):
    # the tests/test_empty_corpus.py layout: an empty frame written by
    # Spark, so the directory holds _SUCCESS, .crc files and one part file
    spark.createDataFrame([], SCHEMAS[name]).write.parquet(
        f"{tmp_path}/{name}.parquet"
    )
    assert "_SUCCESS" in os.listdir(f"{tmp_path}/{name}.parquet")
    back = load(spark, str(tmp_path), name)
    assert back.schema == SCHEMAS[name]
    assert back.count() == 0


def test_load_missing_path_is_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load(spark, f"{tmp_path}/no_such_sf", "nation")


def test_load_events_nanos_footer_matches_micros(spark, sf_dir, tmp_path):
    # a TIMESTAMP(NANOS) ts takes the reader-dependent branch (inferred
    # schema, legacy nanos-as-long conf); it must load the same values
    # as the MICROS copy, which reads with the declared schema
    table = pq.read_table(f"{sf_dir}/events.parquet")
    assert table.schema.field("ts").type == pa.timestamp("us")
    pq.write_table(_cast("ts", pa.timestamp("ns"))(table), f"{tmp_path}/events.parquet")
    back = load(spark, str(tmp_path), "events")
    assert back.schema == SCHEMAS["events"]
    assert sorted(back.collect()) == sorted(load(spark, sf_dir, "events").collect())


def test_row_count_one_file(sf_dir):
    want = pq.read_table(f"{sf_dir}/documents.parquet").num_rows
    assert want > 0
    assert row_count(sf_dir, "documents") == want


def test_row_count_sums_a_multi_file_directory(spark, sf_dir, tmp_path):
    # a 4-file Spark-written directory counts every part file, and the
    # _SUCCESS and .crc sidecars add nothing
    src = load(spark, sf_dir, "documents")
    src.repartition(4).write.parquet(f"{tmp_path}/documents.parquet")
    d = f"{tmp_path}/documents.parquet"
    parts = [f for f in os.listdir(d) if f.startswith("part-")]
    assert len(parts) == 4
    assert row_count(str(tmp_path), "documents") == sum(
        pq.read_metadata(f"{d}/{f}").num_rows for f in parts
    )
    assert row_count(str(tmp_path), "documents") == src.count()


def test_row_count_of_a_directory_without_data_files_is_none(tmp_path):
    os.makedirs(f"{tmp_path}/documents.parquet")
    open(f"{tmp_path}/documents.parquet/_SUCCESS", "w").close()
    assert row_count(str(tmp_path), "documents") is None


def test_row_count_of_a_missing_path_is_none(tmp_path):
    assert row_count(f"{tmp_path}/no_such_sf", "documents") is None
