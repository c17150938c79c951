"""The portable 48-bit token hash, written once per engine.

Spark ``conv(substr(md5(t), c, 12), 16, 10)::long`` equals DuckDB
``('0x' || substr(md5(t), c, 12))::BIGINT`` for every string (unicode
and '' included), so a key built on it (an LSH, a fingerprint, a hash
split or sample) can be value-checked against its oracle.  ``chars``
picks which 12 of md5's 32 hex chars are read; two hash rules in one
key read disjoint chars (1 and 13), so neither rule slices the other.

Inside a higher-order function, call it from a lambda:
``F.transform(arr, lambda t: hash48(t))``.  Passed bare, its two
parameters make Spark bind the element INDEX to ``chars``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from task_mapreduce_spark.functions.exact import _col


def hash48(c: Column | str, chars: int = 1) -> Column:
    """md5 chars ``chars``..``chars``+11 of ``c`` (a column name or a
    Column, read as a string) as a long."""
    h = F.substring(F.md5(_col(c).cast("string")), chars, 12)
    return F.conv(h, 16, 10).cast("long")


def hash48_sql(expr: str, chars: int = 1) -> str:
    """DuckDB twin of :func:`hash48`."""
    return f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), {chars}, 12))::BIGINT"
