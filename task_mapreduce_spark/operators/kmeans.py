"""Lloyd's k-means, written once per engine: the one trainer behind IVF
cells (flat and two-level), PQ codebooks and the IVF-PQ residual
codebooks.  Registers no keys.

k-means is the textbook iterative MapReduce job: assigning points to
their nearest centroid is a map, and recomputing each centroid as the
mean of its members is a reduce.  A trainer is three parts, each written
here once for Spark and once for DuckDB SQL:

- **seeds** — the rows whose portable 48-bit md5(vec_id) hash is ≡ 0 mod
  a stride, a hash-ORDER draw that holds for any id distribution.  The
  stride is N/⌈√N⌉ by default (≈√N centroids), ⌊N/k⌋ for a constant
  codebook of ≈k, or a constant (E[cell] ≈ stride).  The hash reads md5
  chars ``chars``..``chars``+11; two rules in one key must use disjoint
  chars (CLAUDE.md);
- **slices** — PQ's subspace split: one row per (row, sub) holding the
  sub-th of ``m`` equal slices of a vector;
- **the Lloyd loop** — assign(0), then ``LLOYD_STEPS`` rounds of mean +
  assign.  The caller supplies the assign (IVF flat argmax, IVF
  two-level, PQ argmin); the mean is the exact decimal(28,10) sum, one
  double division, round 9, on both engines.

Seeds stay lazy: the first assign's broadcast is their one consumer.
A Spark round checkpoints exactly twice, both measured cliffs: the
assignment before the posexplode mean (Generate over a live
hash-aggregate, 40×) and the centroid table (a broadcast subtree
re-runs per consuming job).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from task_mapreduce_spark.functions.hashing import hash48, hash48_sql

# Lloyd rounds over the hash seeds.  One round + a wider probe measured
# the same recall as two rounds (sim_search_ivf: 0.58 either way), and a
# round doubles clustering cost for every key that shares the cells.
LLOYD_STEPS = 1


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------


def seeds(
    frame: DataFrame,
    vec: str,
    k: int | None = None,
    stride: int | None = None,
    chars: int = 1,
) -> DataFrame:
    """Seed centroids ``(cid, cv)``: the rows of ``frame`` whose
    ``hash48(vec_id, chars)`` is ≡ 0 mod the stride.  The stride is a
    1-row params frame cross-joined in (no driver action): ``stride``
    when given, else ⌊N/k⌋ when ``k`` is, else N/⌈√N⌉."""
    if stride is not None:
        params = frame.sparkSession.range(1).select(
            F.lit(int(max(1, stride))).cast("long").alias("stride")
        )
    else:
        n = F.col("n")
        sqrt_n = F.greatest(F.lit(1.0), F.ceil(F.sqrt(n)))
        per = sqrt_n if k is None else F.lit(int(k))
        params = frame.agg(F.count(F.lit(1)).alias("n")).select(
            F.greatest(F.lit(1).cast("long"), F.floor(n / per).cast("long"))
            .alias("stride")
        )
    return (
        frame.crossJoin(F.broadcast(params))
        .filter(hash48("vec_id", chars) % F.col("stride") == 0)
        .select(F.col("vec_id").alias("cid"), F.col(vec).alias("cv"))
    )


def slices(frame: DataFrame, keys: list, vec: str, out: str, m: int) -> DataFrame:
    """``(*keys, sub, out)``: the sub-th of ``m`` equal slices of ``vec``
    for sub in 0..m-1.  The explode is an in-row size-preserving sequence
    (the safe Generate case)."""
    d = F.expr(f"size({vec}) div {m}")
    sub = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub")
    return frame.select(*keys, vec, sub).select(
        *keys, "sub", F.slice(vec, F.col("sub") * d + 1, d).alias(out)
    )


def means(frame: DataFrame, keys: list, vec: str) -> DataFrame:
    """The element-wise mean of ``vec`` per ``keys`` group, as
    ``(*keys, vec)``: posexplode, exact decimal(28,10) sum over one
    double division rounded to 9, then the (idx, m) pairs sorted back
    into a vector.  ``frame`` must be checkpointed: Generate over a live
    hash-aggregate is a measured 40× cliff."""
    m = (
        frame.select(*keys, F.posexplode(vec).alias("idx", "val"))
        .groupBy(*keys, "idx")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("m")
        )
    )
    pairs = F.array_sort(F.collect_list(F.struct("idx", "m")))
    return m.groupBy(*keys).agg(F.transform(pairs, lambda s: s["m"]).alias(vec))


def lloyd(
    frame: DataFrame,
    cents: DataFrame,
    assign: Callable[[DataFrame, DataFrame], DataFrame],
    keys: list,
    vec: str,
    cv: str,
):
    """``LLOYD_STEPS`` rounds from the seed centroids ``cents``.  Returns
    ``(assignment, centroids)``: the final ``assign(frame, centroids)``
    and the last round's centroid table.

    ``assign(frame, cents)`` returns the assignment with the cluster
    column ``keys[-1]``, one row per ``vec_id`` and subspace key
    ``keys[:-1]``; it carries scalars only (the vectors re-join here).
    Centroids are ``(cid, *keys[:-1], cv)``.  A round: join the vectors
    ``vec`` back to the assignment and checkpoint it, take the mean per
    ``keys``, checkpoint the centroid table, assign again."""
    ids = ["vec_id", *keys[:-1]]
    cid = F.col(keys[-1]).alias("cid")
    for _ in range(LLOYD_STEPS):
        # Generate directly over a LIVE hash-aggregate subplan is a
        # measured 40× cliff (23 s vs 0.6 s for the same 1.28M-row
        # explode at 20k vectors), so the assignment is checkpointed
        # before the mean: N narrow rows + the vector, the index's own
        # working set
        cur = frame.join(assign(frame, cents), ids).localCheckpoint()
        # the centroid table is checkpointed because a BROADCAST
        # subtree re-executes its whole child plan per consuming job:
        # probes, the final assign and any caller each re-ran the Lloyd
        # chain (sim_search_ivf at x10: 46 s → 4 s once cut)
        cents = (
            means(cur, keys, vec)
            .select(cid, *keys[:-1], F.col(vec).alias(cv))
            .localCheckpoint()
        )
    return assign(frame, cents), cents


# ---------------------------------------------------------------------------
# DuckDB SQL
# ---------------------------------------------------------------------------


def seed_ctes(
    out: str,
    src: str,
    vec: str,
    k: int | None = None,
    stride: int | None = None,
    chars: int = 1,
) -> list[str]:
    """SQL twin of :func:`seeds`: CTE ``{out}(cid, cv)`` over
    ``src(vec_id, vec)``, plus ``{out}_p(stride)`` for a derived stride.
    A constant stride stays a literal in the filter: behind a
    cross-joined 1-row CTE its selectivity is hidden from DuckDB's join
    planner, and the IVF-PQ oracle's ADC join went from 8 s to out of
    memory at sf0.01."""
    h = hash48_sql("vec_id", chars)
    if stride is not None:
        return [
            f"""{out} AS (
      SELECT vec_id AS cid, {vec} AS cv FROM {src}
      WHERE {h} % {int(max(1, stride))} = 0
    )"""
        ]
    per = str(int(k)) if k is not None else "greatest(1, ceil(sqrt(count(*))))"
    return [
        f"""{out}_p AS (
      SELECT greatest(1, CAST(floor(count(*) / {per}) AS BIGINT)) AS stride
      FROM {src}
    )""",
        f"""{out} AS (
      SELECT vec_id AS cid, {vec} AS cv FROM {src}, {out}_p
      WHERE {h} % {out}_p.stride = 0
    )""",
    ]


def slice_cte(name: str, src: str, keys: list, vec: str, out: str, m: int) -> str:
    """SQL twin of :func:`slices`: CTE ``{name}(*keys, sub, out)``."""
    d = f"(len({vec}) // {m})"
    return f"""{name} AS (
      SELECT {", ".join(keys)}, s.sub,
             list_slice({vec}, s.sub * {d} + 1, (s.sub + 1) * {d}) AS {out}
      FROM {src} CROSS JOIN (SELECT unnest(range({m})) AS sub) s
    )"""


def mean_ctes(
    asn: str, src: str, keys: list, vec: str, cents: str, cv: str
) -> list[str]:
    """SQL twin of :func:`means` plus the rename :func:`lloyd` applies:
    CTE ``{cents}(cid, *keys[:-1], cv)`` from the assignment ``asn``
    joined to the vectors ``src`` on vec_id and the subspace keys
    (parallel unnests zip)."""
    on = ", ".join(["vec_id", *keys[:-1]])
    group = ", ".join(keys)
    return [
        f"""{cents}_elems AS (
      SELECT {", ".join(f"a.{c}" for c in keys)}, unnest(s.{vec}) AS val,
             unnest(range(len(s.{vec}))) AS idx
      FROM {asn} a JOIN {src} s USING ({on})
    )""",
        f"""{cents}_means AS (
      SELECT {group}, idx,
             round(CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE)
                     / COUNT(*), 9) AS m
      FROM {cents}_elems GROUP BY {group}, idx
    )""",
        f"""{cents} AS (
      SELECT {", ".join([f"{keys[-1]} AS cid", *keys[:-1]])},
             list(m ORDER BY idx) AS {cv}
      FROM {cents}_means GROUP BY {group}
    )""",
    ]


def lloyd_ctes(
    assign: Callable[[int], list[str]],
    src: str,
    keys: list,
    vec: str,
    asn: str,
    cents: str,
    cv: str,
) -> list[str]:
    """SQL twin of :func:`lloyd`: ``assign(r)`` emits the CTEs of round
    r's assignment ``{asn}{r}`` against ``{cents}{r}`` (``{cents}0`` =
    the seeds, which the caller emits); the chain is assign(0), then
    mean(r) + assign(r) per step, and ends in the aliases ``{cents}``
    and ``{asn}`` for the last round."""
    ctes = assign(0)
    for r in range(1, LLOYD_STEPS + 1):
        ctes += mean_ctes(f"{asn}{r - 1}", src, keys, vec, f"{cents}{r}", cv)
        ctes += assign(r)
    return ctes + [
        f"{cents} AS (SELECT * FROM {cents}{LLOYD_STEPS})",
        f"{asn} AS (SELECT * FROM {asn}{LLOYD_STEPS})",
    ]
