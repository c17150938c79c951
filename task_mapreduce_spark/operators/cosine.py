"""Exact cosine retrieval, written once: the one embedding projection,
the standing probe set, the probe scorer and the per-query rank window.
Registers no keys.

A search is one map and one reduce: the map scores each (probe, vector)
pair a join brings together, and the reduce keeps each probe's top k.
sim_search_topk joins every vector to the broadcast probes; the ANN
keys in ``llm_extras`` (LSH buckets, IVF cells) equi-join only the
vectors in a probed block; retrieval_fuse_rrf's semantic arm and
pipeline_retrieval_e2e's vector arm rank the same scores.  All of them
bind to these stages, so every arm grades against sim_search_topk on
the same probes with the same score.

These stages live outside ``llm_extras`` because ``corpus_tools`` and
``llm_pipeline`` register their keys before it: a module-level import
of ``llm_extras`` there would move its keys ahead of theirs in the
registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_ANN_TOP_K = 10
_ANN_N_QUERIES = 5  # the standing probe set: vec_id < 5


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _normed_vectors(emb: DataFrame, *extra_cols: str) -> DataFrame:
    """(vec_id, *extra_cols, v: array<double>, nrm) — the ONE embedding
    projection for the whole cosine family: the within-cell joins, the
    exact, LSH and IVF searches, the two index keys and every consumer
    of the IVF clustering (dedup_eval_ari included).  Double-cast once,
    norm once per vector: computing norms per pair would redo 2/3 of
    the floating-point work |pairs| times.  Keeping the cast/norm
    discipline in a single place is what keeps the rounded-cosine
    oracle identity holding across every operator that builds on it."""
    return emb.select(
        "vec_id",
        *extra_cols,
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _probes(e: DataFrame, *extra) -> DataFrame:
    """``(query_id, qv, qn, *extra)``: the standing probe set
    (``vec_id < _ANN_N_QUERIES``) of the normed-vector frame ``e``."""
    return e.filter(F.col("vec_id") < _ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        *extra,
    )


def _probe_scores(pairs: DataFrame) -> DataFrame:
    """``(query_id, vec_id, score)`` over ``pairs``, a join of probes
    ``(query_id, qv, qn)`` to vectors ``(vec_id, v, nrm)``: a query never
    matches itself, and the score is the rounded-6 cosine."""
    return pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
        ).alias("score"),
    )


def _top_scores(scored: DataFrame, k: int) -> DataFrame:
    """Each query's top ``k`` of :func:`_probe_scores`' rows, with a
    bigint ``rank`` over (score DESC, vec_id): a unique key, so ranks
    are engine-stable.  Spark runs the ``rank <= k`` window as a
    WindowGroupLimit: O(k) state per query at any scale."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def _probe_topk(members: DataFrame, probes: DataFrame, key: str) -> DataFrame:
    """The ANN family's one serve path: ``(query_id, vec_id, score,
    rank)``, each query's top ``_ANN_TOP_K`` members.  ``probes`` rows
    ``(query_id, qv, qn, <key>)`` are broadcast and equi-joined on the
    blocking ``key`` (an LSH ``bucket`` or an IVF ``cell``) against the
    ``members`` rows ``(vec_id, v, nrm, <key>)``, so per-task work is
    |block| × probes, never |corpus| × |queries|."""
    return _top_scores(
        _probe_scores(members.join(F.broadcast(probes), key)), _ANN_TOP_K
    )
