"""IVF+PQ composed index (``sim_search_ivfpq``, round 12) — the
production ANN architecture (Jégou et al. 2011's IVFADC, the FAISS
``IVFx,PQy`` layout): coarse-quantize the corpus into IVF cells, then
product-quantize each vector's RESIDUAL (vector − its cell centroid),
so a probe touches nprobe cells' postings and scores them from M
one-byte-class codes instead of raw floats.

Lives in its own module because it composes the two registered
constructions — ``_ivf_cells`` (llm_extras) for the coarse level and
the flat-PQ stages of training_pipeline for the residual level.  Only
the residual slicing, the per-cell lookup tables and the cell-aware
ADC join are written here; the assign (``_pq_assign``), the trainer
(``_pq_lloyd``, ``kmeans``' one Lloyd loop), the shortlist + rerank
(``_pq_rerank``) and their SQL emitters are the ones flat PQ runs.

No reference citation is possible: ``/root/reference/`` is an empty
checkout (SURVEY.md §0); the capability bar is SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from task_mapreduce_spark.operators import kmeans
from task_mapreduce_spark.operators.llm_extras import (
    _hier_coarse,
    _hier_probe_ctes,
    _hier_probes,
    _ivf_hier_ctes,
)
from task_mapreduce_spark.operators.training_pipeline import (
    _PQ_M,
    _pq_d2,
    _pq_d2_sql,
    _pq_lloyd,
    _pq_lloyd_ctes,
    _pq_rerank,
    _pq_rerank_sql,
)
from task_mapreduce_spark.registry import register

# constant residual-codebook size (the linear-encode regime —
# sim_search_pq_const's convention; production turns this to 256)
_IPQ_K = 32


def _ivfpq_ctes() -> str:
    """DuckDB twin of the Spark composition: the HIER IVF cell chain
    (``_ivf_hier_ctes`` — constant-cell seeds + two-level assign,
    byte-identical to sim_search_ivf_hier's coarse level, so the
    composed key can never fork from the standalone linear arm; the
    flat √N chain was the registered coarse level through round 12,
    which kept the one end-to-end production layout in the N^1.5
    regime — round-12 verdict #2), then residuals, constant-K
    residual codebooks seeded on md5 chars 13-24 (INDEPENDENT of the
    IVF seed rule's chars 1-12 — a same-bit rule would train the
    residual codebook preferentially on centroid vectors, whose
    residuals are ≈0: the CLAUDE.md composed-hash-rule trap in its
    most insidious form), then the flat-PQ trainer chain
    (``_pq_lloyd_ctes``) over the residual slices ``rsl``.  Ends in
    res/rsl/pcs/pcodes (+ the inherited e/cents/cells/sup/csup)."""
    ctes = [
        _ivf_hier_ctes(),
        """res AS (
      SELECT c.vec_id, c.cell,
             list_transform(range(1, len(e.v) + 1),
                            i -> e.v[i] - ct.cv[i]) AS rv
      FROM cells c JOIN e USING (vec_id) JOIN cents ct ON ct.cid = c.cell
    )""",
        kmeans.slice_cte("rsl", "res", ["vec_id", "cell"], "rv", "sv", _PQ_M),
    ]
    ctes += kmeans.seed_ctes("pseeds", "res", "rv", k=_IPQ_K, chars=13)
    ctes.append(kmeans.slice_cte("pcs0", "pseeds", ["cid"], "cv", "csl", _PQ_M))
    return ",\n    ".join(ctes + _pq_lloyd_ctes("rsl", "p"))


@register(
    "sim_search_ivfpq",
    oracle=f"""
    WITH {_ivfpq_ctes()},
    {_hier_probe_ctes()},
    qr AS (
      SELECT p.query_id, p.cell,
             list_transform(range(1, len(e.v) + 1),
                            i -> e.v[i] - ct.cv[i]) AS qrv
      FROM probes p
      JOIN e ON e.vec_id = p.query_id
      JOIN cents ct ON ct.cid = p.cell
    ),
    {kmeans.slice_cte("qres", "qr", ["query_id", "cell"], "qrv", "sv", _PQ_M)},
    dt AS (
      SELECT q.query_id, q.cell, q.sub, c.cid,
             {_pq_d2_sql("q.sv", "c.csl")} AS d2
      FROM qres q JOIN pcs c USING (sub)
    ),
    adc AS (
      SELECT d.query_id, v.vec_id,
             round(CAST(SUM(CAST(d.d2 AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS adc_dist
      FROM cells v
      JOIN pcodes k ON k.vec_id = v.vec_id
      JOIN dt d ON d.cell = v.cell AND d.sub = k.sub AND d.cid = k.code
      WHERE v.vec_id <> d.query_id
      GROUP BY d.query_id, v.vec_id
    ),
    {_pq_rerank_sql()}""",
)
def sim_search_ivfpq(
    spark: SparkSession, sf_dir: str, _coarse=None
) -> DataFrame:
    """Composed IVF+PQ index — Jégou et al. 2011's IVFADC, the layout
    every production vector-search deployment (FAISS ``IVFx,PQy``)
    actually ships: the LINEAR-REGIME IVF construction coarse-
    quantizes the corpus (``_ivf_cells`` with the constant-cell
    ``_IVF_HIER_CELL`` knob + two-level assign — shared verbatim with
    sim_search_ivf_hier, so the composed key can never disagree with
    the standalone linear arm about the cells; through round 12 this
    key kept the flat √N coarse level, leaving the one end-to-end
    production layout in the N^1.5 regime — round-12 verdict #2),
    each vector's RESIDUAL against its cell centroid is
    product-quantized with a constant-K codebook (``_IPQ_K`` = 32
    codewords/subspace, the linear regime — production turns the same
    dial to 256), and a probe answers from nprobe cells' CODES —
    probed cells ranked supers-first with the size-scaled nprobe
    (:func:`_hier_probes`, round 13): per (query, probed cell) one
    M×K lookup table from the query's residual-in-that-cell (residuals
    are cell-relative, which is why IVFADC quantizes residuals — they
    are smaller and centered, so K codewords capture them far better
    than raw vectors), then an ADC sum per candidate, a
    shortlist, and an exact rerank.

    Residual-codebook seeds hash md5 chars 13-24 — INDEPENDENT of the
    IVF seed rule's chars 1-12 (CLAUDE.md): a same-bit rule would put
    every IVF centroid vector (residual ≈ 0) into the codebook seed
    set whenever the strides share factors, training the codebook on
    exactly the vectors PQ has nothing to learn from.

    Float discipline is the family's: rounded-6 squared-L2 per
    subspace, DECIMAL(18,6)-exact ADC sums, round-9 exact-decimal
    Lloyd means (one round), every argmin/rank tie-broken by id — the
    oracle replays cells, residuals, codebook seeding, the Lloyd
    round, encoding, probe ranking, per-cell lookup tables, ADC,
    shortlist and rerank end to end.

    100 TB shape, and why this is THE deployment layout: the index
    stores N·M byte-class codes (~8 B/vector) + N/64 centroids + M·K
    codebooks — the corpus's raw floats are touched only for shortlist
    rerank rows; build cost is LINEAR end-to-end — the two-level IVF
    assign (N×2√nlist dots) plus an N·M·K residual encode (constant
    codebook); probe cost is nprobe × E[cell] ≈ √nlist·64 code rows
    per query with the |q|·nprobe·M·K lookup tables broadcast, and
    probe RANKING is supers-first (√nlist-row broadcast, never the
    nlist-row centroid table — the round-12 watch item).  Every
    multiplied stream carries scalars only (the _pq_assign
    discipline); the residual and slice frames are round-robin-
    repartitioned and eagerly checkpointed (HOF-collapse +
    serialize-killer defenses, CLAUDE.md).

    ``_coarse`` (private, round-13 optimization): optional
    ``(e, assigned, cents)`` from ``_hier_coarse`` — the coarse level
    this key shares verbatim with sim_search_ivf_hier.  The registered
    entry point builds its own (``None``); sim_eval_recall_deploy
    passes the same checkpointed frames to both arms so the shared
    construction is materialized once per eval instead of twice (see
    the hier key's docstring note)."""
    if _coarse is None:
        _coarse = _hier_coarse(spark, sf_dir)
    e, assigned, cents = _coarse
    par = spark.sparkContext.defaultParallelism

    # residuals: one zip_with per vector, checkpointed so the 8-way
    # slice explosion below can't inline (and 8×-recompute) the
    # subtraction per sub row (CollapseProject, CLAUDE.md)
    res = (
        assigned.join(F.broadcast(cents), assigned.cell == cents.cid)
        .select(
            "vec_id",
            "cell",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("rv"),
        )
        .repartition(par)
        .localCheckpoint()
    )

    rsl = kmeans.slices(res, ["vec_id"], "rv", "sv", _PQ_M)
    rsl = rsl.repartition(par).localCheckpoint()

    # constant-K residual codebook seeds on the INDEPENDENT hash bits,
    # lazy like _pq_slices' seed codebook: ONE consumer (the first Lloyd
    # assign's broadcast), and the derivation is a narrow slice over the
    # checkpointed res — an eager checkpoint here was one extra job with
    # nothing multi-consumer to protect (round-13 pass)
    seeds = kmeans.seeds(res, "rv", k=_IPQ_K, chars=13)
    cs = kmeans.slices(seeds, ["cid"], "cv", "csl", _PQ_M)
    codes, cs = _pq_lloyd(rsl, cs)
    codes = codes.select("vec_id", "sub", "code")

    # ---- probe: two-level supers-first cell ranking with size-scaled
    # nprobe (the sim_search_ivf_hier probe, round 13), then
    # per-(query, cell) residual lookup tables ----
    probes = (
        _hier_probes(e, cents, with_centroid=True)
        .select(
            "query_id",
            "cell",
            F.zip_with("qv", "ccv", lambda a, b: a - b).alias("qrv"),
        )
        # lazy (round-13 pass): consumed ONCE, by the dt broadcast —
        # the subtree executes exactly once inside that broadcast
        # build, so the eager checkpoint bought nothing but its own
        # job.  The HOF-collapse exposure is bounded: the 8-way slice
        # below re-evaluates zip_with on |q|·nprobe (~10²) rows only.
    )
    qsl = kmeans.slices(probes, ["query_id", "cell"], "qrv", "qsv", _PQ_M)
    # lookup-table columns renamed so the three-way join condition has
    # no name (or exprId) overlap with the code/cell stream
    dt = qsl.join(cs, "sub").select(
        "query_id",
        F.col("cell").alias("d_cell"),
        F.col("sub").alias("d_sub"),
        F.col("cid").alias("d_cid"),
        _pq_d2("qsv", "csl").alias("d2"),
    )

    vc = res.select("vec_id", "cell")
    adc = (
        codes.join(vc, "vec_id")
        .join(
            F.broadcast(dt),
            (F.col("sub") == F.col("d_sub"))
            & (F.col("code") == F.col("d_cid"))
            & (F.col("cell") == F.col("d_cell")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("d2").cast("decimal(18,6)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    return _pq_rerank(adc, e.select("vec_id", "v"))
