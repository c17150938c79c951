"""Training-data pipeline operators beyond the dedup/similarity core:
sequence packing, stratified corpus sampling, embedding quantization,
and event-funnel analysis.

Same design rules as llm_pipeline.py / llm_extras.py: everything is a
declarative DataFrame plan (no Python row path), every windowed
computation orders by a unique key, and every float that crosses the
oracle boundary is either integer-exact by construction or rounded
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from task_mapreduce_spark.functions.exact import dsum, sql_dsum
from task_mapreduce_spark.operators import kmeans
from task_mapreduce_spark.operators.cosine import _ANN_N_QUERIES, _dot
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load

_SQL_DSUM_VALUE = sql_dsum("value")

# ---------------------------------------------------------------------------
# Sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 1024  # tokens per packed sequence


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM documents
    )
    SELECT lang,
           (cum_tokens - n_tokens) // {_PACK_BUDGET} AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM t
    GROUP BY lang, (cum_tokens - n_tokens) // {_PACK_BUDGET}
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences.

    Contiguous-fill packing: within each language stream (ordered by
    the unique doc_id), a doc lands in bin ``floor(tokens_before /
    budget)`` — the deterministic, shuffle-once analogue of greedy
    first-fit, which is inherently sequential and cannot scale.  At
    100 TB the running sum is one window per language partition (the
    natural shard key of a pretraining corpus) and the bin assignment
    is pure integer arithmetic: exact under any merge order, no
    driver-side loop, no Python.  Output is one row per packed bin
    with its fill statistics; a real pipeline would follow with
    ``groupBy(bin_id).agg(collect_list(...))`` to emit the sequences.

    Contract: documents longer than the budget must be chunked
    upstream — an oversized doc advances the fill cursor past whole
    bins, leaving bin-id gaps (the property test pins the dense-ids
    invariant under the every-doc-fits precondition).
    """
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select(
        "doc_id", "lang", n_tokens.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        t.withColumn(
            "bin_id", F.expr(f"(cum_tokens - n_tokens) div {_PACK_BUDGET}")
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------

# Per-language keep rates in sixteenths: downsample the dominant
# language, keep more of the tails — the standard corpus-mixing move.
# md5(doc_id) < '<k>000...' keeps k/16 of the stratum, deterministically
# and engine-portably (same rows on every run and every engine).
_STRATA_16THS = {"en": 4, "de": 8, "es": 8, "fr": 8, "zh": 8}
_DEFAULT_16THS = 2


def _hex_threshold(k: int) -> str:
    return format(k, "x") + "0" * 31


@register(
    "sample_stratified",
    oracle=f"""
    WITH rated AS (
      SELECT *,
             CASE lang
               {" ".join(f"WHEN '{lang}' THEN {k}" for lang, k in sorted(_STRATA_16THS.items()))}
               ELSE {_DEFAULT_16THS}
             END AS k16
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(COUNT(*) * 16.0 / k16 AS DOUBLE) AS n_estimated,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM rated
    WHERE md5(CAST(doc_id AS VARCHAR)) < CASE k16
      {" ".join(f"WHEN {k} THEN '{_hex_threshold(k)}'" for k in sorted(set(_STRATA_16THS.values()) | {_DEFAULT_16THS}))}
    END
    GROUP BY lang, k16
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling with per-language rates.

    The keep decision is a scan-time narrow predicate on
    ``md5(doc_id)`` — no shuffle, no RNG state, no coordination — so
    at 100 TB the sample costs one pass and the SAME rows are kept on
    every engine and every re-run (samples stay joinable across
    derived tables).  Rates are per-stratum, so the dominant language
    is downsampled while the tails are preserved; the unbiased
    stratum-size estimate ``n/rate`` comes out alongside the exact
    sampled aggregates.
    """
    d = load(spark, sf_dir, "documents")
    k16 = F.coalesce(
        F.element_at(
            F.create_map(
                *[
                    F.lit(x)
                    for lang, k in sorted(_STRATA_16THS.items())
                    for x in (lang, k)
                ]
            ),
            F.col("lang"),
        ),
        F.lit(_DEFAULT_16THS),
    )
    thresholds = F.create_map(
        *[
            F.lit(x)
            for k in sorted(set(_STRATA_16THS.values()) | {_DEFAULT_16THS})
            for x in (k, _hex_threshold(k))
        ]
    )
    rated = d.withColumn("k16", k16)
    kept = rated.filter(
        F.md5(F.col("doc_id").cast("string")) < F.element_at(thresholds, F.col("k16"))
    )
    return kept.groupBy("lang", "k16").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        (F.count(F.lit(1)) * 16.0 / F.col("k16").cast("double")).alias("n_estimated"),
        F.sum("n_chars").cast("bigint").alias("sampled_chars"),
    ).drop("k16")


# ---------------------------------------------------------------------------
# Embedding quantization (int8, symmetric per-vector scale)
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings
    )
    SELECT vec_id,
           CAST(len(v) AS INTEGER) AS n_dims,
           round(amax / 127, 9) AS scale_r,
           CAST(list_sum(list_transform(v, x -> floor(x / (amax / 127)))) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(v, x -> abs(floor(x / (amax / 127))))) AS BIGINT) AS q_l1
    FROM e
    WHERE amax > 0
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column.

    Per vector: scale = max|x|/127, code = floor(x/scale) — the
    compression step every 100 TB vector store runs before indexing
    (4× smaller, SIMD-friendly).  The whole computation is a narrow
    projection over higher-order array functions (zero shuffle, scales
    with scan bandwidth alone); the output certifies the codes with
    two integer checksums per vector (sum and L1), which are exact
    under any execution order — float only crosses the oracle boundary
    through the one rounded scale column.  Zero vectors are excluded
    on both sides (scale undefined).
    """
    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    t = e.select(
        "vec_id",
        v.alias("v"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("amax"),
    ).filter(F.col("amax") > 0)
    scale = F.col("amax") / 127
    q = F.transform("v", lambda x: F.floor(x / scale))
    return t.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.round(scale, 9).alias("scale_r"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
    )


# ---------------------------------------------------------------------------
# Product quantization (subspace codebooks — the ANN memory-compression step)
# ---------------------------------------------------------------------------

_PQ_M = 8          # subspaces: dim-64 fixture → 8 dims per subspace
_PQ_TOP_K = 10
_PQ_SHORTLIST = 50  # ADC candidates per query fed to the exact rerank


def _pq_d2_sql(a: str, b: str) -> str:
    """SQL twin of :func:`_pq_d2`: rounded-6 squared L2 between two
    DOUBLE[] expressions of equal length."""
    return (
        f"round(list_sum(list_transform(range(1, len({a}) + 1),\n"
        f"                    i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )


def _pq_assign_ctes(src: str, r: int, p: str = "") -> list[str]:
    """One PQ assignment pass as DuckDB CTEs ``{p}scored{r}`` and
    ``{p}codes{r}(vec_id, sub, code, err2)``: the rounded-6 squared L2
    from each slice of ``src(vec_id, sub, sv)`` to each codeword of
    ``{p}cs{r}(cid, sub, csl)`` in its subspace, argmin tie-broken by
    codeword id.  The SQL twin of :func:`_pq_assign`."""
    return [
        f"""{p}scored{r} AS (
      SELECT {src}.vec_id, {src}.sub, c.cid,
             {_pq_d2_sql(f"{src}.sv", "c.csl")} AS d2
      FROM {src} JOIN {p}cs{r} c USING (sub)
    )""",
        f"""{p}codes{r} AS (
      SELECT vec_id, sub, cid AS code, d2 AS err2
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d2, cid) AS rn
        FROM {p}scored{r}
      ) WHERE rn = 1
    )""",
    ]


def _pq_lloyd_ctes(src: str, p: str = "") -> list[str]:
    """The PQ trainer chain over the slices ``src(vec_id, sub, sv)`` from
    the seed codebook ``{p}cs0``: ``kmeans.lloyd_ctes`` with
    :func:`_pq_assign_ctes`, ending in ``{p}cs`` and ``{p}codes``."""
    return kmeans.lloyd_ctes(
        lambda r: _pq_assign_ctes(src, r, p),
        src, ["sub", "code"], "sv", f"{p}codes", f"{p}cs", "csl",
    )


def _pq_ctes(target_k: int | None = None) -> str:
    """Shared PQ construction as a DuckDB CTE chain ending in
      ev(vec_id, sub, sv)            — per-subspace vector slices
      cs(cid, sub, csl)              — the FINAL per-subspace codebooks
      codes(vec_id, sub, code, err2) — the encoded corpus
    mirrored 1:1 by the Spark-side :func:`_pq_encode`.  Both
    embedding_pq (the encoder) and sim_search_pq (the ADC search over
    the codes) build on the SAME chain, so the two keys can never
    disagree on the codebook.

    ``target_k`` is the CONSTANT-CODEBOOK LINEARIZATION KNOB (the PQ
    twin of ``_ivf_cells(target_cell=)``): by default the seed stride
    is corpus-derived so the codebook has ≈√N entries — fixture-
    portable, but encode work N·M·√N = N^1.5.  Passing ``target_k=K``
    derives the stride as floor(N/K) instead, pinning the codebook
    size to ≈K CONSTANT as the corpus grows — real PQ's K=256 regime,
    where encoding is strictly LINEAR in N.  Training is the ``kmeans``
    chain over the slices."""
    ctes = [
        """e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    ctes += kmeans.seed_ctes("seeds", "e", "v", k=target_k)
    ctes += [
        kmeans.slice_cte("ev", "e", ["vec_id"], "v", "sv", _PQ_M),
        kmeans.slice_cte("cs0", "seeds", ["cid"], "cv", "csl", _PQ_M),
    ]
    return ",\n    ".join(ctes + _pq_lloyd_ctes("ev"))


_PQ_CTES = _pq_ctes()


@register(
    "embedding_pq",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
           err2
    FROM codes
    """,
)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011, public IEEE TPAMI): split
    each vector into ``_PQ_M`` subspaces, quantize every subspace slice
    to its nearest codeword from a per-subspace codebook, and emit
    (vec_id, sub, code, err2) — the vector-compression step a 100 TB
    ANN deployment runs so the index holds M small codes per vector
    (here 8 bytes-ish) instead of dim floats (256 B), beside
    embedding_quantize's int8 scalar path and embedding_project_rp's
    dimensionality path.

    Codebooks are the repo's portable hash-order data subset (the
    sim_search_ivf seed rule: md5(vec_id) % corpus-derived stride — a
    deterministic, id-distribution-free draw) sliced per subspace, so
    both engines derive the SAME codebook and the oracle replays
    slicing, scoring and the argmin end to end.  Distances are squared
    L2 over the dsub-element slices, rounded to 6 before the argmin
    (the cosine-family float discipline; ties broken by codeword id —
    against the seed codebook every seed vector therefore encodes to
    itself with err2 = 0).

    Shape: the slice explosion is in-row (size-preserving sequence —
    the safe Generate case); the sliced frame is EAGERLY checkpointed
    before the multiplied join (the CLAUDE.md HOF-collapse defense:
    otherwise the transform-cast and slices re-evaluate once per
    (vector, codeword) pair); scoring is an equi-join on the subspace
    id against the BROADCAST codebook (M·nlist rows — the centroid
    class), and the argmin is one (d2, cid) struct-min hash-agg per
    (vec_id, sub) — map-side partials, shuffle carries N·M narrow
    rows, no window over data.  Encode work is N·M·nlist; nlist ≈ √N
    here is the fixture-portable seed rule, and ``_pq_encode``'s
    ``target_k=K`` knob pins the codebook size CONSTANT instead (real
    PQ's K = 256 regime, which makes encoding strictly LINEAR in N —
    the PQ twin of ``_ivf_cells(target_cell=...)``, property-tested).
    ``kmeans.LLOYD_STEPS`` per-subspace Lloyd rounds refine the seed
    codebooks (the production lever on shortlist quality)."""
    codes, _, _ = _pq_encode(spark, sf_dir)
    return codes.select(
        "vec_id",
        F.col("sub").cast("bigint").alias("sub"),
        F.col("code").cast("bigint").alias("code"),
        "err2",
    )


def _pq_d2(a: str, b: str):
    """Rounded squared-L2 between two vector columns — the ONE scoring
    expression of the PQ family: encode, ADC lookup tables, rerank and
    the exact-L2 ground truth (sequential left fold, identical to
    DuckDB's list_sum over list_transform)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _pq_slices(
    spark: SparkSession, sf_dir: str, target_k: int | None = None
):
    """Spark twin of ``_pq_ctes`` up to (ev, cs0): the per-subspace
    vector slices (vec_id, sub, sv) — EAGERLY checkpointed per the
    HOF-collapse defense (CLAUDE.md) — and the hash-order SEED codebook
    slices (cid, sub, csl), lazy: the first Lloyd assign's broadcast is
    their one consumer.  ``target_k`` derives the seed stride as
    floor(N/K) instead of the √N rule, pinning the codebook size to ≈K
    constant as the corpus grows (see :func:`_pq_ctes`)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # explicit-COUNT round-robin repartition before the checkpoint: the
    # slice frame inherits the parquet scan's partitioning (1-2 tasks at
    # fixture scale), and every downstream scoring join is tiny in BYTES
    # but heavy in per-row CPU (N·M·nlist interpreted-HOF d2 folds) — the
    # CLAUDE.md serialize-killer class.  REPARTITION_BY_NUM is exempt
    # from AQE coalescing, so the assigns actually fan out (x10 stress:
    # the whole encode ran on 2 tasks before this).
    par = spark.sparkContext.defaultParallelism
    ev = kmeans.slices(e, ["vec_id"], "v", "sv", _PQ_M)
    ev = ev.repartition(par).localCheckpoint()
    seeds = kmeans.seeds(e, "v", k=target_k)
    return ev, kmeans.slices(seeds, ["cid"], "cv", "csl", _PQ_M)


def _pq_assign(ev: DataFrame, cs: DataFrame):
    """One PQ assignment pass (the Spark twin of scored{r}/codes{r}):
    equi-join the slices against the BROADCAST codebook on the subspace
    id, struct-min (d2, cid) argmin per (vec_id, sub) — map-side
    partials, so the nlist-multiplied rows never hit the shuffle.
    The N·M·K scored stream carries SCALARS ONLY: an earlier form
    dragged the slice array through the agg via first(sv), which puts
    an array in the aggregation buffer — ObjectHashAggregate's
    sort-based fallback then SORTS the whole pair stream with the
    array attached (the same cliff that OOMed the IVF flat knob
    assign at ×100, round 10).  A consumer that needs the slice joins
    it back from the checkpointed ``ev`` on (vec_id, sub)."""
    scored = ev.join(F.broadcast(cs), "sub").select(
        "vec_id", "sub", "cid", _pq_d2("sv", "csl").alias("d2")
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"))
        .select(
            "vec_id",
            "sub",
            F.col("m.cid").alias("code"),
            F.col("m.d2").alias("err2"),
        )
    )


def _pq_lloyd(ev: DataFrame, cs: DataFrame):
    """The PQ trainer: ``kmeans.lloyd`` over the slices ``ev(vec_id,
    sub, sv)`` from the seed codebook ``cs(cid, sub, csl)`` with
    :func:`_pq_assign`.  Returns ``(codes, codebook)``."""
    return kmeans.lloyd(ev, cs, _pq_assign, ["sub", "code"], "sv", "csl")


def _pq_encode(spark: SparkSession, sf_dir: str, target_k: int | None = None):
    """The ONE PQ construction both registered keys consume: returns
    (codes, ev, cs) — the encoded corpus, the checkpointed slice frame,
    and the FINAL per-subspace codebooks — off a SINGLE slice
    materialization (round-8 verdict: sim_search_pq used to re-run
    _pq_slices beside embedding_pq's, a redundant linear job).

    Checkpoint discipline (all measured cliffs, CLAUDE.md): ``ev`` is
    checkpointed in _pq_slices (HOF-collapse defense); the trainer
    checkpoints each round's assignment and codebook (``kmeans.lloyd``)
    — the final codebook has two consumers (encode assign +
    sim_search_pq's ADC lookup table).  Per round the shuffle carries
    N·M (slice + code) rows — the same working set as the encode
    itself; codebook state is M·nlist rows, never a second corpus
    copy."""
    ev, cs = _pq_slices(spark, sf_dir, target_k)
    codes, cs = _pq_lloyd(ev, cs)
    return codes, ev, cs


def _pq_rerank_sql(audit: str = "") -> str:
    """The shortlist + exact-rerank tail of every PQ search oracle:
    CTEs ``short`` and ``rerank`` over ``adc(query_id, vec_id,
    adc_dist)`` and the raw vectors ``e(vec_id, v)``, then the final
    top-k SELECT.  ``audit`` is extra select text appended to that
    SELECT's columns.  The SQL twin of :func:`_pq_rerank`."""
    audit = f", {audit}" if audit else ""
    return f"""short AS (
      SELECT query_id, vec_id, adc_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS srn
        FROM adc
      ) WHERE srn <= {_PQ_SHORTLIST}
    ),
    rerank AS (
      SELECT s.query_id, s.vec_id, s.adc_dist,
             {_pq_d2_sql("ec.v", "eq.v")} AS dist
      FROM short s
      JOIN e ec ON ec.vec_id = s.vec_id
      JOIN e eq ON eq.vec_id = s.query_id
    )
    SELECT query_id, vec_id, adc_dist, dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY dist, vec_id) AS BIGINT)
             AS rank{audit}
    FROM rerank
    QUALIFY rank <= {_PQ_TOP_K}
    """


def _pq_search_oracle(ctes: str, audit: str = "") -> str:
    """The flat-PQ search oracle over a given PQ CTE chain: the ADC
    lookup table, the ADC sum, then :func:`_pq_rerank_sql`.  The SQL
    twin of :func:`_pq_adc_serve`; sim_search_pq, sim_search_pq_const
    and pq_index_persist (with its ``audit`` columns) all use it."""
    return f"""
    WITH {ctes},
    q AS (
      SELECT vec_id AS query_id, sub, sv FROM ev
      WHERE vec_id < {_ANN_N_QUERIES}
    ),
    dt AS (
      SELECT q.query_id, cs.sub, cs.cid,
             {_pq_d2_sql("q.sv", "cs.csl")} AS d2
      FROM q JOIN cs USING (sub)
    ),
    adc AS (
      SELECT d.query_id, c.vec_id,
             round(CAST(SUM(CAST(d.d2 AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS adc_dist
      FROM codes c JOIN dt d ON d.sub = c.sub AND d.cid = c.code
      WHERE c.vec_id <> d.query_id
      GROUP BY d.query_id, c.vec_id
    ),
    {_pq_rerank_sql(audit)}"""


@register(
    "sim_search_pq",
    oracle=_pq_search_oracle(_PQ_CTES),
)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search: asymmetric-distance (ADC) SHORTLIST over
    the compressed codes, then EXACT rerank of the shortlist — the
    serve half of embedding_pq, and the standard PQ deployment shape
    (the index holds M codes per vector, ~8 B instead of 256 B; raw
    vectors are fetched only for the ~50 shortlisted candidates per
    query).  Measured recall@10 vs exact L2 with ONE per-subspace Lloyd
    round (``kmeans.LLOYD_STEPS``, round 9): 0.56 at sf0.001, 0.68 at
    sf0.01 — the untrained seed codebooks sat at 0.62/0.52, so the
    round bought +0.16 at the driver's correctness scale; ADC alone
    sits at 0.16–0.20, which is exactly why real deployments ALWAYS
    rerank.  More Lloyd rounds remain the production lever on the
    shortlist side.

    Shape: per query one M×nlist ADC lookup TABLE from the query's
    exact slices to every codeword (|queries|·M·nlist rows — the
    centroid class → BROADCAST); corpus scoring is an equi-join of the
    registered embedding_pq codes (the ONE :func:`_pq_encode` call
    supplies codes, slices and codebook off a single materialization —
    mirrored by ``_pq_ctes``, so search and encode can never disagree on the
    codebook) against that broadcast with map-side partial
    aggregation — the shuffle carries |queries|·N narrow rows and the
    raw corpus vectors are NEVER touched in this stage; the shortlist
    and final top-k are WindowGroupLimit windows on unique orders; the
    rerank joins raw vectors for |queries|·shortlist rows only.
    Float discipline: each lookup is the shared round-6 squared-L2;
    the M-term ADC sum goes through EXACT DECIMAL(18,6) (hash-agg
    merge order is nondeterministic, decimal addition is associative)
    with one final double round; the rerank distance is the round-6
    exact L2.  The oracle replays codebook, encoding, lookup table,
    ADC sum, shortlist and rerank end to end."""
    return _pq_search(spark, sf_dir)


def _pq_search(
    spark: SparkSession, sf_dir: str, target_k: int | None = None
) -> DataFrame:
    """The ONE encode + serve pipeline both registered search keys run —
    ``sim_search_pq`` (corpus-derived √N codebook) and
    ``sim_search_pq_const`` (constant-K codebook, the linear regime)
    differ ONLY in the ``target_k`` they hand :func:`_pq_encode`, so
    the serve path cannot fork between regimes."""
    codes, ev, cs = _pq_encode(spark, sf_dir, target_k=target_k)
    return _pq_adc_serve(spark, sf_dir, codes, ev, cs)


def _pq_adc_serve(
    spark: SparkSession,
    sf_dir: str,
    codes: DataFrame,
    ev: DataFrame,
    cs: DataFrame,
) -> DataFrame:
    """Flat-PQ serving over an encoded corpus ``codes(vec_id, sub,
    code)``, the slices ``ev`` and the codebook ``cs``: per query one
    M×nlist ADC lookup table from its exact slices (BROADCAST), an
    equi-join of the codes against it with exact DECIMAL(18,6) ADC
    sums, then :func:`_pq_rerank`.  Run on live frames by
    :func:`_pq_search` and on the reloaded store by pq_index_persist."""
    q = ev.filter(F.col("vec_id") < _ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "sub", "sv"
    )
    dt = q.join(cs, "sub").select(
        "query_id", "sub", "cid", _pq_d2("sv", "csl").alias("d2")
    )
    adc = (
        codes.join(
            F.broadcast(dt),
            (codes.sub == dt.sub) & (codes.code == dt.cid),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("d2").cast("decimal(18,6)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    raw = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return _pq_rerank(adc, raw)


def _pq_rerank(adc: DataFrame, raw: DataFrame) -> DataFrame:
    """Shortlist + exact rerank, the last stage of every PQ search:
    the ``_PQ_SHORTLIST`` best ADC candidates per query from
    ``adc(query_id, vec_id, adc_dist)``, re-scored by exact rounded-6
    squared L2 over the raw vectors ``raw(vec_id, v)``, cut to the
    top ``_PQ_TOP_K``.  Shortlist and top-k are WindowGroupLimit
    windows on unique orders; raw vectors are joined for
    |queries|·shortlist rows only."""
    ws = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    short = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _PQ_SHORTLIST)
        .select("query_id", "vec_id", "adc_dist")
    )
    qv = raw.filter(F.col("vec_id") < _ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    rer = (
        raw.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            "adc_dist",
            _pq_d2("v", "qvec").alias("dist"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= _PQ_TOP_K)
    )


# ---------------------------------------------------------------------------
# sim_search_pq_const — the constant-codebook (linear-regime) PQ
# configuration, registered and oracle-checked (round 12)
# ---------------------------------------------------------------------------

_PQ_CONST_K = 32  # constant per-subspace codebook size (production: 256)


@register(
    "sim_search_pq_const",
    oracle=_pq_search_oracle(_pq_ctes(target_k=_PQ_CONST_K)),
)
def sim_search_pq_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search in the CONSTANT-CODEBOOK configuration — the regime
    real PQ deployments run (Jégou et al. 2011: K fixed, classically
    256/subspace) and the only linear-encode regime at scale, now a
    registered, oracle-checked key (the PQ twin of sim_search_ivf_hier,
    closing the round-11 verdict's pq-watch item: the `target_k` dial
    existed and was property-tested, but the configuration you'd
    deploy at 100× was never value-certified by the oracle sweep).

    Difference from ``sim_search_pq``'s registered default, measured
    in the round-10 ×100 A/B (PERF.md): the default derives the seed
    stride from the corpus so nlist ≈ √N — oracle-portable, but encode
    work N·M·√N = N^1.5 (the 172.6 s pq_index_persist ×100 row's root
    cause); this key pins stride = floor(N/K) so the per-subspace
    codebook holds ≈ K = ``_PQ_CONST_K`` codewords FOREVER and encode
    is N·M·K — strictly linear (measured 49 s vs 100 s for the encode
    at ×100 with K=256).  K=32 here keeps the fixture honestly in the
    coarse-codebook regime (32 ≪ 500 vectors); a deployment turns the
    same dial to 256.  Search shape is byte-identical to the flat key
    (:func:`_pq_search` — the two keys differ ONLY in the `target_k`
    handed to the one shared encoder), and the oracle replays the
    constant-stride seeding, per-subspace Lloyd round, encoding, ADC
    table, shortlist, and rerank end to end via the same parameterized
    CTE generator.  Measured recall@10 vs exact L2 at sf0.01 across
    the K grid: 0.54 / 0.62 / 0.78 at K = 16 / 32 / 64 (the flat √N
    default: 0.68) — the exact rerank over the ``_PQ_SHORTLIST``-deep
    ADC shortlist is what holds quality while the codebook stays
    coarse; pytest pins ≥ 0.55 at the registered K=32."""
    return _pq_search(spark, sf_dir, target_k=_PQ_CONST_K)


# ---------------------------------------------------------------------------
# pq_index_persist — the PQ index's persisted-state contract, executed
# ---------------------------------------------------------------------------


@register(
    "pq_index_persist",
    # the oracle replays codebook training, encoding, the ADC lookup
    # table, shortlist and rerank from the raw vectors — plus audit
    # counts over the store — so a lossy round trip of either frame
    # (codes or codebook) changes rankings or the audit columns
    oracle=_pq_search_oracle(
        _PQ_CTES,
        audit="CAST((SELECT COUNT(*) FROM codes) AS BIGINT) AS index_codes, "
        "CAST((SELECT COUNT(*) FROM cs) AS BIGINT) AS index_codewords",
    ),
)
def pq_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index's PERSISTED-STATE contract, executed — the
    compressed-index sibling of sim_index_persist (llm_extras.py) and
    the second half of round-10 verdict gap #1 ("optionally the PQ
    codebook"): train the codebook, ENCODE the corpus, write BOTH
    frames (the M·nlist codebook and the N·M code table — the ~8 B/vec
    index PQ exists to ship) to parquet, RELOAD them with fresh scans,
    and serve the probe queries from the reloaded store only.

    What comes from where, mirroring a real PQ serving tier: the
    CODES and the CODEBOOK come from disk (the persisted index);
    query slices and the rerank's raw vectors arrive fresh (serving
    fetches raw vectors only for the ~shortlist candidates — the one
    place the full-precision corpus is touched).  Round-trip
    exactness: codes are integers, codebook elements are round(·, 9)
    doubles — parquet stores both exactly, so the reloaded ADC scores
    are bit-identical to the live sim_search_pq path (pytest-pinned).
    Audit columns count the RELOADED frames (index_codes = N·M,
    index_codewords = Σ per-subspace codebook sizes): a dropped code
    row or codeword breaks the hash even if the probe set dodges it.

    100 TB shape: the persisted index is N·M one-byte-class codes
    (~8 B/vector vs 256 B raw — the entire point of PQ at scale) plus
    a metadata-sized codebook; serving is :func:`_pq_adc_serve` — the
    same function sim_search_pq serves its live frames with — over the
    reloaded store: one broadcast M×nlist lookup table per query + an
    equi-join over the code table with map-side partial ADC sums.  The
    index build amortizes across every query after the first, and the
    raw corpus is read only for shortlist rerank rows."""
    from task_mapreduce_spark.operators.relational import _work_dir

    codes, ev, cs = _pq_encode(spark, sf_dir)

    # ---- index build: persist the code table + codebook ----
    base = _work_dir("pq_index")
    codes_slim = codes.select("vec_id", "sub", "code")
    codes_slim.write.mode("overwrite").parquet(f"{base}/codes")
    cs.write.mode("overwrite").parquet(f"{base}/codebook")

    # ---- reload: ADC below touches ONLY the reloaded store (queries
    # and rerank vectors arrive fresh, as in serving).  Reads pin the
    # store schema explicitly (sim_index_persist's convention): a
    # footerless empty store breaks inference, and a serving tier
    # always knows its index schema. ----
    codes_store = spark.read.schema(codes_slim.schema).parquet(
        f"{base}/codes"
    )
    cs_store = spark.read.schema(cs.schema).parquet(f"{base}/codebook")

    stats = codes_store.agg(
        F.count(F.lit(1)).cast("bigint").alias("index_codes")
    ).crossJoin(
        F.broadcast(
            cs_store.agg(
                F.count(F.lit(1)).cast("bigint").alias("index_codewords")
            )
        )
    )
    return _pq_adc_serve(spark, sf_dir, codes_store, ev, cs_store).crossJoin(
        F.broadcast(stats)
    )


# ---------------------------------------------------------------------------
# Event funnel (ordered-stage conversion)
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (WHERE t_click > t_view) AS BIGINT) AS n_view_then_click,
           CAST(COUNT(*) FILTER (WHERE t_buy > t_click AND t_click > t_view) AS BIGINT)
             AS n_full_funnel,
           round(CAST(COUNT(*) FILTER (WHERE t_buy > t_click AND t_click > t_view) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE t_view IS NOT NULL), 9) AS conversion
    FROM u
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over the event stream.

    One hash-agg by user computes each user's first timestamp per
    stage (map-side partials, a single shuffle on user_id — the same
    key every per-user analysis shards by), then one tiny global agg
    counts users whose stage timestamps are strictly ordered.
    Timestamp comparisons are exact; the only float is the final
    conversion ratio, rounded identically on both sides.  NULL
    semantics do the stage gating: a missing earlier stage makes the
    ``>`` comparison NULL → the user drops out of that count, which is
    exactly the funnel rule.
    """
    e = load(spark, sf_dir, "events")
    first_ts = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    u = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    full = (F.col("t_buy") > F.col("t_click")) & (F.col("t_click") > F.col("t_view"))
    n_view = F.count(F.when(F.col("t_view").isNotNull(), 1)).cast("bigint")
    n_full = F.count(F.when(full, 1)).cast("bigint")
    return u.agg(
        n_view.alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
        .cast("bigint")
        .alias("n_view_then_click"),
        n_full.alias("n_full_funnel"),
        F.round(n_full.cast("double") / n_view, 9).alias("conversion"),
    )


# ---------------------------------------------------------------------------
# CDC compaction (latest-per-key upsert)
# ---------------------------------------------------------------------------


@register(
    "cdc_upsert",
    oracle="""
    SELECT user_id, event_type, ts AS last_ts, value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-key compaction: events as a CDC log, merged SCD-1
    style (last write wins per (user_id, event_type)).

    This is the read side of MERGE INTO: one window per change key,
    ordered by (ts, event_id) — the unique tiebreak makes "latest"
    deterministic even with equal timestamps.  At 100 TB the window
    partitions by the change key (high cardinality, the same shard key
    a keyed upsert sink uses), and Spark's WindowGroupLimit drops
    everything past row 1 before the sort buffer grows; a production
    pipeline would run exactly this plan per micro-batch over the new
    files and overwrite the affected key partitions.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# Hypertable rollup (multi-granularity time aggregation)
# ---------------------------------------------------------------------------


@register(
    "rollup_hypertable",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           date_trunc('hour', ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {_SQL_DSUM_VALUE} AS sum_value,
           CAST(GROUPING(event_type) * 4
                + GROUPING(CAST(date_trunc('day', ts) AS DATE)) * 2
                + GROUPING(date_trunc('hour', ts)) AS BIGINT) AS gid
    FROM events
    GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS DATE),
                     date_trunc('hour', ts))
    """,
)
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate-style rollup of the event hypertable: per
    (type, day, hour) plus every coarser level — (type, day), (type),
    and the grand total — in ONE pass.

    The timescale idiom re-expressed as Spark's ``rollup``: map-side
    partial aggregation happens per grouping set before the single
    shuffle, so the cost is ~4 partials over one scan, not 4 jobs over
    4 scans.  At 100 TB the fine level (type × hour over a month) is
    still small; a production hypertable would additionally
    ``partitionBy(day)`` on disk so the scan prunes to the queried
    window.  Decimal-exact sums keep every level bit-identical under
    any merge order; grouping_id labels the level.
    """
    e = load(spark, sf_dir, "events")
    # DATE on both sides: DuckDB >= 1.0 returns DATE for day granularity.
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    return (
        e.select("event_type", day, hour, "value")
        .rollup("event_type", "day", "hour")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            dsum("value").alias("sum_value"),
            (
                F.grouping("event_type") * 4
                + F.grouping("day") * 2
                + F.grouping("hour")
            )
            .cast("bigint")
            .alias("gid"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram counts (n-gram language statistics)
# ---------------------------------------------------------------------------


@register(
    "text_bigrams",
    oracle="""
    WITH t AS (
      SELECT lang, string_split(text, ' ') AS toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    )
    SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT lang,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    )
    GROUP BY lang, bigram
    HAVING COUNT(*) >= 2
    """,
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram frequencies per language — the n-gram statistics behind
    language-ID models and contamination screens.

    The adjacent-pair expansion happens in-row with higher-order array
    functions (``transform`` over an index sequence — no self-join of
    the exploded token table, which would shuffle the corpus twice),
    then one explode feeds one hash-agg: the word-count shape with a
    2-token window.  Rare bigrams are cut (n ≥ 2) to keep the output
    the interesting head, exactly as the oracle does.
    """
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select("lang", toks.alias("toks")).filter(F.size("toks") >= 2)
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    return (
        t.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= 2)
    )


# ---------------------------------------------------------------------------
# Column profiler (table statistics, the CBO feedstock)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate", "l_quantity"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_s,
           CAST(MAX({c}) AS VARCHAR) AS max_s
    FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


@register("profile_columns", oracle=_profile_oracle())
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics profiler — the ANALYZE TABLE primitive that
    feeds cost-based optimization (NDV for join reordering, null counts
    for predicate selectivity, min/max for range pruning).

    Two narrow passes, not one: mixing N exact count-distincts with
    regular aggregates forces Spark's Expand to (N+1)-plicate every
    input row before the shuffle (measured 11s vs 1.8s for the split at
    sf0.1, and at 100 TB the Expand multiplies shuffle volume N+1-fold).
    So pass 1 aggregates nulls/min/max/count (plain partials), pass 2
    the NDVs (its own Expand over just the distinct keys), and the two
    single-row results cross-join — a broadcast of one row.  Swapping
    the exact NDV for ``approx_count_distinct`` (HLL) collapses it back
    to one pass and is the documented scale knob, same as the agg
    family.  min/max cross the oracle boundary as strings, rendered
    identically by both engines for the profiled types.
    """
    li = load(spark, sf_dir, "lineitem")
    # null counts come from count(c) (non-null count), not
    # sum(CASE WHEN isnull ...): count's buffer update is a branchless
    # increment while the CASE forces per-row conditional evaluation in
    # the (sort-agg, non-codegen) fallback — measured 2.7s vs 0.85s for
    # this aggregate at sf0.1.
    basic = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in _PROFILE_COLS:
        basic += [
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    ndvs = li.agg(
        *[F.countDistinct(c).cast("bigint").alias(f"{c}__ndv") for c in _PROFILE_COLS]
    )
    wide = li.agg(*basic).crossJoin(F.broadcast(ndvs))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# profile_drift_psi — dataset drift monitoring between two corpus
# slices (Population Stability Index per feature)
# ---------------------------------------------------------------------------

_DRIFT_CUTOFF = "2024-01-20 00:00:00"  # reference = before, current = after
_DRIFT_BINS = 10


@register(
    "profile_drift_psi",
    # the oracle replays the whole metric: slice split, reference
    # min/max, equal-width binning with edge clamping, Laplace
    # smoothing, the ln term (rounded — the one transcendental), and
    # the exact-decimal per-feature total
    oracle=f"""
    WITH e AS (
      SELECT event_type, value,
             (ts >= TIMESTAMP '{_DRIFT_CUTOFF}') AS cur
      FROM events
    ),
    st AS (
      SELECT MIN(CASE WHEN NOT cur THEN value END) AS mn,
             MAX(CASE WHEN NOT cur THEN value END) AS mx,
             COUNT(CASE WHEN NOT cur THEN 1 END) AS nref,
             COUNT(CASE WHEN cur THEN 1 END) AS ncur
      FROM e WHERE value IS NOT NULL
    ),
    cat_b AS (SELECT COUNT(DISTINCT event_type) AS bcat FROM e),
    nb AS (SELECT CAST(range AS BIGINT) AS bin FROM range({_DRIFT_BINS})),
    numc AS (
      SELECT CAST(LEAST({_DRIFT_BINS - 1}, GREATEST(0,
               FLOOR((value - mn) / ((mx - mn) / {_DRIFT_BINS}))))
             AS BIGINT) AS bin,
             cur
      FROM e CROSS JOIN st WHERE value IS NOT NULL
    ),
    num_counts AS (
      SELECT 'value' AS feature, CAST(b.bin AS VARCHAR) AS bin,
             CAST(COUNT(CASE WHEN n.cur = false THEN 1 END) AS BIGINT) AS n_ref,
             CAST(COUNT(CASE WHEN n.cur = true THEN 1 END) AS BIGINT) AS n_cur,
             CAST({_DRIFT_BINS} AS DOUBLE) AS b
      FROM nb b LEFT JOIN numc n ON n.bin = b.bin
      GROUP BY b.bin
    ),
    cat_counts AS (
      SELECT 'event_type' AS feature, event_type AS bin,
             CAST(COUNT(CASE WHEN NOT cur THEN 1 END) AS BIGINT) AS n_ref,
             CAST(COUNT(CASE WHEN cur THEN 1 END) AS BIGINT) AS n_cur,
             (SELECT CAST(bcat AS DOUBLE) FROM cat_b) AS b
      FROM e GROUP BY event_type
    ),
    terms AS (
      SELECT feature, bin, n_ref, n_cur,
             ROUND((  (n_cur + 0.5) / (st.ncur + 0.5 * b)
                    - (n_ref + 0.5) / (st.nref + 0.5 * b))
                   * ln(((n_cur + 0.5) / (st.ncur + 0.5 * b))
                        / ((n_ref + 0.5) / (st.nref + 0.5 * b))),
                   6) AS psi_term
      FROM (SELECT * FROM num_counts UNION ALL SELECT * FROM cat_counts)
      CROSS JOIN st
    )
    SELECT feature, bin, n_ref, n_cur, psi_term,
           CAST(SUM(CAST(psi_term AS DECIMAL(18,6)))
                  OVER (PARTITION BY feature) AS DOUBLE) AS psi_total
    FROM terms
    """,
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset drift monitor: the Population Stability Index of each
    feature between a REFERENCE slice and a CURRENT slice of the event
    stream (time split at a fixed cutoff — the shape of every
    training-vs-serving or week-over-week drift check).  PSI =
    Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref) — the standard
    monitoring metric (credit-scoring lineage; <0.1 stable, >0.25
    drifted) a 100 TB pipeline computes per ingest batch to catch
    upstream distribution shifts before they poison training data.

    Two features, two bin designs: numeric `value` gets ten
    EQUAL-WIDTH bins over the reference slice's exact
    min/max (quantile bins would be `approx_percentile` — whose
    partial-merge order is NOT reproducible across jobs/engines, the
    CLAUDE.md sketch trap; exact min/max are portable, and
    current-slice outliers clamp into the edge bins, which is where
    range drift SHOULD show up); categorical `event_type` bins are the
    observed categories.  Laplace smoothing (+0.5 per bin) keeps empty
    bins finite — the standard PSI fix, applied identically in both
    engines.

    Float discipline: counts and bin ids are integer-exact; the
    smoothed proportions are IEEE divisions of exact integers
    (deterministic); `ln` is the ONE transcendental and is rounded to
    6 on both sides; the per-feature total sums the ROUNDED terms as
    DECIMAL(18,6) (order-independent exact addition) and converts to
    double once.

    Plan shape: two word-count-shaped aggregates (one per feature) on
    one scan + three 1-row metadata broadcasts (reference min/max +
    slice totals; the distinct-category count is a SEPARATE aggregate
    crossJoined in — mixing an exact count-distinct into the stats
    agg would force Expand to 2-plicate the scan, the
    profile_columns lesson).  No shuffle carries more than
    |bins| + |categories| rows past the two partial aggs; at 100 TB
    the metric costs one pass over the batch."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.col("ts") >= F.lit(_DRIFT_CUTOFF).cast("timestamp_ntz")).alias(
            "cur"
        ),
    )
    ev = e.filter(F.col("value").isNotNull())
    stats = ev.agg(
        F.min(F.when(~F.col("cur"), F.col("value"))).alias("mn"),
        F.max(F.when(~F.col("cur"), F.col("value"))).alias("mx"),
        F.count(F.when(~F.col("cur"), 1)).alias("nref"),
        F.count(F.when(F.col("cur"), 1)).alias("ncur"),
    )
    # distinct-category count: its OWN aggregate (never beside plain
    # aggs — the Expand trap), crossJoined as a 1-row broadcast
    cat_b = e.agg(
        F.count_distinct("event_type").cast("double").alias("bcat")
    )

    width = (F.col("mx") - F.col("mn")) / F.lit(_DRIFT_BINS)
    numc = ev.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.lit(_DRIFT_BINS - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("value") - F.col("mn")) / width),
            ),
        )
        .cast("bigint")
        .alias("bin"),
        "cur",
    )
    bins = spark.range(_DRIFT_BINS).select(F.col("id").alias("bin"))
    num_counts = (
        F.broadcast(bins)
        .join(numc, "bin", "left_outer")
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("cur") == False, 1))  # noqa: E712
            .cast("bigint")
            .alias("n_ref"),
            F.count(F.when(F.col("cur") == True, 1))  # noqa: E712
            .cast("bigint")
            .alias("n_cur"),
        )
        .select(
            F.lit("value").alias("feature"),
            F.col("bin").cast("string").alias("bin"),
            "n_ref",
            "n_cur",
            F.lit(float(_DRIFT_BINS)).alias("b"),
        )
    )
    cat_counts = (
        e.groupBy("event_type")
        .agg(
            F.count(F.when(~F.col("cur"), 1)).cast("bigint").alias("n_ref"),
            F.count(F.when(F.col("cur"), 1)).cast("bigint").alias("n_cur"),
        )
        .crossJoin(F.broadcast(cat_b))
        .select(
            F.lit("event_type").alias("feature"),
            F.col("event_type").alias("bin"),
            "n_ref",
            "n_cur",
            F.col("bcat").alias("b"),
        )
    )
    p_cur = (F.col("n_cur") + 0.5) / (F.col("ncur") + 0.5 * F.col("b"))
    p_ref = (F.col("n_ref") + 0.5) / (F.col("nref") + 0.5 * F.col("b"))
    terms = (
        num_counts.unionByName(cat_counts)
        .crossJoin(F.broadcast(stats))
        .select(
            "feature",
            "bin",
            "n_ref",
            "n_cur",
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
                "psi_term"
            ),
        )
    )
    return terms.select(
        "feature",
        "bin",
        "n_ref",
        "n_cur",
        "psi_term",
        F.sum(F.col("psi_term").cast("decimal(18,6)"))
        .over(Window.partitionBy("feature"))
        .cast("double")
        .alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# Time-series delta encoding (hypertable compression primitive)
# ---------------------------------------------------------------------------


@register(
    "delta_encode",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP))
             - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS dt_us,
           value - LAG(value) OVER w AS dv
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta encoding of each user's event series — the transform
    behind every time-series compression scheme (store first value +
    small deltas instead of absolute values).

    One window per user_id (high-cardinality shard key), ordered by
    (ts, event_id) so ties break deterministically.  Timestamp deltas
    are exact integer microseconds; value deltas are a single IEEE
    subtraction, bit-identical across engines with no rounding needed.
    The first row of each series keeps NULL deltas — the restart
    marker a decoder seeks to.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.select(
        "user_id",
        "event_id",
        (us - F.lag(us).over(w)).alias("dt_us"),
        (F.col("value") - F.lag("value").over(w)).alias("dv"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (range-selectivity statistics)
# ---------------------------------------------------------------------------

_HIST_QS = [i / 8 for i in range(1, 8)]  # 8 equi-depth buckets


@register(
    "histogram_equidepth",
    oracle=f"""
    WITH b AS (
      SELECT quantile_cont(l_extendedprice, {_HIST_QS}) AS bounds
      FROM lineitem
    )
    SELECT CAST(len(list_filter(b.bounds, x -> x < l.l_extendedprice)) AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           round(MIN(l.l_extendedprice), 6) AS lo,
           round(MAX(l.l_extendedprice), 6) AS hi
    FROM lineitem l CROSS JOIN b
    GROUP BY 1
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of l_extendedprice — the range-selectivity
    statistic beside profile_columns' NDV/min/max (together they are
    what ANALYZE TABLE ... FOR COLUMNS persists for the CBO).

    Two passes by construction: a tiny percentile aggregate (7
    boundaries) broadcast back over the scan, which assigns each row
    its bucket with an in-row array comparison — no per-row join, no
    sort of the full column.  At 100 TB the boundary pass would use
    approx_percentile (t-digest, mergeable) and the bucket pass is
    unchanged; exact interpolated percentiles are bit-identical across
    engines here (probed), so the oracle matches without tolerance.
    """
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = li.agg(
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(q) for q in _HIST_QS])
        ).alias("bounds")
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            F.size(
                F.filter("bounds", lambda x: x < F.col("l_extendedprice"))
            )
            .cast("bigint")
            .alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.min("l_extendedprice"), 6).alias("lo"),
            F.round(F.max("l_extendedprice"), 6).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (merge partials, don't recompute)
# ---------------------------------------------------------------------------

_INCR_CUTOFF = "2024-01-20 00:00:00"


@register(
    "incremental_rollup",
    # the oracle recomputes from scratch; the Spark path must land on
    # the identical result by MERGING yesterday's partials with the
    # delta — decimal state makes the merge exact
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {_SQL_DSUM_VALUE} AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the hourly rollup is kept fresh
    by aggregating ONLY the newly-arrived slice and merging its
    partials into the stored aggregate — never recomputing history.

    Both slices aggregate independently (count + fixed-scale decimal
    sum — mergeable state, exact under any merge order), then a
    key-outer merge adds them.  At 100 TB this is the difference
    between scanning one day and scanning three years; it is the batch
    twin of what Structured Streaming's state store does per
    micro-batch, and the decimal state is what makes
    merged-vs-recomputed bit-identical (a double sum would drift).
    The cutoff is a fixed literal so the result is deterministic.
    """
    e = load(spark, sf_dir, "events")
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp_ntz")

    def rollup_slice(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("value").cast("decimal(24,4)")).alias("sum_dec"),
        )

    base = rollup_slice(e.filter(F.col("ts") < cutoff))
    delta = rollup_slice(e.filter(F.col("ts") >= cutoff))
    merged = (
        base.alias("b")
        .join(delta.alias("d"), ["window_start", "event_type"], "full_outer")
        .select(
            "window_start",
            "event_type",
            (
                F.coalesce(F.col("b.cnt"), F.lit(0))
                + F.coalesce(F.col("d.cnt"), F.lit(0))
            )
            .cast("bigint")
            .alias("cnt"),
            (
                F.coalesce(F.col("b.sum_dec"), F.lit(0).cast("decimal(24,4)"))
                + F.coalesce(F.col("d.sum_dec"), F.lit(0).cast("decimal(24,4)"))
            )
            .cast("decimal(24,4)")  # exact merge state...
            .cast("double")  # ...surfaced as double, the dsum contract
            .alias("sum_value"),
        )
    )
    return merged


# ---------------------------------------------------------------------------
# Robust anomaly detection (median / MAD)
# ---------------------------------------------------------------------------


@register(
    "anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, med.med,
             quantile_cont(abs(e.value - med.med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med.med
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE abs(e.value - mad.med) > 3 * mad.mad)
                AS BIGINT) AS n_outliers,
           round(mad.med, 9) AS median_r,
           round(mad.mad, 9) AS mad_r
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, mad.med, mad.mad
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: |x − median| > 3·MAD.

    Mean/stddev anomaly rules break under the very outliers they hunt;
    median/MAD is the standard robust alternative.  Two tiny aggregates
    (one row per event type) broadcast back over the scan — the fact
    table is read twice but never shuffled by value; exact interpolated
    percentiles are bit-identical across engines (probed for the
    histogram), and the deviation comparison is pure IEEE arithmetic.
    At 100 TB the medians would come from approx_percentile sketches;
    the comparison pass is unchanged.
    """
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
        )
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            "n_outliers",
            F.round("med", 9).alias("median_r"),
            F.round("mad", 9).alias("mad_r"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (the batch twin of streaming session windows)
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@register(
    "sessionize_events",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, us,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM m
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
    FROM s GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: assign each user's events to sessions split
    by > 30 minutes of inactivity, then summarize each session — the
    batch twin of the native streaming ``session_window``
    (streaming/ops.py) and the classic lag-then-cumulative-sum shape.

    100 TB shape: both windows share ONE partitioning (user_id) and ONE
    sort (us, event_id) — a single shuffle+sort feeds the lag and the
    running sum back-to-back; the session summary is then a hash-agg on
    (user_id, session_seq).  Time math is integer microseconds (exact
    on both engines) and the unique event_id breaks ts ties, so session
    boundaries are deterministic under any partitioning."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t = e.select("user_id", "event_id", us.alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    is_new = F.when(
        prev.isNull() | ((F.col("us") - prev) > _SESSION_GAP_US), 1
    ).otherwise(0)
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = t.withColumn("is_new", is_new).withColumn(
        "session_seq", F.sum("is_new").over(ws).cast("bigint")
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("us").cast("bigint").alias("start_us"),
        (F.max("us") - F.min("us")).cast("bigint").alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# Cohort retention (the canonical product-analytics rollup)
# ---------------------------------------------------------------------------


@register(
    "events_retention",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT)
             AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.active_day)
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by their first-seen day, counted
    on each later day they return — the canonical product-analytics
    rollup (and, for a training pipeline, the freshness curve of a
    crawl source).

    100 TB shape: the cohort assignment (min day per user) and the
    distinct active-day set both shuffle ON user_id, so the join back
    is co-partitioned — one effective shuffle of the events table plus
    a tiny (cohort, offset) aggregate.  All values are integer dates
    and counts: bit-exact on both engines, no rounding discipline
    needed."""
    e = load(spark, sf_dir, "events")
    day = F.to_date("ts")
    f = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    a = e.select("user_id", day.alias("active_day")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Slowly-changing dimension (type 2) build from a change feed
# ---------------------------------------------------------------------------


@register(
    "scd2_dimension",
    oracle="""
    WITH x AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_a
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, MIN(ts) AS valid_from, MIN(rn) AS seq,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM x GROUP BY user_id, event_type, rn - rn_a
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY seq)
             AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY seq)
                AS BIGINT) AS version,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY seq) IS NULL
             AS is_current
    FROM runs
    """,
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event stream:
    each user's ``event_type`` is treated as a tracked attribute, and
    consecutive runs of the same value collapse into one versioned row
    with a ``[valid_from, valid_to)`` interval (gaps-and-islands:
    ``rn − rn_by_value`` labels each run with a constant).

    The warehouse classic, expressed as two windows and one aggregate —
    no self-join against "the previous row".  100 TB shape: every
    window and the run aggregate partition by user_id, so the whole
    build is ONE shuffle of the change feed; version numbering and the
    valid_to lead ride the same partitioning.  Window order keys are
    unique ((ts, event_id), then the run's first global row number), so
    ties in ts cannot flip run boundaries between engines — the repo's
    rank-determinism invariant."""
    e = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_attr = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            F.row_number().over(w_all).alias("rn"),
            F.row_number().over(w_attr).alias("rn_a"),
        )
        .withColumn("grp", F.col("rn") - F.col("rn_a"))
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("valid_from"),
            F.min("rn").alias("seq"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    w_ver = Window.partitionBy("user_id").orderBy("seq")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_ver).alias("valid_to"),
        F.row_number().over(w_ver).cast("bigint").alias("version"),
        "n_events",
        F.lead("valid_from").over(w_ver).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov model over event streams)
# ---------------------------------------------------------------------------


@register(
    "events_transitions",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    s AS (
      SELECT event_type AS to_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS from_type
      FROM t
    ),
    c AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM s WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 9)
             AS p_r
    FROM c
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    for every (from_type → to_type) step, its count and conditional
    probability P(to | from) — the standard behavioural-model /
    next-event-prediction feature and a sequence-mining primitive.

    Shape: ONE shuffle+sort on user_id feeds the lag; the pair counts
    then hash-aggregate (map-side partials collapse each partition to
    ≤ |types|² rows), and the row-normalizing window runs on the
    collapsed |types|²-row table — metadata-sized at any corpus scale.
    The unique event_id breaks timestamp ties so the sequence, and
    therefore every count, is deterministic under any partitioning."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t = e.select("user_id", "event_id", "event_type", us.alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = t.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    c = s.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n") / F.sum("n").over(wf).cast("double"), 9
        ).alias("p_r"),
    )


# ---------------------------------------------------------------------------
# Session concurrency via distributed order statistics (no pair join)
# ---------------------------------------------------------------------------

_CONC_BUCKETS = 32  # at 100 TB: raise so each bucket fits an executor core


def _conc_oracle() -> str:
    """DuckDB twin of sessions_concurrency, built on the REGISTERED
    sessionize oracle so the two keys can never disagree on session
    boundaries.  The oracle mirrors the exact sweep construction —
    global running SUM(is_pt) with the same tie ordering — instead of
    correlated COUNT subqueries, so tie semantics are value-checked,
    not just the totals."""
    from task_mapreduce_spark.registry import ORACLES

    sz = ORACLES["sessionize_events"]
    return f"""
    WITH sz AS (SELECT * FROM ({sz})),
    s AS (
      SELECT user_id, session_seq, start_us,
             start_us + duration_us AS end_us
      FROM sz
    ),
    ua AS (
      SELECT start_us AS t, 1 AS is_pt, user_id, session_seq FROM s
      UNION ALL
      SELECT end_us AS t, 0 AS is_pt, user_id, session_seq FROM s
    ),
    ra AS (
      SELECT user_id, session_seq, is_pt,
             SUM(is_pt) OVER (ORDER BY t, is_pt DESC, user_id, session_seq
                              ROWS UNBOUNDED PRECEDING) AS cnt
      FROM ua
    ),
    sle AS (SELECT user_id, session_seq, cnt AS s_le FROM ra WHERE is_pt = 0),
    ub AS (
      SELECT end_us AS t, 1 AS is_pt, user_id, session_seq FROM s
      UNION ALL
      SELECT start_us AS t, 0 AS is_pt, user_id, session_seq FROM s
    ),
    rb AS (
      SELECT user_id, session_seq, is_pt,
             SUM(is_pt) OVER (ORDER BY t, is_pt ASC, user_id, session_seq
                              ROWS UNBOUNDED PRECEDING) AS cnt
      FROM ub
    ),
    elt AS (SELECT user_id, session_seq, cnt AS e_lt FROM rb WHERE is_pt = 0)
    SELECT s.user_id, s.session_seq,
           CAST(sle.s_le - elt.e_lt - 1 AS BIGINT) AS n_concurrent
    FROM s
    JOIN sle USING (user_id, session_seq)
    JOIN elt USING (user_id, session_seq)
    """


def _rank_queries(
    u: DataFrame, pts_first_on_ties: bool, bounds: list
) -> DataFrame:
    """For a union frame ``u`` of point rows (is_pt=1) and query rows
    (is_pt=0), return per query (user_id, session_seq) the COUNT of
    points ordered before it — the distributed order-statistic kernel.

    sort_global's two-pass layout, generalized: equi-depth bucket ids
    from collected approx_percentile literals (a pure function of t —
    the counting pass and the window pass can never disagree), a ≤33-row
    metadata collect for the per-bucket point counts, then a per-bucket
    running sum + broadcast cumulative offset.  No bucket ever sees
    more than ~|u|/n_buckets rows, and NO pairwise join exists anywhere.
    ``pts_first_on_ties`` selects inclusive (points before queries at
    equal t → count ≤ t) vs strict (queries first → count < t)
    semantics; (user_id, session_seq) completes a unique order key so
    the sweep is deterministic under any partitioning."""
    from task_mapreduce_spark.operators.relational import _pid_from_literal_bounds

    pid = _pid_from_literal_bounds("t", bounds)
    cnts = {
        int(r["pid"]): r["cnt"]
        for r in u.filter(F.col("is_pt") == 1)
        .withColumn("pid", pid)
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()  # ≤ n_buckets+1 metadata rows (sort_global discipline)
    }
    offsets, acc = [], 0
    for p in range(1, len(sorted(set(bounds))) + 2):
        offsets.append((p, acc))
        acc += cnts.get(p, 0)
    off_df = u.sparkSession.createDataFrame(offsets, "pid BIGINT, off BIGINT")
    tie = F.desc("is_pt") if pts_first_on_ties else F.asc("is_pt")
    w = (
        Window.partitionBy("pid")
        .orderBy("t", tie, "user_id", "session_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("pid", pid)
        .join(F.broadcast(off_df), "pid")
        .withColumn("cnt", (F.sum("is_pt").over(w) + F.col("off")).cast("long"))
        .filter(F.col("is_pt") == 0)
        .select("user_id", "session_seq", "cnt")
    )


@register("sessions_concurrency", oracle=_conc_oracle())
def sessions_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session concurrency: for every session, how many OTHER
    sessions' [start, end] intervals overlap it — the load/capacity
    signal behind peak-concurrency dashboards, contention analysis and
    autoscaling triggers.

    The naive formulation is an interval self-join (quadratic in any
    busy time window; a bin-blocked equi-join still pays pair work ∝
    per-bin population²).  This operator instead uses ORDER STATISTICS:
    overlap(a) = #{start_b ≤ end_a} − #{end_b < start_a} − 1, two global
    rank lookups computed by a distributed sweep — union the boundary
    points with the query points, bucket by collected equi-depth
    percentile literals (sort_global's two-pass discipline), running-sum
    within buckets + broadcast cumulative offsets.  Total cost is
    O(n log n) with NO pairwise join at all; pair-count blowup is
    structurally impossible, which is the 100 TB story (the sweep's
    per-bucket sort is the only super-linear term, bounded by
    |sessions|/n_buckets per task).  Tie semantics (inclusive ≤ on
    starts, strict < on ends) are carried by the sweep order and
    value-checked by an oracle that mirrors the SAME sweep, not a
    rewritten COUNT formula.  Sessions come from the registered
    sessionize_events operator; `localCheckpoint` materializes them
    once for the four sweep consumers."""
    sess = sessionize_events(spark, sf_dir)
    s = sess.select(
        "user_id",
        "session_seq",
        "start_us",
        (F.col("start_us") + F.col("duration_us")).alias("end_us"),
    ).localCheckpoint()
    # both sweeps rank over the SAME t multiset (starts ∪ ends — only
    # the point/query roles swap), so ONE percentile job seeds the
    # bucket literals for both (collected once, sort_global discipline)
    qs = [i / _CONC_BUCKETS for i in range(1, _CONC_BUCKETS)]
    bounds = (
        s.select(F.col("start_us").alias("t"))
        .unionByName(s.select(F.col("end_us").alias("t")))
        .agg(F.percentile_approx("t", qs, 10000))
        .first()[0]
        or []
    )

    def side(col: str, is_pt: int) -> DataFrame:
        return s.select(
            F.col(col).alias("t"),
            F.lit(is_pt).alias("is_pt"),
            "user_id",
            "session_seq",
        )

    s_le = _rank_queries(
        side("start_us", 1).unionByName(side("end_us", 0)),
        pts_first_on_ties=True,
        bounds=bounds,
    ).withColumnRenamed("cnt", "s_le")
    e_lt = _rank_queries(
        side("end_us", 1).unionByName(side("start_us", 0)),
        pts_first_on_ties=False,
        bounds=bounds,
    ).withColumnRenamed("cnt", "e_lt")
    return (
        s_le.join(e_lt, ["user_id", "session_seq"])
        .select(
            "user_id",
            "session_seq",
            (F.col("s_le") - F.col("e_lt") - 1).cast("bigint").alias(
                "n_concurrent"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Event-sequence pattern matching (MATCH_RECOGNIZE / CEP idiom)
# ---------------------------------------------------------------------------

# conversion with no intervening error: view ... click ... purchase,
# with 'e' (error) forbidden between the stages.  Single-char codes =
# each type's first letter (distinct across the fixture's domain), so
# the same regex runs identically under Java regex and DuckDB RE2.
_PATTERN = "v[^e]*c[^e]*p"


@register(
    "events_pattern_match",
    oracle=f"""
    WITH t AS (
      SELECT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             event_id,
             substr(event_type, 1, 1) AS code
      FROM events
    )
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(code, '' ORDER BY us, event_id) AS seq,
           regexp_matches(string_agg(code, '' ORDER BY us, event_id),
                          '{_PATTERN}') AS matched
    FROM t
    GROUP BY user_id, day
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-(user, day) event streams —
    the MATCH_RECOGNIZE / CEP idiom: did the user convert
    (view → click → purchase) with no error event between the stages?
    events_funnel answers "how far did users get" with per-stage
    timestamps; this key answers ORDER-SENSITIVE questions a funnel
    cannot (the forbidden-symbol constraint between stages).

    Each group's ordered event-type string is built in ONE hash
    aggregate: collect_list of (us, event_id, code) structs, array_sort
    (lexicographic on the unique (us, event_id) prefix — deterministic
    under any partitioning), in-row transform + array_join, then a
    single regex per group.  No window, no self-join; aggregate state
    is bounded by per-user-day event count — the same bound any
    sessionizer carries, and the natural shard key at 100 TB.  The
    `seq` column is the oracle's value-check certificate (DuckDB
    rebuilds it with ordered string_agg); at cluster scale the
    production output is the `matched` bit and seq drops, exactly like
    the dedup certificates.  Day truncation is cast to DATE on BOTH
    engines (the CLAUDE.md date_trunc drift trap)."""
    e = load(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    t = e.select(
        "user_id",
        F.to_date(ts).alias("day"),
        F.unix_micros(ts).alias("us"),
        "event_id",
        F.substring("event_type", 1, 1).alias("code"),
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("us", "event_id", "code"))),
            lambda x: x["code"],
        ),
        "",
    )
    return (
        t.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            seq.alias("seq"),
        )
        .select(
            "user_id",
            "day",
            "n_events",
            "seq",
            F.col("seq").rlike(_PATTERN).alias("matched"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_project_rp — random-projection dimensionality reduction
# ---------------------------------------------------------------------------

_RP_OUT_DIMS = 16  # 64 → 16: the 4× byte cut before indexing


def _rp_oracle() -> str:
    from task_mapreduce_spark.operators.llm_extras import _hyperplanes

    planes = _hyperplanes()
    lits = [
        "[" + ", ".join(repr(c) for c in p) + "]::DOUBLE[]" for p in planes
    ]
    proj = ", ".join(
        f"round(list_dot_product(v, {lits[k]}), 6)" for k in range(_RP_OUT_DIMS)
    )
    # norm ratio from the ROUNDED projections, summed in written order
    # (a literal + chain, not an aggregate — identical fold both engines)
    sq = " + ".join(f"p[{k + 1}] * p[{k + 1}]" for k in range(_RP_OUT_DIMS))
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pr AS (
      SELECT vec_id, [{proj}] AS p,
             sqrt(list_dot_product(v, v)) AS nrm
      FROM e WHERE len(v) = 64
    )
    SELECT vec_id, p AS proj,
           CASE WHEN nrm > 0 THEN round(sqrt({sq}) / nrm, 6) END AS norm_ratio
    FROM pr
    """


@register("embedding_project_rp", oracle=_rp_oracle())
def embedding_project_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian random projection 64 → 16 dims — the
    Johnson-Lindenstrauss byte cut every embedding pipeline runs
    before indexing (4× smaller vectors, pairwise geometry preserved
    in expectation; the companion int8 cut is embedding_quantize).

    The projection matrix is the SAME fixed-seed rounded hyperplane
    pool sim_search_ann signs against (llm_extras._hyperplanes) —
    deterministic literals inlined identically into both engines, so
    every projected coordinate is value-checked at round-6.
    ``norm_ratio`` = ‖p‖/‖v‖ is computed from the ROUNDED projections
    with a written-order square chain (no aggregate fold), making it
    bit-portable; by JL concentration it clusters near √k ≈ 4 for
    unit-variance planes, and a drifting ratio is the production
    signal that the projection matrix no longer matches the data dim.

    Narrow projection end-to-end: zero shuffle, scales with scan
    bandwidth alone (plan-asserted beside embedding_quantize).  Rows
    whose width differs from the pinned 64-dim matrix are EXCLUDED on
    both sides rather than silently mis-scored — in production the
    matrix is generated for the incoming dim (a k×dim broadcast
    literal at any scale)."""
    from task_mapreduce_spark.operators.llm_extras import _hyperplanes

    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    t = e.select("vec_id", v.alias("v")).filter(F.size("v") == 64)

    def proj_k(k: int):
        # closure factory (repo invariant) over the k-th plane literal
        plane = F.array(*[F.lit(c) for c in _hyperplanes()[k]])
        return F.round(_dot(F.col("v"), plane), 6)

    p = F.array(*[proj_k(k) for k in range(_RP_OUT_DIMS)])
    t = t.select(
        "vec_id",
        p.alias("p"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"),
    )
    sq = None
    for k in range(_RP_OUT_DIMS):
        term = F.element_at("p", k + 1) * F.element_at("p", k + 1)
        sq = term if sq is None else sq + term
    return t.select(
        "vec_id",
        F.col("p").alias("proj"),
        F.when(F.col("nrm") > 0, F.round(F.sqrt(sq) / F.col("nrm"), 6)).alias(
            "norm_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Resample + gap-fill + linear interpolation (the hypertable read side)
# ---------------------------------------------------------------------------

_RESAMPLE_US = 3_600_000_000  # 1-hour buckets (integer µs — exact div)


@register(
    "events_resample_gapfill",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_RESAMPLE_US} AS bkt,
             value
      FROM events
    ),
    agg AS (
      SELECT event_type, bkt, CAST(COUNT(*) AS BIGINT) AS n_events,
             round({sql_dsum("value")} / COUNT(*), 6) AS avg_value
      FROM b GROUP BY event_type, bkt
    ),
    spine AS (
      SELECT event_type, unnest(range(MIN(bkt), MAX(bkt) + 1)) AS bkt
      FROM b GROUP BY event_type
    ),
    g AS (
      SELECT s.event_type, s.bkt, a.n_events, a.avg_value,
             max(CASE WHEN a.n_events IS NOT NULL THEN s.bkt END)
               OVER (PARTITION BY s.event_type ORDER BY s.bkt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_b,
             min(CASE WHEN a.n_events IS NOT NULL THEN s.bkt END)
               OVER (PARTITION BY s.event_type ORDER BY s.bkt
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_b
      FROM spine s
      LEFT JOIN agg a ON a.event_type = s.event_type AND a.bkt = s.bkt
    )
    SELECT g.event_type, g.bkt AS bucket_hr,
           CAST(COALESCE(g.n_events, 0) AS BIGINT) AS n_events,
           g.avg_value,
           CASE WHEN g.avg_value IS NOT NULL THEN g.avg_value
                ELSE round(p.avg_value
                           + (n.avg_value - p.avg_value)
                             * (g.bkt - g.prev_b) / (g.next_b - g.prev_b), 6)
           END AS value_filled,
           g.avg_value IS NULL AS is_gap
    FROM g
    LEFT JOIN agg p ON p.event_type = g.event_type AND p.bkt = g.prev_b
    LEFT JOIN agg n ON n.event_type = g.event_type AND n.bkt = g.next_b
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the event hypertable to a dense hourly grid per
    event_type: per-bucket count + exact-decimal mean, EMPTY buckets
    gap-filled with linear interpolation between their nearest present
    neighbors — the timescale `time_bucket_gapfill` + `interpolate`
    read-side idiom rollup_hypertable's write side pairs with, and the
    resampling every time-series feature pipeline runs before model
    windows.

    Spine endpoints are each type's min/max PRESENT bucket, so every
    gap has both neighbors by construction (no edge cases to diverge
    on).  Neighbor discovery is windowed max/min over `CASE WHEN
    present THEN bkt END` — standard aggregates skip NULLs in both
    engines, so no IGNORE-NULLS syntax (a DuckDB build-variance risk)
    is needed; neighbor VALUES come from two equi-joins back to the
    present-bucket aggregate.  Interpolation arithmetic is identical
    text on both sides over identically-rounded inputs: round-6 means,
    long/long `div`-bucket indices, one `(gap position)/(gap length)`
    double division, round 6 — bit-stable.  PRECONDITION: ts ≥ epoch.
    The bucket index is TRUNC division of epoch-µs (Spark `div` ≡
    DuckDB `//` on BIGINT, both toward zero — parity holds for any
    sign), but for pre-1970 timestamps truncation makes bucket 0 span
    (-1h, +1h) and shifts every negative bucket off the hourly grid;
    the fixture (and any sane event log) is post-epoch, mirroring
    stream_watermark_late's documented bound.

    100 TB shape: the per-bucket aggregate is the rollup_hypertable
    map-side-partial hash-agg (the only corpus-scale stage); the
    spine, windows, and joins all operate on |types| × |hours| rows —
    metadata-sized relative to events at any horizon (a century of
    hours is <1M rows per type), partitioned by event_type so no
    single-task window over data exists."""
    e = load(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_RESAMPLE_US}").alias(
            "bkt"
        ),
        "value",
    )
    agg = b.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(dsum("value") / F.count(F.lit(1)), 6).alias("avg_value"),
    )
    spine = (
        b.groupBy("event_type")
        .agg(F.min("bkt").alias("lo"), F.max("bkt").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bkt"),
        )
    )
    g = spine.join(agg, ["event_type", "bkt"], "left")
    present_b = F.when(F.col("n_events").isNotNull(), F.col("bkt"))
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wnext = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    g = g.withColumn("prev_b", F.max(present_b).over(wprev)).withColumn(
        "next_b", F.min(present_b).over(wnext)
    )
    p = agg.select(
        F.col("event_type").alias("pt"),
        F.col("bkt").alias("pb"),
        F.col("avg_value").alias("pav"),
    )
    n = agg.select(
        F.col("event_type").alias("nt"),
        F.col("bkt").alias("nb"),
        F.col("avg_value").alias("nav"),
    )
    j = g.join(
        p, (F.col("event_type") == F.col("pt")) & (F.col("prev_b") == F.col("pb")), "left"
    ).join(
        n, (F.col("event_type") == F.col("nt")) & (F.col("next_b") == F.col("nb")), "left"
    )
    interp = F.round(
        F.col("pav")
        + (F.col("nav") - F.col("pav"))
        * (F.col("bkt") - F.col("prev_b"))
        / (F.col("next_b") - F.col("prev_b")),
        6,
    )
    return j.select(
        "event_type",
        F.col("bkt").alias("bucket_hr"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        "avg_value",
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .otherwise(interp)
        .alias("value_filled"),
        F.col("avg_value").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Last-touch conversion attribution (the classic marketing rollup)
# ---------------------------------------------------------------------------

_ATTR_TOUCHES = ("click", "view")   # the touch channels, purchases convert


@register(
    "events_attribution",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    carried AS (
      SELECT user_id, event_id, event_type, value, us,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN us END IGNORE NULLS) OVER w
               AS touch_us
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conv AS (
      SELECT COALESCE(touch_type, 'unattributed') AS channel,
             value, us - touch_us AS latency_us
      FROM carried WHERE event_type = 'purchase'
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(value AS DECIMAL(24,4))) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(latency_us) AS DOUBLE)
                 / COUNT(latency_us) / 1000000, 6) AS avg_latency_s
    FROM conv GROUP BY channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the same user's most recent PRIOR touch event (click/view), and
    revenue rolls up per touch channel — the classic marketing
    attribution rollup, and the per-conversion carried-state shape
    (cohort keys, consent flags, experiment arms) every event pipeline
    reuses.  Purchases with no prior touch land in 'unattributed'.

    The carried state is ``last(touch, ignorenulls)`` over ONE
    (user_id)-partitioned (us, event_id) row window ending at 1
    PRECEDING — strictly-before in the total event order, so a touch
    sharing a timestamp with the purchase counts iff its event_id is
    lower (the unique-key tiebreak rule every frame in this repo
    follows).  Both last_value calls null on the SAME rows, so they
    pick one row's fields without a struct in the buffer.

    Determinism: time math is integer microseconds; revenue follows
    the fixed-decimal sum discipline (dsum); avg latency is double
    division of two exact integer aggregates (then µs → s), rounded 6.

    100 TB shape: identical to sessionize_events — ONE shuffle+sort on
    (user_id, us, event_id) feeds both carried columns, then the
    rollup is a tiny hash-agg on ≤|channels|+1 groups with map-side
    partials.  No join: attribution via carried window state touches
    each event once, where the naive purchase⋈touch as-of join would
    shuffle touches a second time."""
    conv = _attributed_conversions(load(spark, sf_dir, "events"))
    return conv.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        dsum("value").alias("revenue"),
        F.round(
            F.sum("latency_us").cast("double")
            / F.count("latency_us")
            / 1_000_000,
            6,
        ).alias("avg_latency_s"),
    )


def _attributed_conversions(e: DataFrame) -> DataFrame:
    """events_attribution's per-conversion core over an arbitrary
    events-shaped frame: (event_id, channel, value, latency_us), one
    row per purchase — factored so the incremental-composition
    property test can run the IDENTICAL rule over time-sliced batches
    with carried state (the 100 TB operating mode: daily ingest, each
    user's last touch carried forward, never a full-history rescan)."""
    t = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*_ATTR_TOUCHES)
    carried = t.select(
        "event_id",
        "event_type",
        "value",
        "us",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("us")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.coalesce("touch_type", F.lit("unattributed")).alias("channel"),
        "value",
        (F.col("us") - F.col("touch_us")).alias("latency_us"),
    )


# ---------------------------------------------------------------------------
# events_attribution_incremental — attribution over time-sliced batches
# with carried last-touch state
# ---------------------------------------------------------------------------


@register(
    "events_attribution_incremental",
    # the oracle is the FROM-SCRATCH carried window verbatim (the
    # per-conversion form of events_attribution's oracle), with the
    # batch tag derived from the same integer-midpoint pivot — the
    # dedup_cluster_incremental proof pattern: the incremental path
    # must reproduce the full-history attribution bit-exactly
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    p AS (SELECT (MIN(us) + MAX(us)) // 2 AS pivot FROM t),
    carried AS (
      SELECT event_id, event_type, value, us,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN us END IGNORE NULLS) OVER w
               AS touch_us
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT c.event_id,
           CAST(CASE WHEN c.us < p.pivot THEN 1 ELSE 2 END AS BIGINT)
             AS batch,
           COALESCE(c.touch_type, 'unattributed') AS channel,
           c.value,
           CAST(c.us - c.touch_us AS BIGINT) AS latency_us
    FROM carried c CROSS JOIN p
    WHERE c.event_type = 'purchase'
    """,
)
def events_attribution_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events_attribution's 100 TB OPERATING MODE as a registered key:
    events arrive in time-sliced batches, each batch attributes its own
    purchases using only (a) the batch itself and (b) a per-user
    CARRIED-STATE table — the last prior touch per user — never the
    full history.  The result (one row per purchase: batch, channel,
    value, latency) must equal the from-scratch single-window run
    row-for-row, which is exactly what the oracle computes.

    Mechanics (the dedup_cluster_incremental pattern applied to window
    state): the pivot is the integer midpoint of [min_us, max_us] — a
    1-row aggregate broadcast back, integer division identical in both
    engines.  Batch 1 runs :func:`_attributed_conversions` as-is.  Its
    carried state is ONE |users|-row aggregate (``max_by`` over the
    unique (us, event_id) order, the repo's tiebreak rule).  Batch 2
    prepends the state rows — shaped as ordinary touch events, with ts
    reconstructed via ``timestamp_micros`` (an exact µs round-trip
    under the pinned UTC session) — and runs the IDENTICAL rule.
    State rows are touches, never purchases, so they emit no
    conversions of their own; a batch-2 purchase whose user touched
    last in batch 1 lands on the carried row, with the same latency the
    full-history window would produce (the carried touch IS that
    user's last pre-pivot touch, and any later batch-2 touch overrides
    it inside the window — composition is exact, not approximate).

    Why this is the 100 TB design: daily ingest attributes |batch|
    events plus a |users|-row state join, instead of re-sorting the
    full history each day — the same reason dedup_incremental probes a
    store instead of rescanning the corpus.  The state table is itself
    mergeable (max_by over (us, event_id) composes associatively), so
    the two-batch proof here extends to any slicing — the
    incremental-composition property test iterates the split point.

    Determinism: time math is integer µs end-to-end; value is a raw
    pass-through (no float arithmetic); every window orders by the
    unique (us, event_id)."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = (
        e.agg(F.min(us).alias("mn"), F.max(us).alias("mx"))
        .select(F.expr("(mn + mx) div 2").alias("pivot"))
    )
    cols = ["user_id", "event_id", "event_type", "value", "ts"]
    ep = e.select(*cols, us.alias("us")).crossJoin(F.broadcast(bounds))
    b1 = ep.filter(F.col("us") < F.col("pivot")).select(*cols)
    b2 = ep.filter(F.col("us") >= F.col("pivot")).select(*cols)

    conv1 = _attributed_conversions(b1)

    # carried state: each user's last batch-1 touch — |users| rows
    st = b1.filter(F.col("event_type").isin(*_ATTR_TOUCHES)).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "event_type",
    )
    state = (
        st.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "event_type", "us"),
                F.struct("us", "event_id"),
            ).alias("t")
        )
        .select(
            "user_id",
            F.col("t.event_id").alias("event_id"),
            F.col("t.event_type").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            # cast to NTZ so the union matches load()'s normalized ts
            # type; exact under the pinned UTC session either way
            F.timestamp_micros(F.col("t.us")).cast("timestamp_ntz").alias("ts"),
        )
    )
    conv2 = _attributed_conversions(b2.unionByName(state.select(*cols)))

    return (
        conv1.select("event_id", F.lit(1).alias("batch"), "channel",
                     "value", "latency_us")
        .unionByName(
            conv2.select("event_id", F.lit(2).alias("batch"), "channel",
                         "value", "latency_us")
        )
        .select(
            "event_id",
            F.col("batch").cast("bigint").alias("batch"),
            "channel",
            "value",
            F.col("latency_us").cast("bigint").alias("latency_us"),
        )
    )
