"""Extended training-data-pipeline operators beyond the §2.10 core:
the remaining dedup family (SimHash, n-gram Jaccard, embedding-cosine),
the ANN scale path for similarity search, text quality / language-ID /
fingerprinting, and the multimodal decode plumbing.

Design rules are the same as llm_pipeline.py: no all-pairs cross joins
(every pairwise op is blocked/bucketed), deterministic seeds, no Python
row path except the explicitly-Arrow multimodal decode.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from task_mapreduce_spark.functions.hashing import hash48, hash48_sql
from task_mapreduce_spark.operators import kmeans, rounds
from task_mapreduce_spark.operators.cosine import (
    _ANN_N_QUERIES,
    _ANN_TOP_K,
    _dot,
    _normed_vectors,
    _probe_topk,
    _probes,
)
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load, row_count


# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 48          # bits 0..47 of the md5-derived token hash
_SIM_BANDS = 4              # hamming ≤ 3 ⇒ ≥ 1 of 4 bands identical (pigeonhole)
_BAND_BITS = _SIMHASH_BITS // _SIM_BANDS
_MAX_HAMMING = 3

# The token hash is the low 48 bits of md5 — portable: Spark computes
# conv(substr(md5, 1, 12), 16, 10), DuckDB ('0x'||substr(md5, 1, 12))::BIGINT,
# verified bit-identical (incl. unicode / empty string).  That makes the
# WHOLE fingerprint oracle-computable, upgrading this key from rows-only
# to full value-check: the oracle recomputes every fingerprint in SQL and
# finds hamming≤3 pairs by (cheap integer) all-pairs at oracle scale,
# while the Spark plan keeps the banded-LSH candidate generation that is
# the 100 TB path.  Banding is lossless for hamming ≤ 3 (pigeonhole), so
# both sides produce the identical pair set.
_SIMHASH_BIT_SUMS = ",\n             ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_FP_SQL = "\n             + ".join(
    f"CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS h FROM tok
    ),
    s AS (
      SELECT doc_id,
             {_SIMHASH_BIT_SUMS}
      FROM h GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             {_SIMHASH_FP_SQL}
             AS fp
      FROM s
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= {_MAX_HAMMING}
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    neigh AS (
      SELECT a AS doc_id, MIN(b) AS min_nb, COUNT(*) AS n_dups
      FROM sym GROUP BY a
    )
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(n.min_nb, d.doc_id)) AS BIGINT)
             AS cluster_id,
           CAST(COALESCE(n.n_dups, 0) AS BIGINT) AS n_dups
    FROM documents d LEFT JOIN neigh n USING (doc_id)
    """


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup clustering — fully value-checked.

    Per doc: hash each distinct token once (low 48 bits of md5, the
    same value on both engines), then for each of 48 bit positions take
    the sign of Σ±1 over tokens — a narrow projection, zero shuffle.
    Candidate pairs come from LSH-style banding on 4×12-bit slices
    (hamming ≤ 3 guarantees a shared band by pigeonhole, so banding is
    LOSSLESS), ONE groupBy — never an all-pairs join; verification is
    ``bit_count(xor) ≤ 3`` on the 48-bit fingerprints.  The oracle
    recomputes the identical fingerprints in SQL and takes the all-pairs
    hamming join (fine at oracle scale; the banded plan is the 100 TB
    path).  Output mirrors dedup_near_minhash: (doc_id, cluster_id,
    n_dups), one row per doc."""
    d = load(spark, sf_dir, "documents")
    # round-robin spread before the 48 per-doc HOF bit-folds below: the
    # single-file documents scan is 1 task (CLAUDE.md serialize-killer,
    # no-AQE variant — same fix as _shingles; fp stage was the key's
    # heaviest single stage)
    par = spark.sparkContext.defaultParallelism
    toks = d.repartition(par).select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split("text", " ")),
            lambda t: hash48(t),  # a lambda: bare, chars binds the index
        ).alias("hs"),
    )
    # bit b contribution: +1 if bit set else -1; simhash bit = sign of sum.
    # b is captured via closure scope — a defaulted extra lambda param
    # would change the lambda's arity and Spark's interpretation of it.
    def bit_sum(b: int):
        return F.aggregate(
            "hs",
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    bit_sums = toks.select(
        "doc_id", *[bit_sum(b).alias(f"s{b}") for b in range(_SIMHASH_BITS)]
    )
    fingerprint = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    # localCheckpoint: the fingerprint projection feeds BOTH sides of the
    # bucket self-join below; checkpointing the narrow (doc_id, fp) frame
    # computes the 48 bit-aggregates once instead of once per branch.
    fp = bit_sums.select("doc_id", fingerprint.alias("fp")).localCheckpoint()

    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("fp"), i * _BAND_BITS)
                .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                .alias("band_key"),
            )
            for i in range(_SIM_BANDS)
        ]
    )
    buckets = fp.select("doc_id", "fp", F.explode(band_structs).alias("bb")).select(
        "doc_id", "fp", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )
    # Candidate pairs via a shuffle self-join on the band key, NOT an
    # in-row combination expansion: a dense duplicate class (this corpus
    # has 150+-doc hamming clusters) would otherwise either pile B²/2
    # structs into one aggregate row or be silently dropped by a bucket
    # cap — which is exactly what a rows-only check never caught.  The
    # join spreads a hot band_key across tasks (AQE skew split at scale);
    # the quadratic output within a true duplicate class is inherent to
    # the exact degree semantics, not a plan artifact.
    left = buckets.select(
        F.col("doc_id").alias("a"), F.col("fp").alias("fp_a"), "band", "band_key"
    )
    right = buckets.select(
        F.col("doc_id").alias("b"), F.col("fp").alias("fp_b"), "band", "band_key"
    )
    verified = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .filter(
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= _MAX_HAMMING
        )
        .select("a", "b")
        .distinct()
    )
    from task_mapreduce_spark.operators.llm_pipeline import edges_to_clusters

    return edges_to_clusters(d, verified)


# ---------------------------------------------------------------------------
# dedup: blocked exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _doc_token_sets(d: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, lang, source, *carry, toks) with set semantics — the
    shared input shape for the exact-similarity dedup family."""
    return d.select(
        "doc_id",
        "lang",
        "source",
        *carry,
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )


def _block_prefix(t: DataFrame, inv_frac: int) -> DataFrame:
    """Prefix-filter candidate rows: each doc's ⌊n / inv_frac⌋ + 1
    RAREST tokens under the per-block total order (doc-frequency asc,
    token asc) — the AllPairs/PPJoin prefix.  For a threshold
    t = 1 − 1/inv_frac, any pair meeting the threshold shares a prefix
    token, so downstream exact verification loses nothing; and because
    the prefix is the rare end of the vocabulary, per-token candidate
    buckets stay small even when one (lang, source) block dominates the
    corpus — the bound the raw block join lacked.

    Two linear shuffles (token-frequency count, per-doc rank): the
    standard index build cost of every published prefix-filter join.
    ``explode_outer`` per the repo invariant (array_distinct is not
    size-preserving); the inner frequency join drops the null rows."""
    tok = t.select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").alias("n"),
        F.explode_outer("toks").alias("token"),
    )
    freq = tok.groupBy("lang", "source", "token").agg(
        F.count(F.lit(1)).alias("tdf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("tdf"), F.asc("token"))
    return (
        tok.join(freq, ["lang", "source", "token"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.expr(f"n div {inv_frac}") + 1)
        .select("doc_id", "lang", "source", "n", "token")
    )


def jaccard_candidates(t: DataFrame) -> DataFrame:
    """Candidate pairs (a < b) for Jaccard ≥ 0.9 within (lang, source)
    blocks: prefix-token equi-join + the exact integer size-ratio bound
    (J ≥ 0.9 ⇒ 10·min(|A|,|B|) ≥ 9·max(|A|,|B|) — integer arithmetic,
    no 0.9·n float edge).  Lossless by the prefix-filter theorem, so
    the exact verify downstream reproduces the naive block join's
    output with bounded per-token buckets instead of per-block
    quadratic expansion."""
    p = _block_prefix(t, 10)
    pa = p.select(
        F.col("doc_id").alias("a"), "lang", "source", "token",
        F.col("n").alias("n_a"),
    )
    pb = p.select(
        F.col("doc_id").alias("b"), "lang", "source", "token",
        F.col("n").alias("n_b"),
    )
    return (
        pa.join(pb, ["lang", "source", "token"])
        .filter(
            (F.col("a") < F.col("b"))
            & (10 * F.least("n_a", "n_b") >= 9 * F.greatest("n_a", "n_b"))
        )
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(t: DataFrame, *carry: str) -> DataFrame:
    """Verified (a, b, jaccard, <c>_a, <c>_b for c in carry) pairs with
    exact token-set Jaccard ≥ 0.9 within (lang, source) blocks —
    prefix-filtered candidates (:func:`jaccard_candidates`), exact
    verify on candidates only.  Shared by dedup_ngram_jaccard (pair
    output), dedup_cluster_cc (the deterministic edge set its
    components are built on) and dedup_fuzzy_edit, which carries each
    side's ``text`` through the verify joins to its edit-distance
    filter.  With no carry the plan is the bare pair verify."""
    # The candidate list is tiny in BYTES (two longs per row) but each
    # verify row pays an array_intersect/union over full token sets —
    # the CPU-heavy/byte-light shape AQE coalesces onto 1-2 tasks
    # (CLAUDE.md invariant).  Explicit-COUNT repartition (AQE-exempt)
    # keyed on the join key keeps the verify spread across all cores.
    par = t.sparkSession.sparkContext.defaultParallelism
    cand = jaccard_candidates(t).repartition(par, "a")

    def side(s: str) -> DataFrame:
        return t.select(
            F.col("doc_id").alias(s),
            F.col("toks").alias(f"toks_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    jac = F.size(F.array_intersect("toks_a", "toks_b")).cast("double") / F.size(
        F.array_union("toks_a", "toks_b")
    )
    return (
        cand.join(side("a"), "a")
        .join(side("b"), "b")
        .select(
            "a", "b", jac.alias("jaccard"), *[f"{c}_{s}" for c in carry for s in "ab"]
        )
        .filter(F.col("jaccard") >= 0.9)
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard dedup within (lang, source) blocks,
    candidates via LOSSLESS prefix filtering (:func:`jaccard_candidates`)
    instead of the raw in-block pair join: a dominant block (one big
    source — the realistic corpus case) no longer degenerates to
    quadratic pair expansion, because pairs only form on shared RARE
    prefix tokens and must pass the integer size-ratio bound first.
    The exact Jaccard verify runs on candidates only; since the prefix
    theorem guarantees every qualifying pair is a candidate, the output
    — and therefore the oracle — is identical to the naive block join.
    Jaccard is a small-int ratio, bit-identical across engines."""
    d = load(spark, sf_dir, "documents")
    return jaccard_pairs(_doc_token_sets(d))


# ---------------------------------------------------------------------------
# dedup: embedding-cosine near-dup
# ---------------------------------------------------------------------------


# serialize-killer defense budget for the cell-blocked cosine joins:
# broadcast the build side only while the packed vector table fits
# (≈ dim·8 B + ids per row, dim measured from the data — a hardcoded
# dim would silently misestimate if the embeddings table ever ships a
# different width); above it the plain keyed equi-join takes over (see
# _cell_join_sides)
_COS_BCAST_BYTES_MAX = 64 << 20


def _cell_join_sides(e: DataFrame):
    """(probe_transform, build_transform) for a cell-blocked scoring
    self-join over the checkpointed normed-vector frame ``e``.

    The scoring join is per-row-CPU-heavy, and the FIXTURE has only ~10
    distinct cell keys: the serialize-killer shape, where a keyed
    shuffle would confine the dot-product work to ≤ |cells| tasks.
    Defense as in the minhash/simhash band joins: while the
    build side fits `_COS_BCAST_BYTES_MAX` it is broadcast and the
    probe side round-robin ``repartition(par)``-ed, so every core gets
    an equal scoring slice.  At cluster scale the cell id is a
    k-means/LSH code with ~√N distinct values, so a keyed shuffle
    spreads on its own and the plain equi-join (no broadcast — the
    vector table is |corpus|-sized) is the right plan: above the budget
    both sides pass through untouched, so an oversized corpus falls
    back to the keyed join by construction rather than by hope.  Row
    count and vector width ride ONE aggregate job over the checkpointed
    frame (same cost as the bare count)."""
    n_rows, dim = e.agg(
        F.count(F.lit(1)), F.max(F.size("v"))
    ).first()
    small = n_rows * ((dim or 0) * 8 + 64) <= _COS_BCAST_BYTES_MAX
    par = e.sparkSession.sparkContext.defaultParallelism
    if small:
        return (lambda a: a.repartition(par)), F.broadcast
    return (lambda a: a), (lambda b: b)


def _cell_pairs(e: DataFrame, cell: str, *carry: str) -> DataFrame:
    """The within-cell self-join of the checkpointed normed-vector frame
    ``e``: ``(a, b, <cell>, <c>_a, <c>_b for c in carry, cosine)``, one
    row per unordered pair of vectors sharing ``cell``, scored by the
    rounded-6 cosine.  The map emits the blocking key and the reduce
    scores pairs within it: the all-pairs cross join never happens.

    Cosine symmetry (score(a,b) = score(b,a)) HALVES the pair work: the
    join scores each unordered pair once (a < b).  Multiplication is
    commutative and the zip_with fold order is index-sequential on both
    engines, so the once-computed rounded cosine is bit-identical to
    scoring each orientation separately; :func:`_pair_topk` emits both
    orientations when a key needs them.  Sides come from
    :func:`_cell_join_sides`.

    The CELL SIZE is the scale contract: within-cell scoring is
    all-pairs, so per-item work ∝ cell population (PERF.md measures the
    adversarial case — ×10 vectors with the cell count pinned → ×100
    pair work).  At 100 TB the cell id is therefore a derived √N-sized
    code — the IVF cells' count-derived centroid stride or
    sim_search_ann's size-derived hyperplane buckets — never a fixed
    taxonomy."""
    probe_t, build_t = _cell_join_sides(e)

    def side(s: str) -> DataFrame:
        return e.select(
            F.col("vec_id").alias(s),
            F.col(cell).alias(f"cell_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            F.col("v").alias(f"v_{s}"),
            F.col("nrm").alias(f"n_{s}"),
        )

    return probe_t(side("a")).join(
        build_t(side("b")),
        (F.col("cell_a") == F.col("cell_b")) & (F.col("a") < F.col("b")),
    ).select(
        "a",
        "b",
        F.col("cell_a").alias(cell),
        *[f"{c}_{s}" for c in carry for s in "ab"],
        F.round(
            _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6
        ).alias("cosine"),
    )


def _pair_topk(pairs: DataFrame, k: int, *carry: str) -> DataFrame:
    """Per vector, its top-``k`` neighbours from :func:`_cell_pairs`'
    one-orientation ``pairs``: ``(vec_id, *carry, nb_id, nb_<c>...,
    cosine, rank)``.

    Both orientations of a scored pair come out of a size-2
    inline-array explode — one pass, no recompute, no pair-list
    checkpoint.  An explode of an inline never-empty literal array is
    the size-preserving safe shape (an explode of a computed array that
    may be empty makes InferFiltersFromGenerate push a size() copy of
    the whole expression below the projection).  The rank orders by (cosine DESC, nb_id), a unique key, so
    ranks are engine-stable; Spark executes the ``rank <= k`` window
    with WindowGroupLimit, which drops rows past k before the sort
    completes: O(k) state per vector at any scale."""

    def orient(q: str, n: str):
        return F.struct(
            F.col(q).alias("vec_id"),
            *[F.col(f"{c}_{q}").alias(c) for c in carry],
            F.col(n).alias("nb_id"),
            *[F.col(f"{c}_{n}").alias(f"nb_{c}") for c in carry],
        )

    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        pairs.select(
            F.explode(F.array(orient("a", "b"), orient("b", "a"))).alias("p"),
            "cosine",
        )
        .select("p.*", "cosine")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


@register(
    "dedup_embedding",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           CAST(a.label AS BIGINT) AS label,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the label column (the
    coarse IVF cell: at 100 TB the blocker is a k-means/LSH cell id
    computed the same way for both sides): :func:`_cell_pairs` on the
    label, kept at cosine ≥ 0.3."""
    e = _normed_vectors(load(spark, sf_dir, "embeddings"), "label").localCheckpoint()
    return (
        _cell_pairs(e, "label")
        .select("a", "b", F.col("label").cast("bigint").alias("label"), "cosine")
        .filter(F.col("cosine") >= 0.3)
    )


_KNN_K = 5


@register(
    "sim_join_knn",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nb_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, nb_id) AS rn
      FROM scored
    ) WHERE rn <= {_KNN_K}
    """,
)
def sim_join_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: for EVERY vector its top-5 cosine neighbors — the
    all-items variant of sim_search_topk (which serves 5 probe
    queries), and the primitive behind hard-negative mining, semantic
    dedup clustering and retrieval-index evaluation.  Candidates are
    :func:`_cell_pairs` on the label (a k-means/LSH cell id at 100 TB,
    cf. sim_search_ivf's centroid cells; k-NN quality across sub-cell
    boundaries comes from hamming-1 multiprobe exactly as in
    sim_search_ann), ranked by :func:`_pair_topk`.  The oracle scores
    both orientations separately and still value-matches."""
    # checkpoint: the cast+norm projection feeds both join sides (and
    # the broadcast ships materialized rows, not replayed lineage)
    e = _normed_vectors(load(spark, sf_dir, "embeddings"), "label").localCheckpoint()
    return _pair_topk(_cell_pairs(e, "label"), _KNN_K)


# ---------------------------------------------------------------------------
# dedup: full connected components over the verified near-dup edges
# ---------------------------------------------------------------------------

_CC_MAX_ITER = 20

# Round from which CC rounds pointer-jump (label ← label-of-label): a
# D-hop chain converges in _CC_PJ_FROM + O(log2 D) rounds instead of D.
# The fixpoint does not depend on the schedule.  Re-measured with a
# one-job round 0 (census jobs, local[4], of dedup_cluster_cc /
# dedup_cluster_incremental / dedup_resolve_best / dedup_eval_ari):
#
#   _CC_PJ_FROM   sf0.01          sf0.1
#   0             11/22/13/35     12/25/14/36
#   1             11/21/13/35     12/24/14/36
#   2             12/22/14/36     12/24/14/36
#
# 1 is lowest or tied on every key at both scales.
_CC_PJ_FROM = 1


def _min_label_cc(
    nodes: DataFrame, edges: DataFrame, n_nodes: int | None = None
) -> DataFrame:
    """Connected components over ``nodes`` (doc_id) and undirected
    ``edges`` (a, b): (doc_id, label), label = the component's minimum
    doc_id, by :func:`rounds.min_propagate` with pointer jumping from
    round ``_CC_PJ_FROM``.  Precondition: every edge endpoint is a node,
    as dedup_cluster_cc, dedup_eval_ari and dedup_cluster_incremental's
    two runs guarantee.  ``n_nodes``, an upper bound on the node rows
    known without a job, is the kernel's ``state_rows``: with it a small
    round 0 runs as one job, and a bound below the true count raises.

    Incremental use needs no seed parameter: a prior labeling is folded
    in by CONTRACTING the new edges through it and running this on the
    label-level graph, whose node ids are the prior labels themselves.
    The kernel checkpoints the symmetrized edge list once; round 0
    pushes each edge as is (identity labels).  Raises if
    ``_CC_MAX_ITER`` rounds don't converge: a silently-split component
    is worse than a failure."""
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels, _, changed = rounds.min_propagate(
        nodes.select(F.col("doc_id").alias("id"), F.col("doc_id").alias("value")),
        sym,
        lambda e: e.select(F.col("dst").alias("id"), F.col("src").alias("value")),
        max_rounds=_CC_MAX_ITER,
        jump_from=_CC_PJ_FROM,
        state_rows=n_nodes,
    )
    if changed:
        # chains longer than the jump-accelerated bound must raise
        raise RuntimeError(
            f"connected components did not converge in {_CC_MAX_ITER} "
            f"iterations ({changed} labels still changing); raise "
            "_CC_MAX_ITER for this graph"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("value").alias("label"))


@register(
    "dedup_cluster_cc",
    # Full value check: the edge set is the DETERMINISTIC exact-Jaccard
    # pair list (same blocks/threshold as dedup_ngram_jaccard), so the
    # transitive closure is SQL-expressible — a recursive CTE computes
    # every (doc, reachable label) and takes the per-doc minimum.
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.doc_id
    )
    SELECT doc_id, CAST(min(label) AS BIGINT) AS component_id
    FROM reach GROUP BY doc_id
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE duplicate clusters: connected components over a verified
    near-dup edge list, via iterative min-label propagation.

    A 1-hop cluster id is wrong for chains (A~B~C with A≁C leaves C
    labeled B, not A); this operator converges to the transitive
    closure.  The edge set here is the deterministic exact-Jaccard
    pair list (:func:`jaccard_pairs` — same prefix-filtered plan as
    dedup_ngram_jaccard), which makes the WHOLE operator value-checkable
    against a recursive-CTE oracle instead of rows-only; swapping in
    the probabilistic ``minhash_edges`` (the cheaper 100 TB edge
    generator, exercised by dedup_near_minhash's goldens) changes no
    downstream shape.  The propagation kernel is :func:`_min_label_cc`
    — delta-form min-label rounds that pointer-jump from round
    ``_CC_PJ_FROM`` (a planted 100-hop chain converges in ~8 rounds,
    tested in tests/test_llm_pipeline.py) — so iterations are bounded
    by O(log diameter), not the diameter itself, and the convergence
    check rides each round's checkpoint job.
    """
    d = load(spark, sf_dir, "documents")
    verified = jaccard_pairs(_doc_token_sets(d)).select("a", "b")
    labels = _min_label_cc(
        d.select("doc_id"), verified, row_count(sf_dir, "documents")
    )
    return labels.select("doc_id", F.col("label").alias("component_id"))


# ---------------------------------------------------------------------------
# similarity search: ANN scale path (random-projection LSH, multiprobe)
# ---------------------------------------------------------------------------

_ANN_MIN_PLANES = 4         # floor: 16 buckets even on tiny fixtures
_ANN_MAX_PLANES = 16        # fixed-seed plane POOL size (the cap)
_ANN_TARGET_BUCKET = 64     # derive planes so E[bucket size] ≈ this


def _hyperplanes(dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane POOL (fixed seed → same
    values every run, every engine).  The ACTIVE count for an N-vector
    corpus is np = clamp(ceil(log2(N / target_bucket)), 4, 16) —
    bucket population halves per plane, so this keeps E[bucket size]
    near the target instead of freezing a fixture-sized constant.
    Both sim_search_ann and its oracle evaluate that formula from
    count(*) INSIDE the query (1-row broadcast / scalar subquery), so
    the engines always agree on the active planes at any scale factor
    and no job runs at plan-build time."""
    rng = np.random.RandomState(42)
    return rng.standard_normal((_ANN_MAX_PLANES, dim)).round(6).tolist()


def _ann_oracle() -> str:
    """DuckDB twin of sim_search_ann, the hyperplane pool inlined as
    literals and the ACTIVE plane count computed from count(*) by the
    same clamp(ceil(log2(N/64)), 4, 16) formula the Spark side uses.
    Possible because the LSH is deterministic: fixed-seed planes, and
    the sign test reads the projection ROUNDED to 6 places on both
    engines (an ulp-level fold-order difference can only flip a bucket
    bit if the true projection sits within ~1e-15 of a rounding
    boundary — the same accepted residual as every rounded oracle
    here).  Pool bits above the active count are gated to 0, and the
    multiprobe flip list is length-np via list_transform(range(np))."""
    planes = _hyperplanes()
    plane_lits = ["[" + ", ".join(repr(c) for c in p) + "]::DOUBLE[]" for p in planes]
    bucket = " + ".join(
        f"(CASE WHEN {i} < (SELECT np FROM pp)"
        f" AND round(list_dot_product(v, {plane_lits[i]}), 6) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(_ANN_MAX_PLANES)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    pp AS (
      SELECT CASE WHEN count(*) <= {_ANN_TARGET_BUCKET} THEN {_ANN_MIN_PLANES}
                  ELSE least({_ANN_MAX_PLANES}, greatest({_ANN_MIN_PLANES},
                       CAST(ceil(log2(count(*) / {_ANN_TARGET_BUCKET}.0)) AS INT)))
             END AS np
      FROM e
    ),
    b AS (
      SELECT vec_id, v, ({bucket}) AS bucket FROM e
    ),
    probes AS (
      SELECT vec_id AS query_id, v AS qv,
             unnest(list_prepend(bucket,
               list_transform(range((SELECT np FROM pp)),
                              i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS bucket
      FROM b WHERE vec_id < {_ANN_N_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, b.vec_id,
             round(list_cosine_similarity(p.qv, b.v), 6) AS score
      FROM probes p JOIN b ON p.bucket = b.bucket
      WHERE b.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, score, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {_ANN_TOP_K}
    """


@register("sim_search_ann", oracle=_ann_oracle())
def sim_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine via random-projection LSH — the 100 TB
    path for sim_search_topk.  Each vector gets an np-bit bucket (sign
    of the projection on the first np planes of a fixed-seed pool,
    a narrow projection) where np = clamp(ceil(log2(N/64)), 4, 16) —
    derived from the corpus size so the expected bucket population
    stays near 64 at ANY scale factor instead of freezing a
    fixture-sized constant (the oracle evaluates the same formula
    from count(*)).  Probes search their own bucket
    plus the np hamming-1 neighbors (multiprobe), so each task scores
    ~(np+1)/2^np of the corpus instead of all of it.  Output schema
    matches sim_search_topk; recall vs the exact operator is asserted
    in tests/test_llm_pipeline.py, and because the plane pool is a
    fixed constant the whole approximate pipeline — bucketing,
    multiprobe, scoring, ranking — is value-checked against the DuckDB
    oracle, not just rows-counted.

    The active plane count rides IN the frame (1-row count aggregate,
    broadcast cross join — the IVF stride pattern), so building the
    DataFrame runs NO job: all 16 pool bits are emitted gated on
    ``i < np``, with the projection inside the gated CASE branch so
    inactive planes cost nothing per row, and the multiprobe flip list
    is filtered to the active planes the same way."""
    emb = load(spark, sf_dir, "embeddings")
    planes = _hyperplanes()
    # np = clamp(ceil(log2(N/64)), 4, 16) as a COLUMN — the same
    # formula the oracle computes in SQL from count(*)
    params = emb.agg(F.count(F.lit(1)).alias("n")).select(
        F.when(F.col("n") <= _ANN_TARGET_BUCKET, F.lit(_ANN_MIN_PLANES))
        .otherwise(
            F.least(
                F.lit(_ANN_MAX_PLANES),
                F.greatest(
                    F.lit(_ANN_MIN_PLANES),
                    F.ceil(
                        F.log2(F.col("n") / F.lit(float(_ANN_TARGET_BUCKET)))
                    ).cast("int"),
                ),
            )
        )
        .cast("int")
        .alias("np")
    )
    e = _normed_vectors(emb).crossJoin(F.broadcast(params))
    bucket = None
    for i, p in enumerate(planes):
        proj = _dot(F.col("v"), F.array(*[F.lit(c) for c in p]))
        # sign of the ROUNDED projection — keeps the bucket id identical
        # across engines/SIMD fold orders (see _ann_oracle).  The gate
        # comes FIRST and the projection sits in the nested branch:
        # CaseWhen evaluates lazily, so inactive pool planes never
        # compute their 64-wide dot.
        bit = (
            F.when(
                F.lit(i) < F.col("np"),
                F.when(F.round(proj, 6) > 0, F.lit(1 << i)).otherwise(F.lit(0)),
            )
            .otherwise(F.lit(0))
        )
        bucket = bit if bucket is None else bucket + bit
    e = e.select("vec_id", "v", "nrm", "np", bucket.cast("int").alias("bucket"))

    # own bucket (sentinel i=-1, always kept) + the np active
    # hamming-1 flips, filtered in-row against the np column
    cand = F.array(
        F.struct(F.lit(-1).alias("i"), F.col("bucket").alias("b")),
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.col("bucket").bitwiseXOR(F.lit(1 << i)).alias("b"),
            )
            for i in range(_ANN_MAX_PLANES)
        ],
    )
    probes = _probes(
        e,
        F.explode(
            F.transform(
                F.filter(cand, lambda s: s["i"] < F.col("np")),
                lambda s: s["b"],
            )
        ).alias("bucket"),
    )
    return _probe_topk(e, probes, "bucket")


# ---------------------------------------------------------------------------
# text analysis: quality + language-ID heuristic
# ---------------------------------------------------------------------------

_STOPWORDS = ("a", "the")


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN {_STOPWORDS})) AS BIGINT)
               AS n_stop,
             CAST(len(list_filter(toks, x -> length(x) >= 3)) AS BIGINT)
               AS n_long
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_long AS DOUBLE) / n_tokens AS long_token_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
           CASE WHEN n_stop > 0 THEN 'en' ELSE 'unk' END AS lang_guess,
           (CAST(n_long AS DOUBLE) / n_tokens)
             * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS quality_score
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring + n-gram language-ID heuristic: stopword
    ratio, long-token ratio, chars-per-token, and a composite score —
    the filters a pretraining pipeline runs before anything expensive.
    All ratios are small-int divisions (bit-identical across engines);
    one narrow projection, no shuffle."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("bigint")
    n_long = F.size(F.filter(toks, lambda x: F.length(x) >= 3)).cast("bigint")
    stop_ratio = n_stop.cast("double") / n_tokens
    long_ratio = n_long.cast("double") / n_tokens
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        long_ratio.alias("long_token_ratio"),
        (F.col("n_chars").cast("double") / n_tokens).alias("chars_per_token"),
        F.when(n_stop > 0, "en").otherwise("unk").alias("lang_guess"),
        (long_ratio * (F.lit(1.0) - stop_ratio)).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# text analysis: BPE-ish regex tokenization
# ---------------------------------------------------------------------------

# pretokenizer classes kept to syntax both regex engines (Java util.regex
# / RE2-style) treat identically: no backrefs, no lookarounds
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_tokenize_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
             AS n_alpha,
           CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT)
             AS n_num,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_whitespace
    FROM documents
    """,
)
def text_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style regex pretokenizer (alpha runs /
    digit runs / single symbols) next to the whitespace count — the
    cheap proxy for model-token budgeting over a pretraining corpus.
    regexp_extract_all is codegen'd JVM regex: a narrow projection, no
    Python, no shuffle."""
    d = load(spark, sf_dir, "documents")
    low = F.lower("text")
    # idx=0 = the whole match: Spark defaults to capture group 1, which
    # errors on group-less patterns
    grab = lambda pat: F.regexp_extract_all(low, F.lit(pat), F.lit(0))  # noqa: E731
    return d.select(
        "doc_id",
        F.size(grab(_BPE_RE)).cast("bigint").alias("n_bpe_tokens"),
        F.size(grab("[a-z]+")).cast("bigint").alias("n_alpha"),
        F.size(grab("[0-9]+")).cast("bigint").alias("n_num"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_whitespace"),
    )


# ---------------------------------------------------------------------------
# text analysis: rolling-hash document fingerprinting
# ---------------------------------------------------------------------------

_FP_WINDOW = 4
_FP_MOD = 1_000_000_007


def _rk_window_frame(d: DataFrame, distinct: bool) -> DataFrame:
    """(doc_id, hs): per-doc Rabin-Karp 4-token window hashes over the
    engine-portable token codes (length·131 + first-char code) — the
    ONE Spark-side construction for every shingle consumer
    (text_fingerprint, decontaminate_ngrams, text_boilerplate_ngrams),
    mirroring how `_DECON_SHINGLES_SQL` is shared on the oracle side.
    The polynomial constants must stay bit-identical across all
    consumers or the shared SQL twin silently stops value-checking
    them.  ``distinct`` in-row dedupes the windows (document-frequency
    semantics); without it the array is size-preserving (the safe
    explode case of the InferFiltersFromGenerate invariant)."""
    toks = F.split("text", " ")
    # codes cast to long up front: the window polynomial reaches ~1e10,
    # past int32 (ANSI mode would raise ARITHMETIC_OVERFLOW)
    codes = F.transform(toks, lambda x: (F.length(x) * 131 + F.ascii(x)).cast("long"))
    c = d.select("doc_id", codes.alias("cs")).filter(F.size("cs") >= _FP_WINDOW)
    win_hashes = F.transform(
        F.sequence(F.lit(1), F.size("cs") - (_FP_WINDOW - 1)),
        lambda i: (
            (F.element_at(F.col("cs"), i) * 131 + F.element_at(F.col("cs"), i + 1))
            * 131
            + F.element_at(F.col("cs"), i + 2)
        )
        * 131
        + F.element_at(F.col("cs"), i + 3),
    )
    if distinct:
        win_hashes = F.array_distinct(win_hashes)
    return c.select("doc_id", win_hashes.alias("hs"))


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    codes AS (
      SELECT doc_id,
             list_transform(toks, x -> length(x) * 131 + ascii(x)) AS cs
      FROM t
    ),
    wins AS (
      SELECT doc_id,
             unnest(generate_series(1, len(cs) - {_FP_WINDOW - 1})) AS i,
             cs
      FROM codes
      WHERE len(cs) >= {_FP_WINDOW}
    ),
    hashes AS (
      SELECT doc_id,
             ((cs[i] * 131 + cs[i+1]) * 131 + cs[i+2]) * 131 + cs[i+3] AS h
      FROM wins
    )
    SELECT doc_id,
           CAST(MIN(h) AS BIGINT) AS fp_min,
           CAST(SUM(h) % {_FP_MOD} AS BIGINT) AS fp_sum,
           COUNT(*) AS n_windows
    FROM hashes
    GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (Rabin-Karp over token
    windows): each 4-token window gets a polynomial hash from
    engine-portable integer codes (length·131 + first-char code); the
    doc fingerprint is (min window hash — the winnowing representative —
    plus an order-independent modular sum).  Narrow projection + one
    tiny agg; integer arithmetic stays < 2^53, exact in both engines."""
    d = load(spark, sf_dir, "documents")
    # explode_outer, NOT explode: exploding the aliased hs column makes
    # InferFiltersFromGenerate add `size(hs)>0 AND isnotnull(hs)` and
    # push it below BOTH projections with `cs` inlined — every
    # element_at then recomputes the whole token transform (quadratic
    # per doc; 0.5 s → 11 s at sf0.1 when this briefly regressed).
    # The helper's size(cs) >= 4 filter guarantees ≥ 1 window, so
    # explode_outer can never emit the null row and is semantically
    # identical.
    h = _rk_window_frame(d, distinct=False).select(
        "doc_id", F.explode_outer("hs").alias("h")
    )
    return h.groupBy("doc_id").agg(
        F.min("h").cast("bigint").alias("fp_min"),
        (F.sum("h") % _FP_MOD).cast("bigint").alias("fp_sum"),
        F.count(F.lit(1)).alias("n_windows"),
    )


# ---------------------------------------------------------------------------
# multimodal: decode / feature-extract plumbing (Arrow-batched)
# ---------------------------------------------------------------------------

_DECODE_SCHEMA = (
    "doc_id BIGINT, n_bytes BIGINT, header_hex STRING, "
    "fake_width BIGINT, fake_height BIGINT, channels BIGINT"
)


@register(
    "multimodal_decode",
    # The stub decoder is deterministic byte arithmetic, so even the
    # Arrow path is fully oracle-checkable.  The SQL mirrors bytes via
    # chars, valid because the fixture corpus is pure ASCII (verified:
    # octet_length(encode(text)) == length(text) for every row); the
    # Python stub itself handles arbitrary bytes.
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           lower(hex(encode(substring(text, 1, 8)))) AS header_hex,
           CAST(ascii(substring(text, 1, 1)) % 64 + 1 AS BIGINT) AS fake_width,
           CAST(ascii(substring(text, 2, 1)) % 64 + 1 AS BIGINT) AS fake_height,
           CAST(3 AS BIGINT) AS channels
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over opaque binary payloads via
    mapInPandas: the REAL 100 TB plumbing — binary column in, Arrow
    batches across the JVM→Python boundary, typed feature rows out,
    partition-parallel with no shuffle.

    The actual media decode is STUBBED: image/audio libraries are not
    in this environment, so the stub derives deterministic fake
    dimensions from the payload bytes (and documents where the real
    decoder plugs in).  The Spark-side contract — schema, batching,
    partitioning — is real and tested (tests/test_llm_pipeline.py);
    the stub's determinism makes even the Arrow boundary itself
    hash-checkable against the SQL oracle above."""
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    def decode_batches(batches):
        # closure → cloudpickle ships it by value (executors can't
        # import this module; see operators/udfs.py).
        # Plug point for a real decoder: replace the fake-feature block
        # below with e.g. PIL.Image.open(io.BytesIO(buf)) per payload
        # and emit true (width, height, channels).  The stub is the
        # unconditional path — it must NOT probe for importable image
        # libraries, since the payloads here are text bytes and a
        # library appearing in the environment would otherwise flip
        # behavior.
        for pdf in batches:
            payload = pdf["payload"]
            n_bytes = payload.str.len()
            first = payload.str[0].fillna(0).astype("int64")
            second = payload.str[1].fillna(0).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "header_hex": payload.str[:8].apply(bytes.hex),
                    "fake_width": (first % 64 + 1),
                    "fake_height": (second % 64 + 1),
                    "channels": 3,
                }
            )

    return payloads.mapInPandas(decode_batches, _DECODE_SCHEMA)


# resize stub: target max side 32, aspect preserved, never upscale —
# integer-exact output dims in both engines (floor division)
_RESIZE_MAX_SIDE = 32
_RESIZE_SCHEMA = (
    "doc_id BIGINT, src_w BIGINT, src_h BIGINT, "
    "out_w BIGINT, out_h BIGINT, checksum BIGINT"
)


@register(
    "multimodal_resize",
    # same deterministic-stub discipline as multimodal_decode: source
    # dims derive from payload bytes, the resize is pure integer
    # arithmetic (aspect-preserving floor division, no upscale), and
    # the "resized pixel" checksum is deterministic byte math — so the
    # whole Arrow path is value-checked, not rows-counted
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(ascii(substring(text, 1, 1)) % 64 + 1 AS BIGINT) AS src_w,
             CAST(ascii(substring(text, 2, 1)) % 64 + 1 AS BIGINT) AS src_h,
             CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS b0
      FROM documents
    ),
    r AS (
      SELECT *,
             CASE WHEN greatest(src_w, src_h) <= {_RESIZE_MAX_SIDE} THEN src_w
                  ELSE greatest(1, src_w * {_RESIZE_MAX_SIDE}
                                   // greatest(src_w, src_h)) END AS out_w,
             CASE WHEN greatest(src_w, src_h) <= {_RESIZE_MAX_SIDE} THEN src_h
                  ELSE greatest(1, src_h * {_RESIZE_MAX_SIDE}
                                   // greatest(src_w, src_h)) END AS out_h
      FROM f
    )
    SELECT doc_id, src_w, src_h, out_w, out_h,
           CAST((n_bytes * out_w * out_h + b0) % 997 AS BIGINT) AS checksum
    FROM r
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing over opaque binary payloads — with decode,
    feature-extract (multimodal_decode) and frame-sample
    (multimodal_frames), this completes the multimodal preprocessing
    set: Arrow-batched ``mapInPandas``, partition-parallel, no shuffle,
    1 row in → 1 row out.

    The pixel work is STUBBED (no image libs in this environment): the
    source dims derive from payload bytes exactly as in
    multimodal_decode, the resize itself is REAL integer geometry —
    aspect-preserving scale to a 32-px max side, floor division, never
    upscaling — and the output checksum is deterministic byte math
    standing in for the resampled pixel hash.  A real implementation
    replaces the stub block with PIL's ``Image.resize`` per payload;
    the Spark-side contract (schema, batch shape, closure pickling) is
    what this key tests and ships."""
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    max_side = _RESIZE_MAX_SIDE

    def resize_batches(batches):
        # closure → cloudpickle ships it by value (executors can't
        # import this module); same unconditional-stub discipline as
        # multimodal_decode — never probe for importable image libs
        for pdf in batches:
            payload = pdf["payload"]
            n_bytes = payload.str.len().astype("int64")
            b0 = payload.str[0].fillna(0).astype("int64")
            b1 = payload.str[1].fillna(0).astype("int64")
            src_w = b0 % 64 + 1
            src_h = b1 % 64 + 1
            mx = np.maximum(src_w, src_h)
            small = mx <= max_side
            out_w = np.where(
                small, src_w, np.maximum(1, (src_w * max_side) // mx)
            ).astype("int64")
            out_h = np.where(
                small, src_h, np.maximum(1, (src_h * max_side) // mx)
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "src_w": src_w,
                    "src_h": src_h,
                    "out_w": out_w,
                    "out_h": out_h,
                    "checksum": (n_bytes * out_w * out_h + b0) % 997,
                }
            )

    return payloads.mapInPandas(resize_batches, _RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Decontamination: train/eval n-gram overlap screen
# ---------------------------------------------------------------------------

_DECON_EVAL_MOD = 7    # stand-in benchmark split: doc_id % 7 == 0
_DECON_MIN_SHARED = 3  # pairs sharing ≥ 3 distinct shingles are flagged

_DECON_SHINGLES_SQL = f"""
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(cs) - {_FP_WINDOW - 1}),
               i -> ((cs[i] * 131 + cs[i+1]) * 131 + cs[i+2]) * 131 + cs[i+3]
             )) AS hs
      FROM (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              x -> length(x) * 131 + ascii(x)) AS cs
        FROM documents
      )
      WHERE len(cs) >= {_FP_WINDOW}
"""


@register(
    "decontaminate_ngrams",
    oracle=f"""
    WITH shingles AS ({_DECON_SHINGLES_SQL}),
    flat AS (SELECT doc_id, unnest(hs) AS h FROM shingles),
    ev AS (SELECT doc_id AS eval_doc, h FROM flat WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    tr AS (SELECT doc_id AS train_doc, h FROM flat WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
    ev_sizes AS (
      SELECT doc_id AS eval_doc, CAST(len(hs) AS BIGINT) AS n_eval
      FROM shingles WHERE doc_id % {_DECON_EVAL_MOD} = 0
    )
    SELECT tr.train_doc, ev.eval_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           round(CAST(COUNT(*) AS DOUBLE) / ev_sizes.n_eval, 9) AS eval_frac
    FROM tr JOIN ev USING (h) JOIN ev_sizes USING (eval_doc)
    GROUP BY tr.train_doc, ev.eval_doc, ev_sizes.n_eval
    HAVING COUNT(*) >= {_DECON_MIN_SHARED}
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥ 3
    distinct 4-token shingles with any eval-set document (stand-in
    split: doc_id % 7 == 0), with the shared fraction of the eval
    doc's shingles as the contamination score.

    The canonical pretraining hygiene pass, shaped for scale: shingle
    hashes are the same engine-portable Rabin-Karp windows as
    text_fingerprint (integer-exact), deduplicated per doc in-row, and
    the JOIN BROADCASTS THE EVAL SIDE — benchmarks are MBs while the
    corpus is TBs, so the 100 TB plan touches each train shingle once
    with no shuffle of the corpus.  Overlap counting is a hash-agg on
    (train_doc, eval_doc)."""
    d = load(spark, sf_dir, "documents")
    sh = _rk_window_frame(d, distinct=True)
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    ev = sh.filter(is_eval)
    # explode_outer, not explode: plain explode makes Catalyst infer
    # `size(hs) > 0 AND isnotnull(hs)` and push it below the projection,
    # inlining the shingle expression with `cs` expanded — every
    # element_at then recomputes the whole token-hash transform
    # (quadratic per doc; 15s -> 2s at sf0.1).  The null row an empty
    # array would emit is harmless: both sides feed an inner join on
    # `h`, which drops null keys.
    ev_flat = ev.select(
        F.col("doc_id").alias("eval_doc"),
        F.size("hs").cast("bigint").alias("n_eval"),
        F.explode_outer("hs").alias("h"),
    )
    tr_flat = sh.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc"), F.explode_outer("hs").alias("h")
    )
    return (
        tr_flat.join(F.broadcast(ev_flat), "h")
        .groupBy("train_doc", "eval_doc", "n_eval")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _DECON_MIN_SHARED)
        .select(
            "train_doc",
            "eval_doc",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_eval"), 9).alias(
                "eval_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# text analysis: repetition-based quality filters (Gopher/C4-style)
# ---------------------------------------------------------------------------


@register(
    "quality_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2
    ),
    c AS (
      SELECT doc_id, n_tokens, n_distinct, bg, COUNT(*) AS cnt
      FROM b GROUP BY doc_id, n_tokens, n_distinct, bg
    )
    SELECT doc_id, n_tokens,
           CAST(MAX(cnt) AS DOUBLE) / (n_tokens - 1) AS top_bigram_frac,
           CAST(COUNT(*) AS DOUBLE) / (n_tokens - 1) AS distinct_bigram_ratio,
           1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS repeated_token_frac
    FROM c GROUP BY doc_id, n_tokens, n_distinct
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals — the Gopher-rule family
    (most-common-n-gram fraction, duplicate-n-gram fraction) that
    pretraining pipelines use to drop degenerate/boilerplate docs.

    Per doc: top-bigram fraction (share of all bigram slots taken by
    the most frequent bigram), distinct-bigram ratio, and repeated-token
    fraction.  100 TB shape: explode to (doc_id, bigram) and count —
    map-side partial aggregation collapses each doc's repeats before
    the shuffle, and both aggregations key on doc_id so the second
    groupBy reuses the first's partitioning.  All ratios are small-int
    divisions (one correctly-rounded double op, bit-identical across
    engines).  Docs with < 2 tokens have no bigram slots and are
    excluded on both sides."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at(F.col("toks"), i), F.lit(" "), F.element_at(F.col("toks"), i + 1)
        ),
    )
    flat = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.explode(bigrams).alias("bg"),
    )
    counts = flat.groupBy("doc_id", "n_tokens", "n_distinct", "bg").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    slots = (F.col("n_tokens") - 1).cast("double")
    return counts.groupBy("doc_id", "n_tokens", "n_distinct").agg(
        (F.max("cnt").cast("double") / slots).alias("top_bigram_frac"),
        (F.count(F.lit(1)).cast("double") / slots).alias("distinct_bigram_ratio"),
        (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "repeated_token_frac"
        ),
    ).select(
        "doc_id", "n_tokens", "top_bigram_frac", "distinct_bigram_ratio",
        "repeated_token_frac",
    )


# ---------------------------------------------------------------------------
# corpus gate: composite keep/drop filter
# ---------------------------------------------------------------------------

_GATE_MIN_TOKENS = 5
_GATE_MAX_REPEAT = 0.7   # drop if > 70% of tokens are repeats


@register(
    "corpus_filter",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN {_STOPWORDS})) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CASE
             WHEN n_tokens < {_GATE_MIN_TOKENS} THEN 'too_short'
             WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens
                  > {_GATE_MAX_REPEAT} THEN 'too_repetitive'
             WHEN n_stop = 0 THEN 'no_stopwords'
             ELSE 'ok'
           END AS reason,
           CASE
             WHEN n_tokens < {_GATE_MIN_TOKENS} THEN FALSE
             WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens
                  > {_GATE_MAX_REPEAT} THEN FALSE
             WHEN n_stop = 0 THEN FALSE
             ELSE TRUE
           END AS keep
    FROM m
    """,
)
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite keep/drop gate a pretraining pipeline runs before
    anything expensive: minimum length, repetition cap, and a
    stopword-presence language screen, with the FIRST failing rule as
    the drop reason (so downstream dashboards can attribute loss).

    One narrow projection — no shuffle, no join: every signal is an
    in-row array op, so at 100 TB this runs at scan speed and the
    filter composes with partition pruning on whatever the corpus is
    partitioned by.  Rule thresholds are module constants shared with
    the SQL oracle."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("bigint")
    repeat_frac = F.lit(1.0) - n_distinct.cast("double") / n_tokens
    reason = (
        F.when(n_tokens < _GATE_MIN_TOKENS, "too_short")
        .when(repeat_frac > _GATE_MAX_REPEAT, "too_repetitive")
        .when(n_stop == 0, "no_stopwords")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


# ---------------------------------------------------------------------------
# multimodal: frame sampling over opaque video payloads
# ---------------------------------------------------------------------------

_FRAME_FPS = 4           # stub stream's frame rate
_FRAME_STRIDE_S = 2      # sample one frame every 2 seconds
_FRAMES_SCHEMA = (
    "doc_id BIGINT, frame_idx BIGINT, t_offset_s BIGINT, "
    "n_bytes BIGINT, fp_byte BIGINT"
)


@register(
    "multimodal_frames",
    # Deterministic stub metadata (duration from payload length) keeps
    # the Arrow fan-out oracle-checkable; ASCII fixture ⇒ bytes mirror
    # chars (same argument as multimodal_decode).
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS duration_s,
             text
      FROM documents
      WHERE octet_length(encode(text)) > 0
    )
    SELECT doc_id,
           CAST(t_off * {_FRAME_FPS} AS BIGINT) AS frame_idx,
           CAST(t_off AS BIGINT) AS t_offset_s,
           n_bytes,
           CAST(ascii(substring(text, (t_off * {_FRAME_FPS}) % n_bytes + 1, 1))
                AS BIGINT) AS fp_byte
    FROM (
      SELECT doc_id, n_bytes, text,
             unnest(generate_series(0, duration_s - 1, {_FRAME_STRIDE_S})) AS t_off
      FROM v
    )
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque video payloads — the third multimodal
    primitive beside column plumbing (multimodal_columns) and decode
    (multimodal_decode): one input row fans out to one row per sampled
    frame, through mapInPandas.

    This is the real 100 TB shape for video: binary payloads stream
    through Arrow batches partition-parallel (no shuffle), the per-row
    fan-out happens inside the Python worker, and output rows carry
    (frame_idx, time offset, a frame fingerprint byte) for downstream
    feature extraction.  The container lacks video libraries, so
    metadata is a deterministic stub — duration derived from payload
    length, fingerprint = payload byte at the frame's offset — and the
    plug point for a real demuxer (pyav / ffmpeg) is the loop below.
    Empty payloads produce no frames on both sides."""
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    def sample_batches(batches):
        # closure → cloudpickle ships it by value (executors can't
        # import this module; see operators/udfs.py).
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "t_offset_s": [],
                    "n_bytes": [], "fp_byte": []}
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                n = len(buf)
                if n == 0:
                    continue
                duration = n % 30 + 1
                # real demuxer plug point: open(buf) and seek frames;
                # the stub samples every _FRAME_STRIDE_S seconds.
                for t_off in range(0, duration, _FRAME_STRIDE_S):
                    idx = t_off * _FRAME_FPS
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["t_offset_s"].append(t_off)
                    rows["n_bytes"].append(n)
                    rows["fp_byte"].append(buf[idx % n])
            yield pd.DataFrame(rows).astype("int64")
    return payloads.mapInPandas(sample_batches, _FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# similarity search: IVF-cell ANN (the centroid-bucketed scale path)
# ---------------------------------------------------------------------------

_IVF_NPROBE = 5        # each query searches its 5 nearest cells


def _argmax(pairs: DataFrame, key: str, d: str, cid: str, out: str) -> DataFrame:
    """Per ``key``, the ``cid`` with the largest score ``d``, ties to the
    smaller id: one ``max_by`` over (d, -cid), whose partial aggregate
    runs map-side in the stage that builds ``pairs``."""
    return pairs.groupBy(key).agg(
        F.max_by(cid, F.struct(F.col(d), (-F.col(cid)).alias("n"))).alias(out)
    )


def _ivf_assign_ctes(r: int) -> list[str]:
    """Round r's flat assign as CTEs ``asn{r}(vec_id, cid, rn)`` (every
    vector's ranking of the centroids ``cents{r}``) and ``cells{r}(vec_id,
    cell)``: the SQL twin of :func:`_ivf_assign`."""
    return [
        f"""asn{r} AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_dot_product(e.v, c.cv), 6) DESC, c.cid
             ) AS rn
      FROM e CROSS JOIN cents{r} c
    )""",
        f"cells{r} AS (SELECT vec_id, cid AS cell FROM asn{r} WHERE rn = 1)",
    ]


def _ivf_cells_ctes(where: str = "") -> str:
    """Shared IVF cell construction — the ONE clustering sim_search_ivf,
    dedup_semantic and mine_hard_negatives all build on, as a DuckDB CTE
    chain ending in
      cents(cid, cv)      — the Lloyd-refined centroids
      asn(vec_id,cid,rn)  — every vector's centroid ranking
      cells(vec_id, cell) — the final assignment
    mirrored 1:1 by the Spark-side :func:`_ivf_cells`.  Seeds are
    ``kmeans``' √N hash-order rule (raw `vec_id % stride` assumed dense
    PKs: sparse or skewed production ids would drift the seed count off
    √N and degrade cell balance — round-6 verdict finding #1), followed
    by ``kmeans.LLOYD_STEPS`` rounds of mean + flat re-assign.
    ``where`` restricts the clustered corpus (sim_index_ingest trains on
    the accepted slice only)."""
    ctes = [
        f"""e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings{where}
    )"""
    ]
    ctes += kmeans.seed_ctes("cents0", "e", "v")
    ctes += kmeans.lloyd_ctes(
        _ivf_assign_ctes, "e", ["cell"], "v", "cells", "cents", "cv"
    )
    ctes.append(f"asn AS (SELECT * FROM asn{kmeans.LLOYD_STEPS})")
    return ",\n    ".join(ctes)


_IVF_CELLS_CTES = _ivf_cells_ctes()


def _super_structs(cents: DataFrame):
    """Super-centroid structures over a centroid table — the ONE
    derivation shared by the two-level ASSIGN (per Lloyd round,
    :func:`_ivf_assign_hier`) and the two-level PROBE (final cents,
    :func:`_hier_probes`), so build and serve can never disagree on
    the super grouping.  Returns ``(params, supers, cent_sup)``:

    - ``params`` — a 1-row frame ``(g, np)``: super-group width
      g = ceil(√nlist) and size-scaled probe width
      np = max(_IVF_NPROBE, ceil(√nlist)), derived IN-PLAN (a lazy
      1-row aggregate — the oracle's ``g{r}``/``npp`` scalar-subquery
      shape).  A driver-side count() here was two blocking metadata
      jobs per arm on a path whose local cost is pure job scheduling;
    - ``supers(sid, sv)`` — every g-th centroid in portable-hash rank
      order; the rule is ``(rk − 1) % g == 0``,
      which keeps rank 1 for EVERY g including the g = 1 degenerate
      (`rk % g == 1` selected NOTHING at g = 1 and silently emptied
      every assignment — caught by review, round 12; regression-pinned
      in test_plans.py).  Single-partition window is fine on a
      metadata-sized frame;
    - ``cent_sup(cid, cv, sid)`` — centroid → nearest super.  The
      nlist×√nlist ranking stream carries SCALARS only (cid, ds, sid);
      the centroid vector re-joins AFTER the argmax from the cents
      frame (the CLAUDE.md wide-stream discipline — the previous form
      dragged cv through every pair row via F.first in the agg).

    Memoized on the centroid frame object: within one key the FINAL
    assign round and the probe path call this on the SAME checkpointed
    cents frame, and the structures are deterministic functions of it
    — caching saves one supers checkpoint + the cent→super argmax per
    consumer (job scheduling dominates this path at sf0.1, where nlist
    is tiny)."""
    cached = getattr(cents, "_super_structs_cache", None)
    if cached is not None:
        return cached
    sq = F.ceil(F.sqrt(F.greatest(F.lit(1), F.col("n")))).cast("long")
    params = cents.agg(F.count(F.lit(1)).alias("n")).select(
        sq.alias("g"),
        F.greatest(F.lit(_IVF_NPROBE).cast("long"), sq).alias("np"),
    )
    wr = Window.orderBy(hash48("cid").asc(), F.col("cid").asc())
    supers = (
        cents.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(params))
        .filter(((F.col("rk") - 1) % F.col("g")) == 0)
        .select(F.col("cid").alias("sid"), F.col("cv").alias("sv"))
        .localCheckpoint()  # broadcast to ≥2 consumers
    )
    ds_cc = F.round(_dot(F.col("cv"), F.col("sv")), 6)
    pairs = cents.crossJoin(F.broadcast(supers)).select("cid", ds_cc.alias("ds"), "sid")
    cent_sup = cents.join(_argmax(pairs, "cid", "ds", "sid", "sid"), "cid")
    cents._super_structs_cache = (params, supers, cent_sup)
    return cents._super_structs_cache


def _ivf_assign(frame: DataFrame, cents: DataFrame) -> DataFrame:
    """Flat assign ``(vec_id, cell)``: each vector's argmax over every
    centroid, by (rounded dot DESC, cid ASC).  The partial aggregate runs
    in the same stage as the broadcast join, so the nlist-multiplied
    rows never hit the shuffle.  The N×nlist pair stream carries
    SCALARS ONLY (vec_id, d, cid ≈ 24 B/row): an earlier form dragged
    the 64-float vector through every pair row via F.first("v") in the
    agg, which at ×100 with the constant-cell knob (nlist ≈ 3k → 625M
    pair rows × ~560 B) sort-spilled past the 8 GiB JVM and OOMed
    outright (round 10) — the select_dsir minimum-column rule applied
    to the assign stage."""
    d = F.round(_dot(F.col("v"), F.col("cv")), 6)
    pairs = frame.crossJoin(F.broadcast(cents)).select("vec_id", d.alias("d"), "cid")
    return _argmax(pairs, "vec_id", "d", "cid", "cell")


def _ivf_assign_hier(frame: DataFrame, cents: DataFrame) -> DataFrame:
    """Two-level coarse-quantizer assign ``(vec_id, cell)`` for the
    constant-cell knob path: flat assign is N×nlist dots, and with
    nlist ∝ N (the knob's regime) that is N²/s — measured ×6.6 WORSE
    than the √N default at ×100 (412.7 s vs 62.3 s, round 10) because
    the assign arm, not the pair arm, dominates.  Group the centroids
    under ~√nlist hash-ranked super-centroids once (metadata-sized),
    send each vector to its nearest SUPER (N×√nlist scalar dots), then
    argmax only within that super's group via a broadcast equi-join on
    the super id (N×E[group] ≈ N×√nlist more) — total assign work
    N×2√nlist, the standard IVF coarse-quantizer trick (Jégou et al.
    2011, public).  The assignment is the classic approximation (a
    vector whose true nearest centroid lives under a different super
    lands one cell over — acceptable by construction on the knob path,
    which trades exactness for linearity; the oracle replays the same
    approximation).

    Super structures come from :func:`_super_structs` — the same
    derivation the two-level PROBE runs over the final cents
    (round-13), so build and serve share one super grouping by
    construction."""
    _, supers, cent_sup = _super_structs(cents)
    ds_vs = F.round(_dot(F.col("v"), F.col("sv")), 6)
    v_sup = _argmax(
        frame.crossJoin(F.broadcast(supers)).select("vec_id", ds_vs.alias("ds"), "sid"),
        "vec_id",
        "ds",
        "sid",
        "sid",
    )
    d = F.round(_dot(F.col("v"), F.col("cv")), 6)
    pairs = (
        frame.select("vec_id", "v")
        .join(v_sup, "vec_id")
        .join(F.broadcast(cent_sup), "sid")
        .select("vec_id", d.alias("d"), "cid")
    )
    return _argmax(pairs, "vec_id", "d", "cid", "cell")


def _ivf_cells(e: DataFrame, target_cell: int | None = None):
    """Spark twin of ``_ivf_cells_ctes`` over the normed-vector frame
    ``e``: returns (assigned, cents) where assigned = (vec_id, v, nrm,
    cell) is the Lloyd-refined cell assignment and cents = (cid, cv)
    the refined centroids, trained by ``kmeans.lloyd``.  See
    sim_search_ivf's docstring for the full 100 TB shape argument
    (broadcast centroid rows, map-side max_by assignment, posexplode
    mean with partial aggregation).

    ``target_cell`` is the CONSTANT-STRIDE LINEARIZATION KNOB
    (SCALE.md's pair-family escape hatch, now in code): by default the
    stride is corpus-derived so nlist ≈ √N — the retrieval-tuned
    regime, where probe cost is nprobe × cell ≈ nprobe·√N but
    within-cell pair work grows as N^1.5.  Passing ``target_cell=s``
    pins the stride to the CONSTANT s instead: seeds = hash % s == 0,
    so nlist ∝ N and E[cell size] ≈ s stays flat as the corpus grows —
    within-cell pair families (dedup_semantic, mine_hard_negatives)
    turn LINEAR in N at the cost of more cells to probe.  Property-
    tested in tests/test_properties.py: E[cell size] holds ~s across a
    ×10 corpus growth.  With nlist ∝ N the flat assign is N²/s, so the
    knob path MUST take the two-level assign (:func:`_ivf_assign_hier`;
    pinned by tests/test_plans.py::
    test_two_level_assign_engages_on_knob_path)."""
    # EAGER checkpoint of the normed-vector frame: without it Catalyst
    # collapses _normed_vectors' higher-order projections (the
    # transform cast and the zip_with/aggregate norm) INTO the N×nlist
    # multiplied crossJoin rows, re-allocating and re-folding the
    # 64-element arrays once per (vector, centroid) pair — measured
    # 25 s vs 0.6 s for one Lloyd mean at 20k vectors (x10 stress,
    # round 8; the CollapseProject sibling of the element_at trap in
    # CLAUDE.md).  Materializing (vec_id, v, nrm) once is the standard
    # IVF-build working set (~N·dim floats, the index itself).
    # The explicit-COUNT round-robin repartition first (round 9): the
    # embeddings fixture is ONE parquet file, so the checkpointed frame
    # inherits a 1-task scan and every assign stage (N×nlist
    # interpreted-HOF dots fused with the broadcast join's partial agg)
    # serializes — the CLAUDE.md serialize-killer class, same fix as
    # the PQ slice frame (which measured ≈×8 at the x10 scale).
    par = e.sparkSession.sparkContext.defaultParallelism
    e = e.repartition(par).localCheckpoint()
    assign = _ivf_assign if target_cell is None else _ivf_assign_hier
    cells, cents = kmeans.lloyd(
        e, kmeans.seeds(e, "v", stride=target_cell), assign, ["cell"], "v", "cv"
    )
    return e.join(cells, "vec_id").select("vec_id", "v", "nrm", "cell"), cents


def _ivf_probes(e: DataFrame, cents: DataFrame) -> DataFrame:
    """The flat IVF probe: ``(query_id, qv, qn, cell)`` for each query of
    the normed-vector frame ``e`` and each of its ``_IVF_NPROBE``
    nearest centroids in ``cents``, ranked by (rounded dot DESC, cid),
    the assign's rule.  The probes (5 rows) rank the centroids through a
    broadcast join and a tiny window; ``qn`` is ``_normed_vectors``'
    ``nrm``."""
    d = F.round(_dot(F.col("qv"), F.col("cv")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("d"), F.asc("cell"))
    return (
        _probes(e)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", d.alias("d"), F.col("cid").alias("cell"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("query_id", "qv", "qn", "cell")
    )


@register(
    "sim_search_ivf",
    oracle=f"""
    WITH {_IVF_CELLS_CTES},
    probes AS (
      SELECT vec_id AS query_id, cid AS cell
      FROM asn WHERE vec_id < {_ANN_N_QUERIES} AND rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round(list_cosine_similarity(eq.v, ev.v), 6) AS score
      FROM probes p
      JOIN cells c USING (cell)
      JOIN e eq ON eq.vec_id = p.query_id
      JOIN e ev ON ev.vec_id = c.vec_id
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {_ANN_TOP_K}
    """,
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate nearest neighbour — the centroid-bucketed
    scale path beside the hyperplane-LSH one (sim_search_ann).

    Centroid SEEDS are a deterministic data subset — the vectors whose
    portable 48-bit md5(vec_id) hash is ≡ 0 mod a stride DERIVED from
    the corpus size so nlist ≈ ceil(√N) in expectation for ANY id
    distribution (dense, sparse, or skewed) — computed as a 1-row
    aggregate cross-joined back in, no driver action, and the same
    formula the oracle evaluates in SQL.  ``kmeans.LLOYD_STEPS`` Lloyd
    refinements then replace each seed with the element-wise MEAN of
    its assigned members: hash sampling is a uniform (unstratified)
    draw, and cell balance — the quantity the whole √N cost model rests
    on — improves measurably per k-means step.  With one step and
    nprobe=5 the measured recall@10 is 0.58 at BOTH sf0.001 and sf0.01
    (round 7's nprobe=3 sat at 0.46/0.48; the old dense-stride seeds at
    0.44/0.44) while each query still scores only ~nprobe/√N of the
    corpus.  The round-8 grid also measured 2 steps + nprobe=4 at
    0.58/0.60 — same recall, but a second step doubles clustering cost
    for all three cell-sharing keys, so the probe dial won.  The mean
    is engine-portable
    by the repo's float discipline: exact decimal(28,10) sums (merge-
    order-independent), ONE double division, round(·, 9) — mirrored
    verbatim in the oracle.  Refinement cost at scale: posexplode
    shuffles N·dim narrow (cell, idx, val) rows with map-side partial
    aggregation (each task emits ≤ nlist·dim partials), strictly
    cheaper than the N×nlist assignment pass that follows either way.
    The 100 TB shape:

    - the centroid table is nlist ≈ √N ROWS (≈16 MB at 1 B vectors of
      dim 64) → broadcast; cell assignment streams corpus × centroids
      through the broadcast join and collapses MAP-SIDE via a partial
      ``max_by`` aggregate, so the shuffle carries exactly N narrow
      (vec_id, cell) rows — never the multiplied join output and never
      a monolithic all-centroids array row;
    - probes are :func:`_ivf_probes` and the search is
      :func:`_probe_topk` on the cell.

    Every argmax/ranking orders by (rounded dot DESC, centroid id) so
    cell assignment is stable across engines' SIMD fold orders.
    Seeds are the hash-order rule (md5(vec_id) % stride == 0), shared
    with dedup_semantic via :func:`_ivf_cells` / ``_IVF_CELLS_CTES``."""
    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    assigned, cents = _ivf_cells(e)
    return _probe_topk(assigned, _ivf_probes(e, cents), "cell")


# ---------------------------------------------------------------------------
# sim_search_ivf_hier — the constant-cell two-level configuration,
# registered and oracle-checked (round-11 verdict #1)
# ---------------------------------------------------------------------------

_IVF_HIER_CELL = 64  # constant stride: E[cell] ≈ 64 for ANY corpus size


def _ivf_hier_assign_ctes(r: int) -> list[str]:
    """Round r's two-level assign over the centroid table ``cents{r}``:
    the SQL twin of :func:`_ivf_assign_hier`.

    - ``g{r}``    — ceil(√nlist), the super-group width;
    - ``sup{r}``  — every g-th centroid in portable-hash rank order
      (Spark: ``(row_number() - 1) % g == 0`` over (md5-hash asc,
      cid asc) — rank 1 survives for every g, including g = 1);
    - ``csup{r}`` — centroid → nearest super (rounded dot DESC, sid);
    - ``vsup{r}`` — vector → nearest super (same ordering rule);
    - ``cells{r}``— vector → argmax centroid WITHIN its super's group
      only (the classic coarse-quantizer approximation, Jégou et al.
      2011: a vector whose true nearest centroid hangs under another
      super lands one cell over — the deliberate trade the knob makes
      for N×2√nlist assign work instead of N×nlist).

    Every ranking orders by (round(dot, 6) DESC, id ASC) — identical
    tie-breaks to the Spark ``max_by(struct(d, -id))`` argmaxes."""
    return [
        f"""g{r} AS (
      SELECT CAST(ceil(sqrt(greatest(1, count(*)))) AS BIGINT) AS g
      FROM cents{r}
    )""",
        f"""sup{r} AS (
      SELECT cid AS sid, cv AS sv FROM (
        SELECT cid, cv, row_number() OVER (
                 ORDER BY {hash48_sql("cid")} ASC, cid ASC) AS rk
        FROM cents{r}), g{r}
      WHERE (rk - 1) % g = 0
    )""",
        f"""csup{r} AS (
      SELECT cid, cv, sid FROM (
        SELECT c.cid, c.cv, s.sid,
               row_number() OVER (PARTITION BY c.cid
                 ORDER BY round(list_dot_product(c.cv, s.sv), 6) DESC,
                          s.sid) AS rn
        FROM cents{r} c CROSS JOIN sup{r} s)
      WHERE rn = 1
    )""",
        f"""vsup{r} AS (
      SELECT vec_id, sid FROM (
        SELECT e.vec_id, s.sid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, s.sv), 6) DESC,
                          s.sid) AS rn
        FROM e CROSS JOIN sup{r} s)
      WHERE rn = 1
    )""",
        f"""cells{r} AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cid AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, c.cv), 6) DESC,
                          c.cid) AS rn
        FROM e JOIN vsup{r} vs USING (vec_id) JOIN csup{r} c USING (sid))
      WHERE rn = 1
    )""",
    ]


def _ivf_hier_ctes() -> str:
    """DuckDB twin of :func:`_ivf_cells` ON THE KNOB PATH — constant-
    stride seeds and the two-level coarse-quantizer assign replayed
    verbatim in SQL, so the configuration a 100 TB deployment actually
    runs (the only linear regime measured at ×100 — PERF.md round 10)
    is value-checked by the oracle sweep, not just property/plan tests.
    The same ``kmeans`` chain as ``_ivf_cells_ctes`` with
    :func:`_ivf_hier_assign_ctes` as the assign; ends in e/cents/cells
    plus the last round's ``sup``/``csup``, which the two-level PROBE
    ranks through (round-13)."""
    ctes = [
        """e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    ctes += kmeans.seed_ctes("cents0", "e", "v", stride=_IVF_HIER_CELL)
    ctes += kmeans.lloyd_ctes(
        _ivf_hier_assign_ctes, "e", ["cell"], "v", "cells", "cents", "cv"
    )
    ctes.append(f"sup AS (SELECT * FROM sup{kmeans.LLOYD_STEPS})")
    ctes.append(f"csup AS (SELECT * FROM csup{kmeans.LLOYD_STEPS})")
    return ",\n    ".join(ctes)


_IVF_SUPER_PROBE = 3  # supers each query's probe ranking descends into


def _hier_probe_ctes() -> str:
    """DuckDB twin of :func:`_hier_probes` — the two-level probe over
    a hier chain's ``e``/``cents``/``sup``/``csup`` CTEs, ending in
    ``probes(query_id, cell)``.  nprobe is SIZE-SCALED from a scalar
    subquery over the centroid table (round-12 verdict #3: the fixed
    nprobe 5 decayed recall 0.86 → 0.68 across one decade; holding the
    probed-corpus fraction needs nprobe ∝ √nlist — the same
    portable-scalar-dial move as sim_search_ann's active-plane clamp),
    and ranking descends through the top-``_IVF_SUPER_PROBE`` supers
    only (round-12 verdict #4: ranking ALL cells per query is an
    nlist-row broadcast — ~16 M rows at 1 B vectors; supers-first makes
    the broadcast √nlist-sized and per-query ranking S·√nlist)."""
    return f"""
    npp AS (
      SELECT greatest({_IVF_NPROBE}, CAST(ceil(sqrt(count(*))) AS BIGINT))
               AS np
      FROM cents
    ),
    qsup AS (
      SELECT vec_id AS query_id, sid FROM (
        SELECT e.vec_id, s.sid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, s.sv), 6) DESC,
                          s.sid) AS rn
        FROM e CROSS JOIN sup s
        WHERE e.vec_id < {_ANN_N_QUERIES})
      WHERE rn <= {_IVF_SUPER_PROBE}
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cid AS cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(e.v, c.cv), 6) DESC,
                          c.cid) AS rn
        FROM qsup q JOIN csup c USING (sid)
        JOIN e ON e.vec_id = q.query_id), npp
      WHERE rn <= npp.np
    )"""


def _hier_probes(
    e: DataFrame, cents: DataFrame, with_centroid: bool = False
) -> DataFrame:
    """Two-level probe ranking over the final centroid table — the
    serving-side completion of the constant-cell regime (round-12
    verdict #3 + #4), returning ``(query_id, qv, qn, cell)`` ready for
    the cell-postings scoring join.  Two dials, both size-derived:

    - **nprobe = max(_IVF_NPROBE, ceil(√nlist))** — the constant-cell
      regime holds E[cell] flat, so a FIXED nprobe probes a shrinking
      corpus fraction as N grows (measured recall decay 0.86 → 0.68
      across one decade at nprobe 5, PERF.md round 12); √nlist keeps
      the probed fraction ≈ nprobe·s/N ∝ 1/√nlist falling SLOWLY while
      per-query scoring stays nprobe·s = √nlist·s rows.  nlist is the
      metadata-sized count :func:`_super_structs` already takes;
      the oracle derives the same dial from a scalar subquery.
    - **supers-first ranking**: queries rank the √nlist-row SUPER
      table (broadcast — 4 KB·√nlist, N-independent comfort at any
      scale), descend into their top ``_IVF_SUPER_PROBE`` supers'
      centroid groups via an equi-join on sid (the |q|·S row side
      broadcasts, never the nlist-row centroid table), and take the
      top nprobe cells within those groups.  Ranking work per query is
      √nlist + S·√nlist instead of the flat nlist scan; the flat form
      broadcast the FULL centroid table (~16 M rows at 1 B vectors —
      the round-12 watch item this closes).  Like the two-level
      ASSIGN, the restriction is approximate BY CONSTRUCTION (a true
      top-nprobe cell under an unranked super is skipped) — and the
      oracle replays the same restriction, so the certified result IS
      the approximate probe.

    ``with_centroid=True`` appends the probed cell's centroid vector
    (``ccv``) to the output — the residual consumer's shape
    (sim_search_ivfpq derives the query's cell-relative residual from
    it); the plain-IVF consumers leave it off and Catalyst prunes the
    column below the ranking window.  ``qn`` is ``_normed_vectors``'
    ``nrm``, carried from ``e``."""
    params, supers, cent_sup = _super_structs(cents)
    q = _probes(e)
    ds_qs = F.round(_dot(F.col("qv"), F.col("sv")), 6)
    wq = Window.partitionBy("query_id").orderBy(F.desc("ds"), F.asc("sid"))
    qsup = (
        q.crossJoin(F.broadcast(supers))
        .select("query_id", "qv", "qn", ds_qs.alias("ds"), "sid")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_SUPER_PROBE)
        .select("query_id", "qv", "qn", "sid")
    )
    d_qc = F.round(_dot(F.col("qv"), F.col("cv")), 6)
    wc = Window.partitionBy("query_id").orderBy(F.desc("d"), F.asc("cell"))
    out_cols = ["query_id", "qv", "qn", "cell"] + (["ccv"] if with_centroid else [])
    return (
        cent_sup.join(F.broadcast(qsup), "sid")
        .select(
            "query_id",
            "qv",
            "qn",
            d_qc.alias("d"),
            F.col("cid").alias("cell"),
            F.col("cv").alias("ccv"),
        )
        .withColumn("rn", F.row_number().over(wc))
        .crossJoin(F.broadcast(params))
        .filter(F.col("rn") <= F.col("np"))
        .select(*out_cols)
    )


def _hier_coarse(spark: SparkSession, sf_dir: str):
    """The constant-cell coarse level shared verbatim by
    sim_search_ivf_hier and sim_search_ivfpq: normed vectors + the
    two-level-assign ``_ivf_cells`` call with the ``_IVF_HIER_CELL``
    knob.  Returns ``(e, assigned, cents)``.  Extracted (round 13) so
    the deployment scoreboard can materialize the construction ONCE
    and hand the same checkpointed frames to both arms — both
    registered keys still build their own through this exact
    function."""
    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    assigned, cents = _ivf_cells(e, target_cell=_IVF_HIER_CELL)
    return e, assigned, cents


@register(
    "sim_search_ivf_hier",
    oracle=f"""
    WITH {_ivf_hier_ctes()},
    {_hier_probe_ctes()},
    scored AS (
      SELECT p.query_id, c.vec_id,
             round(list_cosine_similarity(eq.v, ev.v), 6) AS score
      FROM probes p
      JOIN cells c USING (cell)
      JOIN e eq ON eq.vec_id = p.query_id
      JOIN e ev ON ev.vec_id = c.vec_id
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {_ANN_TOP_K}
    """,
)
def sim_search_ivf_hier(
    spark: SparkSession, sf_dir: str, _coarse=None
) -> DataFrame:
    """IVF ANN in the CONSTANT-CELL, TWO-LEVEL-ASSIGN configuration —
    the regime a 100 TB deployment actually runs, now a registered,
    oracle-checked key (round-11 verdict #1: until this round the knob
    path was certified only by property/plan tests, never by the
    DuckDB value sweep).

    Differences from ``sim_search_ivf``'s registered √N default, both
    measured in the round-10 ×100 A/B (PERF.md):

    - **seeds**: constant stride ``_IVF_HIER_CELL`` (hash % 64 == 0)
      instead of the corpus-derived √N stride — nlist ∝ N, E[cell]
      ≈ 64 FLAT as the corpus grows, so within-cell pair families stay
      linear in N (the √N regime's cells grow as √N and pair work as
      N^1.5);
    - **assign**: the two-level coarse quantizer (vector → nearest of
      ~√nlist supers → argmax within that super's centroid group),
      N×2√nlist dots instead of the flat arm's N×nlist, which at
      nlist ∝ N is N²/s — measured ×6.6 worse at ×100 (412.7 s flat
      vs 62.3 s two-level vs 21.3 s for this configuration end to
      end).  The assign is approximate BY CONSTRUCTION (a vector whose
      true nearest centroid lives under a different super lands one
      cell over) — and the oracle replays that exact approximation,
      super selection, grouping, and both argmax stages included, so
      the certified result IS the approximate assignment, not a
      vacuous subset bit.

    The probe side is TWO-LEVEL and SIZE-SCALED as of round 13
    (:func:`_hier_probes`, closing round-12 verdict #3 + #4): nprobe =
    max(5, ceil(√nlist)) holds the probed corpus fraction across
    decades instead of decaying (fixed nprobe 5 measured 0.86 → 0.68
    recall across one ×10 step — PERF.md round 12; the ×10 recall grid
    pytest now pins ≥ 0.7 at BOTH scales), and probe ranking descends
    supers-first — the √nlist-row super table is the only broadcast
    table of the ranking (the flat form broadcast all nlist centroids,
    ~16 M rows at 1 B vectors: the round-12 watch item), with the
    centroid groups reached by an sid equi-join against the broadcast
    |q|·S query side.  100 TB shape: build is linear (N×2√nlist assign
    + N-row shuffles); serving ranks √nlist + S·√nlist rows per query
    and scores nprobe × E[cell] = √nlist·64 rows — every stage
    N-independent per query or √nlist-sized.

    ``_coarse`` (private, round-13 optimization): an optional
    ``(e, assigned, cents)`` triple from :func:`_hier_coarse`.  The
    registered entry point always builds its own (``None``); the
    deployment scoreboard (sim_eval_recall_deploy) passes the SAME
    checkpointed frames to this arm and to sim_search_ivfpq, whose
    coarse levels are identical BY CONSTRUCTION (both call
    ``_ivf_cells(e, target_cell=_IVF_HIER_CELL)`` — the composed key's
    documented can-never-disagree property), so the eval materializes
    the shared construction once instead of twice.  This is the
    _super_structs memoization pattern one level up: the arm's plan is
    unchanged, only the rebuild of bit-identical checkpointed inputs
    is skipped."""
    if _coarse is None:
        _coarse = _hier_coarse(spark, sf_dir)
    e, assigned, cents = _coarse
    return _probe_topk(assigned, _hier_probes(e, cents), "cell")


# ---------------------------------------------------------------------------
# hard-negative mining for retrieval/embedding training
# ---------------------------------------------------------------------------

_HARDNEG_K = 5


@register(
    "mine_hard_negatives",
    oracle=f"""
    WITH {_IVF_CELLS_CTES},
    l AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
    nv AS (
      SELECT c.vec_id, c.cell, e.v, l.label
      FROM cells c JOIN e USING (vec_id) JOIN l USING (vec_id)
    ),
    scored AS (
      SELECT a.vec_id, a.label, b.vec_id AS nb_id, b.label AS nb_label,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM nv a JOIN nv b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id AND a.label <> b.label
    )
    SELECT vec_id, label, nb_id, nb_label, cosine,
           CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, nb_id) AS rn
      FROM scored
    ) WHERE rn <= {_HARDNEG_K}
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding/retrieval training: for every
    vector, its top-k most-similar neighbors with a DIFFERENT label —
    the contrastive-training data op (high-cosine, wrong-class pairs
    are the negatives that actually move a retrieval loss; random
    negatives are trivially easy).

    Candidates are :func:`_cell_pairs` on the shared IVF cells
    (:func:`_ivf_cells` / ``_IVF_CELLS_CTES`` — hash-order √N seeds +
    Lloyd refinement), NOT the label column: hard negatives live across
    label boundaries, so the blocker must be geometric.  Same-label
    pairs are filtered out (Catalyst pushes the filter into the join)
    and :func:`_pair_topk` ranks the rest.  Vectors whose cell holds no
    other-label mates produce no row, identically in both engines.  The
    oracle replays seeding, Lloyd refinement, assignment, cross-label
    scoring and ranking."""
    emb = load(spark, sf_dir, "embeddings")
    e = _normed_vectors(emb)
    assigned, _ = _ivf_cells(e)
    labels = emb.select("vec_id", F.col("label").cast("bigint").alias("label"))
    nv = assigned.join(labels, "vec_id").localCheckpoint()
    pairs = _cell_pairs(nv, "cell", "label").filter(
        F.col("label_a") != F.col("label_b")
    )
    return _pair_topk(pairs, _HARDNEG_K, "label")


# ---------------------------------------------------------------------------
# dedup: semantic (SemDeDup-style cluster-then-prune over embeddings)
# ---------------------------------------------------------------------------

_SEMDEDUP_T = 0.3   # within-cell cosine above this ⇒ semantic duplicate


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_IVF_CELLS_CTES},
    nv AS (SELECT c.vec_id, c.cell, e.v FROM cells c JOIN e USING (vec_id)),
    pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos
      FROM nv a JOIN nv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_SEMDEDUP_T}
    ),
    r AS (
      SELECT b, a, cos,
             row_number() OVER (PARTITION BY b ORDER BY cos DESC, a) AS rn
      FROM pairs
    ),
    d AS (SELECT b, a AS dup_of, cos AS max_cos FROM r WHERE rn = 1)
    SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
           d.b IS NULL AS keep,
           CAST(d.dup_of AS BIGINT) AS dup_of,
           d.max_cos
    FROM cells c LEFT JOIN d ON d.b = c.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-style (cluster-then-prune; Abbas et
    al. 2023, public arXiv 2303.09540): k-means-cluster the embedding
    space, then WITHIN each cluster prune every vector that sits above
    cosine ``_SEMDEDUP_T`` of an earlier (lower-id) cell-mate —
    first-accepted-wins, the deterministic stand-in for the paper's
    keep-farthest-from-centroid rule.  Closes the embedding-level gap
    in the dedup family: dedup_embedding reports near-dup PAIRS on a
    given blocking column, this one makes the KEEP/PRUNE decision from
    a clustering the operator itself derives.

    The clustering is the registered IVF construction, shared verbatim
    with sim_search_ivf (:func:`_ivf_cells` / ``_IVF_CELLS_CTES``:
    hash-order √N seeds, exact-decimal Lloyd refinement, broadcast
    centroids, map-side max_by assignment) — so the oracle replays
    seeding, refinement, assignment, within-cell scoring AND the prune
    decision, end to end.  Pairs are :func:`_cell_pairs` on the cell.
    The prune pick is ONE hash-aggregate per pruned vector — max over
    the (cosine, -candidate_id) struct (the dedup_resolve_best idiom),
    no window over data-sized frames.  Output is one row per vector:
    (vec_id, cell, keep, dup_of, max_cos)."""
    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    assigned, _ = _ivf_cells(e)
    assigned = assigned.localCheckpoint()  # feeds both sides of the
    # within-cell join AND the final left join — materialize once
    pairs = _cell_pairs(assigned, "cell").filter(F.col("cosine") >= _SEMDEDUP_T)
    d = pairs.groupBy("b").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("a")).alias("neg_a"))).alias("m")
    )
    return (
        assigned.select("vec_id", "cell")
        .join(d, assigned.vec_id == d.b, "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.col("b").isNull().alias("keep"),
            (-F.col("m.neg_a")).cast("bigint").alias("dup_of"),
            F.col("m.cosine").alias("max_cos"),
        )
    )


# ---------------------------------------------------------------------------
# dedup: asymmetric containment (subset-duplication)
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.9


@register(
    "dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS contained, b.doc_id AS container,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(a.toks) AS containment
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
    WHERE len(a.toks) > 0
      AND len(a.toks) < len(b.toks)
      AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(a.toks) >= {_CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (Broder's containment coefficient
    |A∩B| / |A|): flags documents whose token set is ≥ 90% contained in
    a strictly larger document — the quote/boilerplate-superset case
    that symmetric Jaccard misses (a short doc embedded in a long one
    has high containment but low Jaccard).

    Candidates come from the asymmetric prefix filter, not a raw
    (lang, source) block join: containment ≥ 0.9 means A misses at
    most ⌊|A|/10⌋ of its own tokens from B, so ANY ⌊|A|/10⌋+1 tokens
    of A include one present in B — the contained side probes with its
    RAREST-token prefix (:func:`_block_prefix`) against the container
    side's full inverted index, joined on (lang, source, token) with
    the strict |A| < |B| size residual.  Lossless, so exact verify on
    candidates reproduces the naive block join's output; a dominant
    block expands per rare-token posting list, not per-block
    quadratically.  Containment is a small-int ratio, bit-identical
    across engines."""
    d = load(spark, sf_dir, "documents")
    t = _doc_token_sets(d)
    pa = _block_prefix(t, 10).select(
        F.col("doc_id").alias("contained"), "lang", "source", "token",
        F.col("n").alias("n_a"),
    )
    inv = t.select(
        F.col("doc_id").alias("container"),
        "lang",
        "source",
        F.size("toks").alias("n_b"),
        F.explode_outer("toks").alias("token"),
    )
    cand = (
        pa.join(inv, ["lang", "source", "token"])
        .filter(
            (F.col("contained") != F.col("container"))
            & (F.col("n_a") > 0)
            & (F.col("n_a") < F.col("n_b"))
        )
        .select("contained", "container")
        .distinct()
    )
    sa = t.select(F.col("doc_id").alias("contained"), F.col("toks").alias("toks_a"))
    sb = t.select(F.col("doc_id").alias("container"), F.col("toks").alias("toks_b"))
    containment = F.size(F.array_intersect("toks_a", "toks_b")).cast(
        "double"
    ) / F.size("toks_a")
    return (
        cand.join(sa, "contained")
        .join(sb, "container")
        .select("contained", "container", containment.alias("containment"))
        .filter(F.col("containment") >= _CONTAIN_T)
    )


# ---------------------------------------------------------------------------
# text: token entropy / lexical diversity
# ---------------------------------------------------------------------------


@register(
    "text_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
    ),
    tot AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_types FROM tf GROUP BY doc_id
    )
    SELECT tf.doc_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
           CAST(ANY_VALUE(n_types) AS BIGINT) AS n_types,
           round(-SUM((c / CAST(n AS DOUBLE))
                      * log2(c / CAST(n AS DOUBLE))), 6) AS entropy,
           round(ANY_VALUE(n_types) / CAST(ANY_VALUE(n) AS DOUBLE), 9) AS ttr
    FROM tf JOIN tot USING (doc_id)
    GROUP BY tf.doc_id
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy and type-token ratio — the
    standard lexical-diversity pair of a corpus quality pipeline
    (template/boilerplate text scores low entropy, natural prose high).

    Shape: explode → term-frequency groupBy on (doc_id, token) → doc
    totals → one more doc-keyed aggregate.  All three aggregations hash
    on doc_id (or its superset), so at 100 TB this is one shuffle of
    the token stream followed by re-partition-free doc aggregates; no
    Python, no arrays carried between stages.  The entropy fold is a
    float sum of ≤ vocabulary-size terms — rounded to 6 decimals on
    both engines per the repo's transcendental-fold discipline (term
    order across engines differs at the ulp level only)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("c") / F.col("n").cast("double")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.max("n_types").cast("bigint").alias("n_types"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"),
            F.round(
                (F.max("n_types") / F.max("n").cast("double")), 9
            ).alias("ttr"),
        )
    )


# ---------------------------------------------------------------------------
# dedup: fuzzy edit-distance (record-linkage two-stage: block + verify)
# ---------------------------------------------------------------------------


@register(
    "dedup_fuzzy_edit",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, text,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS token
      FROM t
    ),
    cand AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             ANY_VALUE(a.n) AS n_a, ANY_VALUE(b.n) AS n_b, COUNT(*) AS i
      FROM tok a JOIN tok b
        ON a.lang = b.lang AND a.source = b.source
       AND a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING 19 * COUNT(*) >= 9 * (ANY_VALUE(a.n) + ANY_VALUE(b.n))
    )
    SELECT c.a, c.b,
           CAST(c.i AS DOUBLE) / (c.n_a + c.n_b - c.i) AS jaccard,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN t ta ON ta.doc_id = c.a
    JOIN t tb ON tb.doc_id = c.b
    WHERE 10 * levenshtein(ta.text, tb.text)
            <= greatest(length(ta.text), length(tb.text))
    """,
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) dedup, the record-linkage two-stage shape:
    cheap blocking first, the expensive exact verify only on survivors.

    Contract: pairs (a < b) within (lang, source) whose token-set
    Jaccard is ≥ 0.9 AND whose Levenshtein distance is ≤ 10% of the
    longer text.  Stage 1 is :func:`jaccard_pairs` (the lossless PPJoin
    prefix filter + exact set verify) carrying each side's text, and the
    edit-distance test joins the Jaccard test in the verify's join
    condition, after it, so the O(len²)
    Levenshtein DP only ever runs on the verified near-dup pairs, never
    the corpus cross product — the stage that separates docs that share
    a vocabulary (high Jaccard, sets ignore order) from docs that are
    genuinely the same text edited (small edit distance).  Both filters
    are integer/exact arithmetic, so the emitted (jaccard, edit_dist)
    certificate is bit-identical across engines and the key is fully
    value-checked.  The Jaccard gate is load-bearing for cost, not just
    semantics: at 0.8 this fixture's deliberately near-duplicated
    corpus yields 38k survivor pairs and a 30 s DP tail; at 0.9 it is
    ~1k pairs and the DP is noise.

    100 TB: two linear token shuffles for the prefix index, an equi-join
    on (block, prefix-token) with rare-token-bounded buckets, then a
    per-pair verify — the same growth law as dedup_ngram_jaccard, plus
    a banded DP, O(len · len/10), on ~doc-length strings for verified
    pairs only."""
    d = load(spark, sf_dir, "documents")
    # Each verified pair costs a DP: the CPU-heavy, byte-light shape AQE
    # would coalesce onto one task (12 s → 3 s at sf0.1 once spread).
    # The texts ride jaccard_pairs' own verify joins, so the DP runs in
    # the stage its explicit-count repartition(par, "a") already spreads
    # across every core.  10·d ≤ max_len is d ≤ ⌊max_len / 10⌋ = k for
    # an integer d, and levenshtein's threshold argument makes the DP
    # banded: O(len·k), and -1 once the distance passes k.
    verified = jaccard_pairs(_doc_token_sets(d, "text"), "text")
    k = (F.greatest(F.length("text_a"), F.length("text_b")) / 10).cast("int")
    lev = F.call_function("levenshtein", F.col("text_a"), F.col("text_b"), k)
    return (
        verified.withColumn("edit_dist", lev.cast("bigint"))
        .filter(F.col("edit_dist") >= 0)
        .select("a", "b", "jaccard", "edit_dist")
    )


# ---------------------------------------------------------------------------
# quality: corpus-unigram negative log-likelihood (perplexity proxy)
# ---------------------------------------------------------------------------


@register(
    "quality_perplexity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (
      SELECT t, COUNT(*) AS c FROM tok GROUP BY t
    ),
    tot AS (
      SELECT COUNT(*) AS n FROM tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(AVG(-ln(c / CAST(n AS DOUBLE))), 6) AS nll_r
    FROM tok JOIN freq USING (t) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus
    unigram language model — the classic cheap perplexity proxy used to
    rank training documents (CCNet-style): repetitive boilerplate made
    of common tokens scores low, rare-token gibberish scores high.

    Shape: one token shuffle to build the corpus unigram table, an
    equi-join of the token stream against it (shuffle by token), then a
    doc-keyed average.  The corpus total is a 1-row aggregate broadcast
    via crossJoin (same pattern as text_tfidf's document count).  The
    per-token −ln(p) fold is rounded to 6 decimals after averaging on
    both engines, per the repo's transcendental-fold discipline.

    100 TB: the unigram table is vocabulary-sized (≪ corpus); with a
    skewed vocabulary the token-join inherits Spark's AQE skew split,
    and at extreme scale the model table would be broadcast instead —
    both sides of that choice keep this exact plan shape."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.groupBy().agg(F.count(F.lit(1)).alias("n"))
    nll = -F.log(F.col("c") / F.col("n").cast("double"))
    return (
        tok.join(freq, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(nll), 6).alias("nll_r"),
        )
    )


# ---------------------------------------------------------------------------
# sim_index_persist — the ANN index's persisted-state contract, executed
# ---------------------------------------------------------------------------


@register(
    "sim_index_persist",
    # the oracle replays the ENTIRE index build from the raw vectors —
    # seeds, Lloyd step, assignment, probe ranking, scoring — so a
    # round-trip defect anywhere (a dropped posting row, a
    # type-narrowed centroid element, a truncated cell id) changes the
    # decisions or the audit counts and breaks the hash
    oracle=f"""
    WITH {_IVF_CELLS_CTES},
    probes AS (
      SELECT vec_id AS query_id, cid AS cell
      FROM asn WHERE vec_id < {_ANN_N_QUERIES} AND rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round(list_cosine_similarity(eq.v, ev.v), 6) AS score
      FROM probes p
      JOIN cells c USING (cell)
      JOIN e eq ON eq.vec_id = p.query_id
      JOIN e ev ON ev.vec_id = c.vec_id
      WHERE c.vec_id <> p.query_id
    ),
    stats AS (
      SELECT (SELECT COUNT(*) FROM cells) AS index_vecs,
             (SELECT COUNT(*) FROM cents) AS index_cells
    )
    SELECT query_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS BIGINT)
             AS rank,
           CAST(stats.index_vecs AS BIGINT) AS index_vecs,
           CAST(stats.index_cells AS BIGINT) AS index_cells
    FROM scored CROSS JOIN stats
    QUALIFY rank <= {_ANN_TOP_K}
    """,
)
def sim_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index's PERSISTED-STATE contract, executed rather than
    narrated — the vector twin of dedup_index_persist (curation.py):
    build the IVF index from the corpus (:func:`_ivf_cells`'s Lloyd-
    refined centroids + the per-vector cell postings), WRITE both
    frames to parquet, RELOAD them with fresh scans, and answer the
    probe query set against the RELOADED store only.  Any real serving
    pipeline reloads its index; until this key the repo only rebuilt
    it per query (round-10 verdict gap #1).

    Round-trip exactness is the whole point and is checkable because
    every stored value is bit-stable through parquet: centroid
    elements are round(·, 9) doubles, postings carry the raw
    double-cast vectors and norms, and parquet stores IEEE doubles
    exactly — so scores computed from the reloaded frames are
    bit-identical to scores computed from the live build, and the
    oracle (which replays seeds → Lloyd → assign → probe → score from
    the raw ``embeddings`` table in SQL) value-checks the reloaded
    path end-to-end.  The audit columns (index_vecs, index_cells) are
    counts over the RELOADED frames: a silently dropped posting or
    centroid row breaks them even if the probe set happens to dodge it.

    Queries arrive FRESH (from the raw corpus, as in serving) — only
    the index side comes from disk.  Probes are sim_search_ivf's
    :func:`_ivf_probes` over the reloaded centroid table, so the two
    keys' cell choices agree bit-for-bit, and the search is
    :func:`_probe_topk` on the reloaded postings.

    100 TB shape: the store is the standard IVF serving layout —
    centroids ≈ √N rows (broadcastable at 1 B vectors), postings N
    rows PARTITIONED BY CELL, and the probe's broadcast equi-join
    prunes unprobed cells via DYNAMIC PARTITION PRUNING — executed,
    not narrated: the reloaded scan's PartitionFilters carry a
    dynamicpruning subquery on the probe side (plan-asserted), so a
    probe reads nprobe × |queries| cells' files, never the store.
    Per-query serving cost is nprobe × E[cell] score rows against a
    reloaded, never-rebuilt index; index build amortizes across every
    query after the first."""
    from task_mapreduce_spark.operators.relational import _work_dir

    emb = load(spark, sf_dir, "embeddings")
    e = _normed_vectors(emb)
    assigned, cents = _ivf_cells(e)

    # ---- index build: persist centroids + cell postings.  The
    # postings are PARTITIONED BY CELL — the production IVF layout —
    # keyed-repartitioned first so each cell lands in one file.  This
    # is not cosmetic: the broadcast-probes equi-join below then
    # prunes unprobed cells via DYNAMIC PARTITION PRUNING (the scan's
    # PartitionFilters carry a dynamicpruning subquery on the probe
    # side — plan-asserted in tests/test_plans.py), so a serving probe
    # reads nprobe×|queries| cells' files, never the whole store. ----
    base = _work_dir("sim_index")
    cents.write.mode("overwrite").parquet(f"{base}/centroids")
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{base}/postings")

    # ---- reload: everything below touches ONLY the reloaded store
    # (plus the fresh query vectors, which arrive raw in serving).
    # The read supplies the store schema EXPLICITLY, for two reasons:
    # (1) it pins the hive partition column to the long the decisions
    # were made with (inference would narrow it to int, or string with
    # inference disabled); (2) an EMPTY corpus writes a partitioned dir
    # with no parquet footers at all, where schema inference throws —
    # a serving tier always knows its index schema. ----
    post_schema = "vec_id long, v array<double>, nrm double, cell long"
    cents_store = spark.read.schema(cents.schema).parquet(
        f"{base}/centroids"
    )
    post_store = spark.read.schema(post_schema).parquet(
        f"{base}/postings"
    ).select("vec_id", "v", "nrm", "cell")

    stats = post_store.agg(
        F.count(F.lit(1)).cast("bigint").alias("index_vecs")
    ).crossJoin(
        F.broadcast(
            cents_store.agg(
                F.count(F.lit(1)).cast("bigint").alias("index_cells")
            )
        )
    )
    return (
        _probe_topk(post_store, _ivf_probes(e, cents_store), "cell")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "vec_id", "score", "rank",
                "index_vecs", "index_cells")
    )


# ---------------------------------------------------------------------------
# sim_index_ingest — append-ingest into the reloaded IVF index, no retrain
# ---------------------------------------------------------------------------

_INGEST_MOD = 10  # portable ~10% md5(vec_id) slice arrives as the batch

# the split hashes md5 chars 13..24 — bits INDEPENDENT of the seed
# rule's chars 1..12: with the same bits, any stride that is a
# multiple of the slice mod makes every potential seed a batch member
# (hash % 20 == 0 ⇒ hash % 10 == 0), leaving the accepted corpus with
# ZERO centroids — exactly what the first cut of this key did
_INGEST_WHERE = (
    " WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 13, 12))::BIGINT"
    f" % {_INGEST_MOD} <> 0"
)


@register(
    "sim_index_ingest",
    # the oracle replays the WHOLE lifecycle from the raw table: train
    # on the accepted slice, assign the arriving slice to those frozen
    # centroids, union the postings, probe the merged index — so a
    # defect in the store round trip, the no-retrain assignment, or
    # the union changes rankings or the audit counts
    oracle=f"""
    WITH {_ivf_cells_ctes(where=_INGEST_WHERE)},
    eb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 13, 12))::BIGINT
              % {_INGEST_MOD} = 0
    ),
    basn AS (
      SELECT eb.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY eb.vec_id
               ORDER BY round(list_dot_product(eb.v, c.cv), 6) DESC, c.cid
             ) AS rn
      FROM eb CROSS JOIN cents c
    ),
    allcells AS (
      SELECT vec_id, cell FROM cells
      UNION ALL
      SELECT vec_id, cid AS cell FROM basn WHERE rn = 1
    ),
    eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probes AS (
      SELECT q.vec_id AS query_id, c.cid AS cell FROM (
        SELECT q0.vec_id, c0.cid,
               row_number() OVER (
                 PARTITION BY q0.vec_id
                 ORDER BY round(list_dot_product(q0.v, c0.cv), 6) DESC, c0.cid
               ) AS rn
        FROM eall q0 CROSS JOIN cents c0
        WHERE q0.vec_id < {_ANN_N_QUERIES}
      ) q JOIN cents c ON c.cid = q.cid
      WHERE q.rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             round(list_cosine_similarity(eq.v, ev.v), 6) AS score
      FROM probes p
      JOIN allcells a USING (cell)
      JOIN eall eq ON eq.vec_id = p.query_id
      JOIN eall ev ON ev.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ),
    stats AS (
      SELECT (SELECT COUNT(*) FROM cells) AS index_vecs,
             (SELECT COUNT(*) FROM basn WHERE rn = 1) AS ingested_vecs
    )
    SELECT query_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS BIGINT)
             AS rank,
           CAST(stats.index_vecs AS BIGINT) AS index_vecs,
           CAST(stats.ingested_vecs AS BIGINT) AS ingested_vecs
    FROM scored CROSS JOIN stats
    QUALIFY rank <= {_ANN_TOP_K}
    """,
)
def sim_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-INGEST into a persisted IVF index without retraining —
    the third leg of the ANN serving lifecycle beside sim_index_persist
    (build → store → probe) and sim_eval_recall (quality): the index
    was trained on the ACCEPTED corpus (the portable ~90% md5(vec_id)
    slice), persisted, and a new vector batch (the ~10% slice) arrives.
    Real systems assign arrivals to the FROZEN centroids and append
    their postings — retraining per ingest would re-cluster a 1 B-row
    corpus daily — so that is exactly what this key executes: reload
    the store, assign the batch to the RELOADED centroids with the
    flat Lloyd assign (:func:`_ivf_assign`), union the postings, and
    answer the probe queries against the MERGED index.

    Semantics the oracle pins: centroids are those of the accepted
    slice only (training never saw the batch — the assignment is the
    classic frozen-quantizer approximation real ingest makes); queries
    come from the full corpus (a query may BE a batch vector — it
    still searches the merged index, finding both old and new
    neighbors); audit columns separate store postings (index_vecs)
    from appended ones (ingested_vecs), both counted on the Spark side
    from the frames the decisions actually used.

    100 TB shape: per-ingest cost is |batch| × nlist scalar dots
    (map-side argmax through the broadcast reloaded centroids — at
    |batch| ≫ nlist the two-level knob applies unchanged) plus a
    |batch|-row postings append; the accepted corpus is never
    rescanned and the quantizer never re-fit.  Cell drift under a
    frozen quantizer is the documented operational limit: production
    re-trains when ingested/index passes a threshold — the audit
    columns are that trigger's exact inputs."""
    from task_mapreduce_spark.operators.relational import _work_dir

    emb = load(spark, sf_dir, "embeddings")
    e = _normed_vectors(emb)
    # chars 13..24 of the digest: independent of the seed rule's bits
    # (see _INGEST_WHERE)
    is_batch = (hash48("vec_id", 13) % _INGEST_MOD) == 0
    assigned, cents = _ivf_cells(e.filter(~is_batch))

    # ---- build + persist the accepted-corpus index ----
    base = _work_dir("sim_ingest")
    cents.write.mode("overwrite").parquet(f"{base}/centroids")
    assigned.write.mode("overwrite").parquet(f"{base}/postings")

    # ---- reload; assign the arriving batch to the FROZEN centroids.
    # Reads pin the store schema explicitly (sim_index_persist's
    # convention): inference throws on a footerless empty store and a
    # serving tier always knows its index schema — pinning to the
    # written frame's schema makes the round trip drift-proof.
    cents_store = spark.read.schema(cents.schema).parquet(
        f"{base}/centroids"
    )
    post_store = spark.read.schema(assigned.schema).parquet(
        f"{base}/postings"
    )

    # round-robin + eager checkpoint of the batch frame (the
    # serialize-killer defense: the scan is 1 task and the ×nlist pair
    # stream of the assign is CPU-heavy interpreted-HOF dots)
    par = spark.sparkContext.defaultParallelism
    eb = e.filter(is_batch).repartition(par).localCheckpoint()
    batch_assigned = eb.select("vec_id", "v", "nrm").join(
        _ivf_assign(eb, cents_store), "vec_id"
    )
    merged = post_store.select("vec_id", "v", "nrm", "cell").unionByName(
        batch_assigned
    )
    stats = post_store.agg(
        F.count(F.lit(1)).cast("bigint").alias("index_vecs")
    ).crossJoin(
        F.broadcast(
            batch_assigned.agg(
                F.count(F.lit(1)).cast("bigint").alias("ingested_vecs")
            )
        )
    )
    return (
        _probe_topk(merged, _ivf_probes(e, cents_store), "cell")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "vec_id", "score", "rank",
                "index_vecs", "ingested_vecs")
    )
