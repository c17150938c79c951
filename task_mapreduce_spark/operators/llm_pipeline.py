"""LLM-training-data pipeline operators (SURVEY.md §2.10 — mandated
extension): dedup, similarity search, text analysis, multimodal columns
over the ``documents`` / ``embeddings`` tables.

Everything is declarative DataFrame composition — no pyspark.ml
dependency, no Python row path — so each operator inherits Catalyst's
pushdown/pruning and scales by partitioning alone:

- ``dedup_exact``: hash-groupBy. One shuffle on the 256-bit digest.
- ``dedup_near_minhash``: shingle → minhash signature → LSH banding →
  bucket-join candidates → exact-Jaccard verify.  The all-pairs cross
  join NEVER happens; candidate generation is a self-join on
  (band, band_hash), i.e. only colliding docs meet.  Deterministic:
  every hash is seeded xxhash64, no RNG.
- ``sim_search_topk``: exact brute-force cosine — correct baseline;
  the scale path is the same plan with the probe side bucketed by a
  random-projection LSH (see sim_search_ann below at the bottom of
  this module), keeping per-task candidate sets bounded.
- rounding discipline: every transcendental (ln) or float-fold
  (cosine) output is rounded identically on both engines, because the
  two runtimes' libm/SIMD orders differ at the ulp level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from task_mapreduce_spark.functions.exact import davg, sql_davg
# corpus_tools first imports this module while it registers its keys
# (retrieval_eval_rank's oracle), so _tfidf must sit above that point.
from task_mapreduce_spark.operators.corpus_tools import _tfidf
from task_mapreduce_spark.operators.cosine import (
    _ANN_N_QUERIES,
    _ANN_TOP_K,
    _normed_vectors,
    _probe_scores,
    _probes,
    _top_scores,
)
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, h FROM (
      SELECT doc_id,
             sha256(lower(trim(text))) AS h,
             row_number() OVER (PARTITION BY sha256(lower(trim(text)))
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content hash, keeping the lowest doc_id
    per duplicate class.  At 100 TB: the shuffle carries (digest,
    doc_id) pairs only — never the text — and the window is per-digest
    (tiny groups), so this is one cheap shuffle end-to-end."""
    d = load(spark, sf_dir, "documents")
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "h")
    )


_N_HASHES = 32          # minhash signature length
_N_BANDS = 8            # 8 bands × 4 rows: catches J≈0.5 pairs w.h.p.
_ROWS_PER_BAND = 4
_JACCARD_T = 0.5
_MAX_BUCKET = 64        # cap quadratic pair expansion per LSH bucket


def _shingles(d: DataFrame) -> DataFrame:
    """doc_id → distinct word-bigram shingles (set semantics).

    Single-token docs fall back to their token set: sequence(0, -1)
    would otherwise produce [0, -1] and element_at(toks, 0) aborts the
    whole job under ANSI semantics.

    The raw docs are round-robin repartitioned FIRST (explicit-COUNT,
    AQE-exempt — the CLAUDE.md serialize-killer defense): the documents
    fixture is one parquet file, so the per-doc shingle construction
    (split + bigram transform + in-row distinct, the CPU-heavy part of
    every consumer) otherwise runs on a single task.  The shuffle moves
    only the raw text rows (~600 KB at sf0.1) and the checkpointed
    frame every dedup key consumes inherits the 32-way spread
    (dedup_near_minhash's shingle stage measured 3.0 s → 0.4 s)."""
    toks = F.split("text", " ")
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
        )
    )
    sh = F.when(F.size(toks) >= 2, bigrams).otherwise(F.array_distinct(toks))
    par = d.sparkSession.sparkContext.defaultParallelism
    return d.repartition(par).select("doc_id", sh.alias("shingles"))


def minhash_edges(
    d: DataFrame,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup edge list (a, b) with a < b — the shared
    candidate-generation + verification pipeline behind
    ``dedup_near_minhash`` (1-hop clusters) and ``dedup_cluster_cc``
    (full connected components, operators/llm_extras.py).  Pass a
    precomputed (ideally localCheckpoint'd) shingle frame to share the
    tokenization scan with sibling pipelines.

    The verify stage DELIBERATELY recomputes the array Jaccard instead
    of semi-joining against dedup_near_minhash's exact pair list, even
    though the latter is cheaper: ``lsh_consistent``'s whole value is
    that the LSH edge set is derived INDEPENDENTLY of the exact
    certificate, so a bug in either Jaccard implementation breaks the
    subset property and the oracle catches it.  A shared verify would
    make the certificate bit true by construction — vacuous.  (Tried
    in round 4, reverted by review.)"""
    if sh is None:
        sh = _shingles(d)
    hashed = sh.select(
        "doc_id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs")
    )

    def perm_min(j: int):
        # j captured via closure scope, NOT a defaulted lambda param: a
        # 2-param lambda is treated by Spark as (element, index) and the
        # seed would silently become the array index.
        return F.array_min(F.transform("hs", lambda h: F.xxhash64(F.lit(j), h)))

    sig = hashed.select(
        "doc_id", *[perm_min(j).alias(f"h{j}") for j in range(_N_HASHES)]
    )
    # All 8 band keys in ONE pass over the signature (an explode of a
    # struct array) — a union of 8 selects would re-run the shingle
    # hashing once per band.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * _ROWS_PER_BAND + i}") for i in range(_ROWS_PER_BAND)]
                ).alias("band_hash"),
            )
            for b in range(_N_BANDS)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash")
    )
    # Candidate pairs via ONE groupBy on the bucket key (a self-join
    # would re-run the whole signature pipeline once per branch).  Pair
    # expansion happens inside the row on the per-bucket id list, which
    # LSH keeps small; degenerate buckets (> _MAX_BUCKET ids — e.g.
    # boilerplate shared by thousands of docs) are dropped: their
    # members are near-identical, which exact dedup already covers, and
    # expanding them would be quadratic.
    ids = F.array_sort(F.collect_list("doc_id"))
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    cand = (
        buckets.groupBy("band", "band_hash")
        .agg(ids.alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _MAX_BUCKET))
        .select(F.explode(combos).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b"))
    # Union-free J ≥ 1/2 verify (round-14 optimization): for distinct
    # shingle sets |A∪B| = n_a + n_b − |A∩B| exactly, so
    # J ≥ _JACCARD_T (= 1/2) ⇔ 3·inter ≥ n_a + n_b — same decision,
    # integer arithmetic, and no union ARRAY built per candidate pair.
    # The clamps' job (legacy-sizeOfNull builds: size(NULL) is -1 and
    # a NULL-shingle pair would verify at (-1)/(-1) = 1.0 while the
    # exact certificate side drops those rows at its inner joins) is
    # taken over by the n ≥ 1 guards: the degenerate pair fails n ≥ 1
    # on legacy builds and NULL-compares on modern ones, keeping
    # LSH ⊆ exact on every build (the sort_global guard's twin).
    # Genuine pairs are unaffected — a real shingle set is never
    # smaller than 1.
    inter = F.greatest(
        F.size(F.array_intersect("sh_a", "sh_b")), F.lit(0)
    ).cast("long")
    na = F.size("sh_a").cast("long")
    nb = F.size("sh_b").cast("long")
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .filter((F.lit(3) * inter >= na + nb) & (na >= 1) & (nb >= 1))
        .select("a", "b")
    )


_BITMAP_VOCAB_MAX = 4096  # dictionary-bitmap path while vocab fits 64 longs
_BITMAP_BCAST_BYTES_MAX = 32 << 20  # packed-table broadcast budget (est.)


def _exact_shingle_pairs(sh: DataFrame, with_counts: bool = False) -> DataFrame:
    """EXACT shingle-Jaccard ≥ _JACCARD_T edge list (a < b) — the
    ground-truth side of dedup_near_minhash's certificate.  J ≥ 1/2 is
    evaluated as the integer test 3·|A∩B| ≥ n_a + n_b; the integer
    size bound 2·min ≥ max prunes pairs first.  With
    ``with_counts=True`` the output carries the exact intersection and
    union sizes ``(a, b, c, u)`` both physical paths already hold in
    hand (bitmap: popcount overlap; count join: the COUNT itself, with
    u = n_a + n_b − c — exact for distinct shingle sets) — so a
    consumer needing the exact Jaccard (dedup_eval_prf's J bands)
    reads it here instead of re-joining the shingle arrays onto the
    pair list and recomputing array_intersect/array_union per pair
    (round-14 optimization: two |pairs|-row array joins removed).
    The physical strategy is picked from a vocabulary statistic,
    AQE-style:

    - SMALL VOCABULARY (≤ _BITMAP_VOCAB_MAX distinct shingles — true
      of the fixture corpus, whose synthetic vocabulary saturates near
      1k): build a dense token dictionary, pack each doc's shingle set
      into ⌈V/64⌉ LONG columns, and join docs on a size-band key
      (J ≥ 1/2 forces |log2 n_a − log2 n_b| ≤ 1, so band/band±1 is a
      complete equi-join, the binned-range-join pattern) with overlap
      = Σ bit_count(a_w & b_w) — whole-stage-codegen bit arithmetic,
      no arrays shuffled, 3× faster than the count join below and 12×
      faster than shuffling shingle arrays to candidates.
    - LARGE VOCABULARY: inverted-index count join — explode postings,
      equi-join on the shingle, COUNT shared shingles per pair.
      Per-shingle cost is quadratic in posting length; fine for a
      certificate, and the production path at 100 TB is the LSH
      pipeline this certifies (agg_approx_distinct's exact
      countDistinct beside the sketch, same pattern).

    The vocabulary count is a one-scalar metadata aggregate (the
    sort_global precedent).  ``explode_outer`` per the repo invariant
    (array_distinct shingles are not size-preserving); inner joins
    drop the null rows."""
    tok = sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode_outer("shingles").alias("token")
    )
    # The bitmap band join BROADCASTS the full |corpus|-row packed
    # table (ndocs × (⌈V/64⌉ + 3) longs), so the path is gated on BOTH
    # statistics: vocabulary width AND estimated packed size.  Above
    # the broadcast budget the inverted-index count join below takes
    # over — fully shuffle-based, no |corpus|-bound broadcast.  Both
    # stats ride ONE gating job (the _cell_join_sides pattern): the
    # 1-row vocab aggregate cross-joined with the 1-row corpus count,
    # whose subplan Catalyst prunes to a row count of documents — no
    # shingle recompute, no second job round-trip.
    stats = (
        tok.select("token")
        .distinct()
        .agg(F.count(F.lit(1)).alias("nvocab"))
        .crossJoin(sh.agg(F.count(F.lit(1)).alias("ndocs")))
        .first()
    )
    nvocab, ndocs = stats["nvocab"], stats["ndocs"]
    nw_est = (nvocab + 63) // 64
    if nvocab <= _BITMAP_VOCAB_MAX and (
        ndocs * (nw_est + 3) * 8 <= _BITMAP_BCAST_BYTES_MAX
    ):
        nw = nw_est
        dictionary = (
            tok.select("token")
            .distinct()
            .withColumn("id", F.row_number().over(Window.orderBy("token")) - 1)
        )
        bits = (
            tok.join(F.broadcast(dictionary), "token")
            .groupBy("doc_id")
            .agg(
                F.max("n").alias("n"),
                *[
                    F.expr(
                        f"bit_or(CASE WHEN id div 64 = {w} THEN "
                        "shiftleft(1L, cast(id % 64 AS INT)) ELSE 0L END)"
                    ).alias(f"w{w}")
                    for w in range(nw)
                ],
            )
            .withColumn("band", F.floor(F.log2("n")).cast("int"))
            # both join sides (probe AND broadcast build) read this
            # frame — checkpoint so the dictionary join + bit packing
            # runs once, not once per side
            .localCheckpoint()
        )
        pa = bits.select(
            F.col("doc_id").alias("a"),
            F.col("n").alias("n_a"),
            F.explode(
                F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
            ).alias("jb"),
            *[F.col(f"w{w}").alias(f"a{w}") for w in range(nw)],
        )
        pb = bits.select(
            F.col("doc_id").alias("b"),
            F.col("n").alias("n_b"),
            F.col("band").alias("jb"),
            *[F.col(f"w{w}").alias(f"b{w}") for w in range(nw)],
        )
        # lit(0) seed keeps the empty-corpus case (nw == 0) executable
        overlap = F.lit(0)
        for w in range(nw):
            overlap = overlap + F.bit_count(
                F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))
            )
        # The band join's build side is the FULL packed table — bytes
        # bounded by the _BITMAP_BCAST_BYTES_MAX gate above, never
        # assumed small — but quadratic in per-row CPU inside a band,
        # the shape AQE coalesces onto ONE task (CLAUDE.md invariant).
        # And the band key has only ~log2(len-spread) distinct values,
        # so a key repartition can't spread it either.  Fix both at
        # once: round-robin REPARTITION_BY_NUM the probe side (AQE-
        # exempt, key-free) and BROADCAST the build side — the join
        # needs no co-partitioning, and every core gets an equal slice
        # of the bit-intersection work.
        par = sh.sparkSession.sparkContext.defaultParallelism
        extra_bm = (
            [
                overlap.cast("long").alias("c"),
                (F.col("n_a") + F.col("n_b") - overlap).cast("long").alias("u"),
            ]
            if with_counts
            else []
        )
        return (
            pa.repartition(par)
            .join(F.broadcast(pb), "jb")
            .filter(
                (F.col("a") < F.col("b"))
                & (2 * F.least("n_a", "n_b") >= F.greatest("n_a", "n_b"))
            )
            .filter(3 * overlap >= F.col("n_a") + F.col("n_b"))
            .select("a", "b", *extra_bm)
        )
    a = tok.select(F.col("doc_id").alias("a"), F.col("n").alias("n_a"), "token")
    b = tok.select(F.col("doc_id").alias("b"), F.col("n").alias("n_b"), "token")
    extra_cj = (
        [
            F.col("c").cast("long").alias("c"),
            (F.col("n_a") + F.col("n_b") - F.col("c")).cast("long").alias("u"),
        ]
        if with_counts
        else []
    )
    return (
        a.join(b, "token")
        .filter(
            (F.col("a") < F.col("b"))
            & (2 * F.least("n_a", "n_b") >= F.greatest("n_a", "n_b"))
        )
        .groupBy("a", "b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(3 * F.col("c") >= F.col("n_a") + F.col("n_b"))
        .select("a", "b", *extra_cj)
    )


_MINHASH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents
    ),
    sh AS (
      -- bigrams over the RAW token sequence (dedup applies to the
      -- shingle set, not the tokens), matching Spark's _shingles

      SELECT doc_id,
             CASE WHEN len(toks) >= 2 THEN
               list_distinct(list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1]))
             ELSE list_distinct(toks) END AS shingles
      FROM t
    ),
    ex AS (
      SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ),
    -- inverted-index join: |A ∩ B| = COUNT(*) over shared shingles
    -- (shingle lists are distinct), so J ≥ 1/2 ⇔ 3c ≥ n_a + n_b —
    -- integer-exact and ~60× faster than all-pairs list_intersect
    e AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
      WHERE 2 * least(x.n, y.n) >= greatest(x.n, y.n)
      GROUP BY x.doc_id, y.doc_id, x.n, y.n
      HAVING 3 * COUNT(*) >= x.n + y.n
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    neigh AS (
      SELECT a AS doc_id, MIN(b) AS min_nb, COUNT(*) AS n_dups
      FROM sym GROUP BY a
    )
    SELECT d.doc_id,
           CAST(LEAST(d.doc_id, COALESCE(n.min_nb, d.doc_id)) AS BIGINT)
             AS cluster_id,
           CAST(COALESCE(n.n_dups, 0) AS BIGINT) AS n_dups,
           TRUE AS lsh_consistent
    FROM documents d LEFT JOIN neigh n USING (doc_id)
    """


@register("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: minhash + LSH banding + exact verify, with
    an exact-ground-truth certificate (agg_approx_distinct's pattern).

    LSH pipeline (all distributed, no cross join):
      1. shingle: word bigrams per doc (set semantics);
      2. signature: 32 seeded-xxhash64 min-hashes per doc — a narrow
         projection (array_min ∘ transform), zero shuffle;
      3. banding: 8 bands × 4 mins; band key = hash of the 4 mins.
         Docs agreeing on any band collide in a bucket;
      4. candidates: one groupBy on (band, band_hash), pairs expanded
         in-row from the per-bucket id list (capped at _MAX_BUCKET);
      5. verify: exact Jaccard over shingle sets for candidates only;
      6. cluster id: min doc_id over verified neighbors (1-hop).

    The value-checked columns are the EXACT 1-hop clustering over the
    Jaccard ≥ 0.5 relation (computed via the lossless prefix filter,
    :func:`_exact_shingle_pairs` — the oracle reproduces it by an
    all-pairs join at oracle scale), plus ``lsh_consistent``: because
    every LSH edge passes the same exact-Jaccard verify, the LSH edge
    set is a SUBSET of ground truth, so its min-label can only be ≥ and
    its degree ≤ — the oracle demands TRUE, which certifies the LSH
    verify stage end-to-end.  LSH recall itself stays golden-tested
    (tests/test_llm_pipeline.py).  At 100 TB the production plan is the
    LSH columns alone — drop the exact side and its candidate join goes
    with it, exactly like agg_approx_distinct drops its countDistinct.
    """
    d = load(spark, sf_dir, "documents")
    # One shingle scan feeds FIVE consumers (vocab stat, dictionary,
    # bitmap build, LSH signatures, LSH verify) — checkpoint it once.
    sh = _shingles(d).localCheckpoint()
    # the exact pair list symmetrizes into two union branches inside
    # edges_to_clusters — checkpoint so the bitmap band join runs once
    exact_pairs = _exact_shingle_pairs(sh).localCheckpoint()
    exact = edges_to_clusters(d, exact_pairs)
    # NOTE: minhash_edges verifies with its OWN array-Jaccard pass, NOT
    # against exact_pairs — the independence is what makes the
    # lsh_consistent certificate falsifiable (see minhash_edges).  The
    # edge list checkpoints for the same reason exact_pairs does: it
    # symmetrizes into two union branches inside edges_to_clusters.
    lsh = edges_to_clusters(d, minhash_edges(d, sh).localCheckpoint()).select(
        F.col("doc_id").alias("l_doc_id"),
        F.col("cluster_id").alias("l_cluster_id"),
        F.col("n_dups").alias("l_n_dups"),
    )
    return exact.join(lsh, exact.doc_id == lsh.l_doc_id).select(
        "doc_id",
        "cluster_id",
        "n_dups",
        (
            (F.col("l_cluster_id") >= F.col("cluster_id"))
            & (F.col("l_n_dups") <= F.col("n_dups"))
        ).alias("lsh_consistent"),
    )


def edges_to_clusters(d: DataFrame, verified: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, n_dups) from a verified (a, b) edge list:
    symmetrize, take the 1-hop min-neighbor label, left-join back so
    every doc gets a row.  Shared by dedup_near_minhash and
    dedup_simhash; dedup_cluster_cc replaces the 1-hop label with the
    true transitive closure."""
    edges = verified.unionByName(
        verified.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    neigh = edges.groupBy("a").agg(
        F.min("b").alias("min_nb"), F.count(F.lit(1)).alias("n_dups")
    )
    return (
        d.select("doc_id")
        .join(neigh, d.doc_id == neigh.a, "left")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("min_nb", F.col("doc_id"))).alias(
                "cluster_id"
            ),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "sim_search_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_ANN_N_QUERIES}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qv, e.ev), 6) AS score
      FROM q CROSS JOIN e
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, score, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {_ANN_TOP_K}
    """,
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for a small probe set: probe side
    BROADCAST, corpus streams — per-executor work is |corpus_partition|
    × |probes|, embarrassingly parallel, and the per-query top-k is a
    windowed rank on (query, score).  Scores are computed in double via
    higher-order functions (zip_with + aggregate, JVM codegen) and
    rounded to 6 places on both engines (SIMD fold order is an ulp
    apart).  For the 100 TB / large-probe-set path see sim_search_ann:
    same plan, but both sides pre-bucketed by random-projection LSH so
    each task only scores its bucket.  The probe set, the scorer and the
    rank window are ``operators/cosine.py``'s, shared with every ANN arm
    graded against this key."""
    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    scored = _probe_scores(e.crossJoin(F.broadcast(_probes(e))))
    return _top_scores(scored, _ANN_TOP_K)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {sql_davg('n_chars')} AS avg_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per language: doc counts, token counts (whitespace
    tokenizer — the word-count map), char totals, source fan-in.  One
    hash-agg over ~10 language groups: the 100 TB shape."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        davg("n_chars").alias("avg_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY source, token
    ),
    df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.source, tf.token, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-vector per source (Dean & Ghemawat §2.3's "term-vector per
    host"): tf per (source, token), idf from document frequency, both
    from one token shuffle (:func:`corpus_tools._tfidf`)."""
    return _tfidf(spark, sf_dir, "source")


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@register(
    "multimodal_columns",
    oracle="""
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           d.lang AS meta_lang,
           d.source AS meta_source,
           CAST(d.n_chars AS BIGINT) AS meta_chars,
           CAST(len(e.embedding) AS BIGINT) AS dim,
           CAST(e.label AS BIGINT) AS label,
           round(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x))), 6)
             AS l2_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def multimodal_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row shape: text re-encoded as an opaque BINARY payload
    column + typed metadata struct + vector column, joined across
    modality tables by id.  This is the schema pattern for image/audio
    blobs at 100 TB: payload stays opaque bytes (never parsed JVM-side),
    metadata is a first-class struct Catalyst can prune/push, and the
    modality join is a plain equi-join.  Decode/feature-extraction over
    the payload is mm_decode_features (mapInPandas, Arrow-batched)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    payload = F.encode(F.col("text"), "UTF-8")
    meta = F.struct(
        F.col("lang").alias("lang"),
        F.col("source").alias("source"),
        F.col("n_chars").alias("n_chars"),
    )
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        d.select("doc_id", payload.alias("payload"), meta.alias("meta"))
        .join(e, F.col("doc_id") == e.vec_id)
        .select(
            "doc_id",
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
            F.col("meta.lang").alias("meta_lang"),
            F.col("meta.source").alias("meta_source"),
            F.col("meta.n_chars").cast("bigint").alias("meta_chars"),
            F.size("embedding").cast("bigint").alias("dim"),
            F.col("label").cast("bigint").alias("label"),
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.transform(dv, lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                6,
            ).alias("l2_norm"),
        )
    )
