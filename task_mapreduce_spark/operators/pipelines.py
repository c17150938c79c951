"""End-to-end composite pipelines: multiple registered operators
CHAINED as one plan — the proof that the surface composes the way a
production pipeline uses it, with Catalyst optimizing across the
stage boundaries (filters from a later stage push below an earlier
stage's projections; one shuffle serves adjacent stages keyed alike).

- ``pipeline_corpus_e2e`` — the canonical pre-training data pass:
  quality gate → exact dedup → deterministic split → per-(split, lang)
  accounting.  Each stage is the registered operator's logic applied
  in sequence (gate = corpus_filter's length screen, dedup =
  dedup_exact's min-id-per-digest, split = split_train_test's
  ``split_of``), composed as ONE declarative plan.
- ``pipeline_events_e2e`` — the product-analytics pass: sessionize
  (imported from the registered operator, literally the same function)
  → per-user engagement → session-count distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from task_mapreduce_spark.operators.corpus_tools import (
    _RRF_K,
    _rrf_score,
    split_of,
    text_bm25,
)
from task_mapreduce_spark.operators.cosine import _normed_vectors, _probe_scores
from task_mapreduce_spark.operators.training_pipeline import sessionize_events
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load

_MIN_TOKENS = 40  # the corpus gate: drop stubs below 40 tokens


@register(
    "pipeline_corpus_e2e",
    oracle=f"""
    WITH gated AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_MIN_TOKENS}
    ),
    canon AS (
      SELECT MIN(doc_id) AS keep
      FROM gated GROUP BY sha256(lower(trim(text)))
    ),
    kept AS (
      SELECT g.* FROM gated g JOIN canon c ON g.doc_id = c.keep
    )
    SELECT CASE WHEN b < 8 THEN 'train'
                WHEN b = 8 THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens_total
    FROM (
      SELECT lang, n_toks,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10
               AS b
      FROM kept
    )
    GROUP BY split, lang
    """,
)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep end-to-end: length gate → exact dedup (min doc_id
    per normalized sha256 digest) → portable-hash 80/10/10 split →
    per-(split, lang) document/token accounting.

    The composition is the point: the gate is a scan-side filter, so
    the dedup window hashes only surviving docs; the dedup shuffle
    carries (digest, id, n_toks) — never text — and the final
    accounting is a tiny hash-agg.  One narrow scan, one digest-keyed
    shuffle, one 15-group agg: the whole pre-training pass costs ONE
    pass over the corpus at 100 TB, which is why these stages belong
    in one engine instead of three jobs with parquet hops between."""
    d = load(spark, sf_dir, "documents")
    gated = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ")).alias("n_toks"),
    ).filter(F.col("n_toks") >= _MIN_TOKENS)
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    w = Window.partitionBy("h").orderBy("doc_id")
    kept = (
        gated.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return kept.groupBy(split_of("doc_id").alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens_total"),
    )


@register(
    "pipeline_events_e2e",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, us,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM m
    ),
    sess AS (
      SELECT user_id, session_seq, COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_seq
    ),
    users AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(n_events) AS BIGINT) AS total_events
      FROM sess GROUP BY user_id
    )
    SELECT n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(total_events) AS DOUBLE) / COUNT(*) AS avg_events_per_user
    FROM users
    GROUP BY n_sessions
    ORDER BY n_sessions
    """,
)
def pipeline_events_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement distribution end-to-end, composed ON TOP of the
    registered ``sessionize_events`` operator (the same function,
    imported — not a re-implementation): sessions → per-user
    engagement → how many users have N sessions, with their average
    event volume.

    Composition shape: sessionize's one user-keyed shuffle+sort feeds
    a per-user hash-agg that is ALREADY partitioned by user_id (no new
    exchange), and the final distribution is a |distinct session
    counts|-sized agg — metadata.  The integer division avg is exact
    IEEE on identical operands, so no rounding is needed for parity."""
    sess = sessionize_events(spark, sf_dir)
    users = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
    )
    return (
        users.groupBy("n_sessions")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (
                F.sum("total_events").cast("double") / F.count(F.lit(1))
            ).alias("avg_events_per_user"),
        )
        .orderBy("n_sessions")
    )


# ---------------------------------------------------------------------------
# pipeline_retrieval_e2e — hybrid retrieval: BM25 ∪ vector ANN → RRF fusion
# ---------------------------------------------------------------------------

_FUSE_TOPK = 10
_QUERY_VEC = 0       # embeddings.vec_id 0 is the standing query vector


@register(
    "pipeline_retrieval_e2e",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS doclen FROM docs),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(doclen) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
      WHERE tok IN ('hash', 'join', 'scan')
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    parts AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doclen / stats.avgdl)),
               9) AS DECIMAL(18,9)) AS part_score
      FROM tf
      JOIN df ON df.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY ROUND(CAST(SUM(part_score) AS DOUBLE), 6) DESC, doc_id
             ) AS INTEGER) AS lex_rank
      FROM parts GROUP BY doc_id
      QUALIFY lex_rank <= 20
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE vec_id = {_QUERY_VEC}),
    vec AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY round(list_cosine_similarity(e.v, qv.q), 6) DESC, vec_id
             ) AS INTEGER) AS vec_rank
      FROM e CROSS JOIN qv
      WHERE vec_id <> {_QUERY_VEC}
      QUALIFY vec_rank <= 20
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                 + COALESCE(1.0 / ({_RRF_K} + v.vec_rank), 0), 9) AS rrf,
             (l.doc_id IS NOT NULL) AS in_lexical,
             (v.doc_id IS NOT NULL) AS in_vector
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, rrf, in_lexical, in_vector,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
             AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_FUSE_TOPK}
    """,
)
def pipeline_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval end-to-end: the registered BM25 operator's
    top-20 (imported, not re-implemented) fused with an exact-cosine
    vector top-20 by reciprocal-rank fusion (k=60) — the standard
    two-tower retrieval layout, as ONE declarative plan.

    Composition shape: both retrieval arms are independent subplans
    over different tables (documents / embeddings) that Catalyst
    schedules concurrently; each collapses to a ≤20-row ranked list,
    so the fusion full-outer join and the final top-10 window are
    metadata-sized regardless of corpus scale.  Ranks fuse, not raw
    scores — RRF needs no cross-arm score calibration, which is why
    it's the production default.  Determinism: both arm ranks break
    ties on doc_id, the vector arm scores with sim_search_topk's probe
    scorer, the fusion is retrieval_fuse_rrf's ``_rrf_score``, and the
    fused rank breaks ties on doc_id again.

    At 100 TB: the lexical arm scales as text_bm25 (term-filtered
    explosion), the vector arm as sim_search_topk/ann (bucketed
    scoring); fusion cost is constant.  Swapping the exact-cosine arm
    for sim_search_ann's LSH buckets changes recall, not this plan's
    shape."""
    lex = text_bm25(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == _QUERY_VEC).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # top-k via orderBy+limit (TakeOrderedAndProject) BEFORE the rank
    # window — an unpartitioned window would funnel the whole corpus
    # through one task; the window then ranks only the 20 survivors.
    w_vec = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    vec = (
        _probe_scores(e.crossJoin(F.broadcast(q)))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(20)
        .withColumn("vec_rank", F.row_number().over(w_vec).cast("int"))
        .select(F.col("vec_id").alias("doc_id"), "vec_rank")
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            _rrf_score("lex_rank", "vec_rank").alias("rrf"),
            F.col("lex_rank").isNotNull().alias("in_lexical"),
            F.col("vec_rank").isNotNull().alias("in_vector"),
        )
    )
    w_f = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_FUSE_TOPK)
        .withColumn("fused_rank", F.row_number().over(w_f).cast("int"))
    )
