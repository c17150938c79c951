"""Corpus-management operators a training-data pipeline runs between
ingest and tokenization: language identification, deterministic
train/valid/test splitting, and PII redaction.

All three are mandated LLM-pipeline surface (SURVEY.md §2.10): the
driver brief names language-ID explicitly; splits and redaction are
the governance steps every corpus pass ends with.

Scale notes (SCALE.md "corpus tools"):

- ``text_langid``  — the learned profile is 5 langs × 20 tokens
  (O(1)), so classification is corpus-scan ⋈ broadcast(profile):
  the 100 TB corpus shuffles only (doc_id, lang, candidate) partial
  score rows, never text.  Training aggregates (lang, token) counts
  with map-side combine — bounded by vocabulary, not corpus size.
- ``split_train_test`` — a pure deterministic hash map (no RNG, no
  state), so the split is reproducible across engines, runs, and
  backfills; adding data never reassigns an existing document.
- ``pii_redact``   — a narrow regex map that stays inside
  WholeStageCodegen; at scale it is I/O-bound, exactly what you want
  for a full-corpus scrub pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from task_mapreduce_spark.functions.hashing import hash48
from task_mapreduce_spark.operators import rounds
from task_mapreduce_spark.operators.cosine import (
    _ANN_N_QUERIES,
    _ANN_TOP_K,
    _normed_vectors,
    _probe_scores,
    _probes,
    _top_scores,
)
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load, row_count

# Top-K tokens kept per language profile; 5 test docs in 5 langs keep
# K*langs = 100 profile rows — broadcastable at ANY corpus size since
# it is bounded by vocabulary rank, not document count.
_LANGID_TOPK = 20


@register(
    "text_langid",
    oracle=f"""
    WITH train AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 5 <> 0
    ),
    prof AS (
      SELECT lang AS cand_lang, tok, COUNT(*) AS c
      FROM train
      GROUP BY lang, tok
      QUALIFY row_number()
        OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tok) <= {_LANGID_TOPK}
    ),
    test AS (
      SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 5 = 0
    ),
    scores AS (
      SELECT t.doc_id, t.true_lang, p.cand_lang, SUM(p.c) AS score
      FROM test t JOIN prof p ON t.tok = p.tok
      GROUP BY t.doc_id, t.true_lang, p.cand_lang
    )
    SELECT doc_id, cand_lang AS pred_lang, true_lang,
           (cand_lang = true_lang) AS is_correct
    FROM scores
    QUALIFY row_number()
      OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) = 1
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language identification, trained on the corpus
    itself: an 80% split (doc_id % 5 != 0) builds per-language
    top-K token-frequency profiles; the 20% holdout is classified by
    summed profile weight (argmax, ties broken by language name so the
    result is deterministic).

    The unigram profile is the degenerate-n case of Cavnar & Trenkle's
    classic n-gram rank profiling — the fixture corpus is
    space-tokenized, so tokens ARE the n-grams.  Both ranking windows
    order by (count DESC, token ASC): a unique sort key, per the
    repo-wide determinism invariant."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    train = docs.filter(F.col("doc_id") % 5 != 0).select(
        "lang", F.explode(toks).alias("tok")
    )
    counts = train.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tok"))
    prof = (
        counts.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _LANGID_TOPK)
        .select(F.col("lang").alias("cand_lang"), "tok", "c")
    )
    test = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), F.explode(toks).alias("tok")
    )
    scores = (
        test.join(F.broadcast(prof), "tok")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum("c").alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand_lang")
    )
    return (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cand_lang").alias("pred_lang"),
            "true_lang",
            (F.col("cand_lang") == F.col("true_lang")).alias("is_correct"),
        )
    )


def split_of(doc_id: Column | str) -> Column:
    """The 80/10/10 train/valid/test split of a document id: its
    portable 48-bit hash mod 10 (``functions.hashing.hash48``), 0-7
    train, 8 valid, 9 test.  split_train_test, pipeline_corpus_e2e and
    split_leakage_report all split by it."""
    b = hash48(doc_id) % 10
    return F.when(b < 8, "train").when(b == 8, "valid").otherwise("test")


@register(
    "split_train_test",
    oracle="""
    SELECT CASE WHEN b < 8 THEN 'train'
                WHEN b = 8 THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10
               AS b
      FROM documents
    )
    GROUP BY split, lang
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by portable
    48-bit md5 hash of the document id, summarized per (split, lang)
    so stratification skew is visible at a glance.

    Hash-based (not random) splitting is the production discipline:
    the assignment is a pure function of the id, so re-runs, engine
    swaps, and incremental backfills can never leak a document across
    splits.  The rule is :func:`split_of`."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(split_of("doc_id").alias("split"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


# Digit runs of 6+ look like account numbers — the redaction target in
# the fixture's ``Customer#000000042`` names.  One pattern string shared
# by matcher and counter so they can never drift apart.
_PII_PATTERN = "[0-9]{6,}"


@register(
    "pii_redact",
    oracle=f"""
    SELECT c_custkey,
           regexp_replace(c_name, '{_PII_PATTERN}', '[ACCT]', 'g') AS name_redacted,
           CAST(len(regexp_extract_all(c_name, '{_PII_PATTERN}')) AS INTEGER)
             AS n_redacted
    FROM customer
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: mask account-number-like digit runs in customer
    names, reporting per-row how many spans were masked (the audit
    column a governance pipeline logs).

    Engine notes: Spark ``regexp_replace`` is replace-ALL by default;
    DuckDB needs the explicit ``'g'`` flag (CLAUDE.md invariant).  The
    span count comes from ``regexp_extract_all`` so the matcher and
    the counter share one pattern.  The whole op is a stateless narrow
    map — streaming-safe, and at 100 TB it runs at scan speed inside
    WholeStageCodegen with no shuffle at all."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), _PII_PATTERN, "[ACCT]").alias(
            "name_redacted"
        ),
        F.size(F.regexp_extract_all(F.col("c_name"), F.lit(_PII_PATTERN), 0))
        .cast("int")
        .alias("n_redacted"),
    )


# ---------------------------------------------------------------------------
# text_bm25 — Okapi BM25 retrieval scoring (top-k docs for a token query)
# ---------------------------------------------------------------------------

_BM25_QUERY = ("hash", "join", "scan")   # the standing query's terms
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_corpus(d: DataFrame):
    """``(docs, dl, stats)``, BM25's corpus stage over the documents
    frame ``d``: token arrays ``(doc_id, toks)``, doc lengths
    ``(doc_id, doclen)`` and the one-row ``(n_docs, avgdl)``."""
    docs = d.select("doc_id", F.split("text", " ").alias("toks"))
    dl = docs.select("doc_id", F.size("toks").alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("doclen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return docs, dl, stats


def _bm25_scores(hits: DataFrame, dl, stats, fan=lambda tf: tf, by=()) -> DataFrame:
    """``(*by, doc_id, bm25)``: Okapi BM25 (k1=1.2, b=0.75, Lucene's
    +1-inside-ln idf) over ``hits``, the ``(doc_id, tok)`` token rows a
    key's term filter kept.  ``fan`` maps the ``(doc_id, tok, tf)`` rows
    to the rows scored; retrieval_fuse_rrf fans them out to the queries
    holding each term, scored ``by`` query_id.

    Determinism discipline for a transcendental score: each (doc, term)
    part is rounded to 9 decimals and cast to DECIMAL(18,9) BEFORE the
    per-doc sum (exact, order-independent; a double fold would be
    merge-order-dependent), and the sum is rounded to 6.  df and the
    corpus stats are tiny aggregates broadcast back."""
    tf = hits.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    part = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avgdl"))
        ),
        9,
    ).cast("decimal(18,9)")
    parts = (
        fan(tf)
        .join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(*by, "doc_id", part.alias("part_score"))
    )
    return parts.groupBy(*by, "doc_id").agg(
        F.round(F.sum("part_score").cast("double"), 6).alias("bm25")
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY)
    return f"""
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
      WHERE tok IN ({terms})
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    parts AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * (tf.tf * ({_BM25_K1} + 1))
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                  + {_BM25_B} * dl.doclen / stats.avgdl)),
               9) AS DECIMAL(18,9)) AS part_score
      FROM tf
      JOIN df ON df.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scored AS (
      SELECT doc_id,
             ROUND(CAST(SUM(part_score) AS DOUBLE), 6) AS bm25
      FROM parts GROUP BY doc_id
    )
    SELECT doc_id, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
             AS rank
    FROM scored
    QUALIFY rank <= {_BM25_TOPK}
    """


@register("text_bm25", oracle=_bm25_sql())
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval for a standing token query — the
    lexical half of a retrieval pipeline (the vector half is
    sim_search_topk/ann); k1=1.2, b=0.75, Lucene's +1-inside-ln idf.

    Scoring is :func:`_bm25_scores`; rank ties break on doc_id.

    100 TB shape: the term filter prunes the token explosion to query
    terms ONLY (the shuffle carries |query|·|matching docs| rows, not
    the corpus vocabulary); top-k is a rank window over docs that
    matched ≥ 1 term.  For a standing query SET, the same plan batches
    by adding a query_id column to the terms (retrieval_fuse_rrf)."""
    docs, dl, stats = _bm25_corpus(load(spark, sf_dir, "documents"))
    hits = docs.select("doc_id", F.explode("toks").alias("tok")).filter(
        F.col("tok").isin(list(_BM25_QUERY))
    )
    scored = _bm25_scores(hits, dl, stats)
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: O(k) per
    # partition, no global sort), THEN the rank window over ≤k rows —
    # an unpartitioned window over all matching docs would funnel them
    # through one task at corpus scale.
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# rag_chunk — fixed-size overlapping token chunking (RAG / context prep)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24                 # 8-token overlap between neighbors


@register(
    "rag_chunk",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks), {_CHUNK_STRIDE})) AS start
      FROM docs
    )
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           CAST(len(list_slice(toks, start, start + {_CHUNK_TOKENS} - 1))
                AS INTEGER) AS n_tokens,
           array_to_string(
             list_slice(toks, start, start + {_CHUNK_TOKENS} - 1), ' ')
             AS chunk_text
    FROM starts
    """,
)
def rag_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 32-token chunks every 24
    tokens (8-token overlap), the standard RAG / long-context prep
    step between corpus filtering and embedding.

    Pure in-row array math — `sequence` start positions exploded, each
    chunk sliced out of the SAME token array — so the op is a narrow
    map with no shuffle: at 100 TB it scales with executor count like
    the multimodal decode keys, and the chunk fan-out (~len/stride per
    doc) happens inside the row, never as a join.  The exploded
    `sequence(...)` array is the size-preserving safe case of the
    InferFiltersFromGenerate trap (CLAUDE.md): the inferred
    `size(·)>0` filter constant-folds instead of going quadratic."""
    return _chunk_frame(load(spark, sf_dir, "documents"))


def _chunk_frame(d: DataFrame) -> DataFrame:
    """rag_chunk's in-row decomposition over an arbitrary (doc_id,
    text, ...) frame — factored so the streaming twin (the foreachBatch
    chunk-dedup test) chunks its micro-batches with the IDENTICAL
    rule the batch keys use."""
    docs = d.select("doc_id", F.split("text", " ").alias("toks"))
    starts = docs.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(_CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK_TOKENS)
    return starts.select(
        "doc_id",
        F.expr(f"(start - 1) div {_CHUNK_STRIDE}").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Chunk-level exact dedup (the RAG-ingestion dedup pass)
# ---------------------------------------------------------------------------


@register(
    "dedup_chunks",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks), {_CHUNK_STRIDE})) AS start
      FROM docs
    ),
    ch AS (
      SELECT doc_id,
             CAST((start - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
             sha256(array_to_string(
               list_slice(toks, start, start + {_CHUNK_TOKENS} - 1), ' ')) AS h
      FROM starts
    ),
    own AS (
      SELECT h, doc_id AS odoc, chunk_id AS ochunk FROM (
        SELECT h, doc_id, chunk_id,
               row_number() OVER (PARTITION BY h
                                  ORDER BY doc_id, chunk_id) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT c.doc_id, c.chunk_id, c.h,
           (c.doc_id = o.odoc AND c.chunk_id = o.ochunk) AS keep,
           CASE WHEN c.doc_id = o.odoc AND c.chunk_id = o.ochunk
                THEN NULL ELSE o.odoc END AS dup_of_doc,
           CASE WHEN c.doc_id = o.odoc AND c.chunk_id = o.ochunk
                THEN NULL ELSE o.ochunk END AS dup_of_chunk
    FROM ch c JOIN own o USING (h)
    """,
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup over the :func:`rag_chunk` decomposition
    — the RAG-ingestion pass between chunking and embedding: identical
    chunks (boilerplate spans, duplicated documents, shared headers)
    must be embedded and indexed ONCE, so every chunk is resolved to a
    canonical owner — the (doc_id, chunk_id)-smallest occurrence of its
    content hash — before the embedding stage.  dedup_exact makes this
    decision per DOCUMENT; this key makes it per retrieval unit, which
    is what actually enters the vector index.

    Shape: the chunk stream is rag_chunk's registered decomposition
    (in-row slicing, no shuffle), hashed scan-side with sha256 so the
    TEXT never shuffles (the dedup_exact discipline) — the single
    shuffle is the per-partition ``min(struct(doc_id, chunk_id))``
    window over the 32-byte digest key, tiny groups by construction.
    No join back, no second shuffle: the owner annotates every chunk
    row in the same pass.  At 100 TB this is exactly the dedup_exact
    cost model on ~4× the row count (one chunk per 24 tokens).  The
    oracle replays the decomposition, hashing, and owner pick verbatim
    (row_number form — same values, SQL-clearer)."""
    ch = rag_chunk(spark, sf_dir).select(
        "doc_id", "chunk_id", F.sha2("chunk_text", 256).alias("h")
    )
    w = Window.partitionBy("h")
    own = F.min(F.struct("doc_id", "chunk_id")).over(w)
    keep = (F.col("doc_id") == own["doc_id"]) & (
        F.col("chunk_id") == own["chunk_id"]
    )
    return ch.select(
        "doc_id",
        "chunk_id",
        "h",
        keep.alias("keep"),
        F.when(~keep, own["doc_id"]).alias("dup_of_doc"),
        F.when(~keep, own["chunk_id"]).alias("dup_of_chunk"),
    )


# ---------------------------------------------------------------------------
# Collocation mining: PMI-scored bigrams
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 3  # report the statistically meaningful head


@register(
    "text_collocation_pmi",
    oracle=f"""
    WITH t AS (
      SELECT lang, string_split(text, ' ') AS toks
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    uni AS (
      SELECT lang, unnest(toks) AS token FROM t
    ),
    u AS (
      SELECT lang, token, COUNT(*) AS n_u FROM uni GROUP BY lang, token
    ),
    npairs AS (
      SELECT lang, SUM(len(toks) - 1) AS n_pairs FROM t GROUP BY lang
    ),
    b AS (
      SELECT lang, w1, w2, COUNT(*) AS n FROM (
        SELECT lang,
               unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
               unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
        FROM t
      )
      GROUP BY lang, w1, w2
      HAVING COUNT(*) >= {_PMI_MIN_COUNT}
    )
    SELECT b.lang, b.w1, b.w2, CAST(b.n AS BIGINT) AS n,
           round(ln((CAST(b.n AS DOUBLE) * np.n_pairs)
                    / (CAST(u1.n_u AS DOUBLE) * u2.n_u)), 6) AS pmi
    FROM b
    JOIN u u1 ON u1.lang = b.lang AND u1.token = b.w1
    JOIN u u2 ON u2.lang = b.lang AND u2.token = b.w2
    JOIN npairs np ON np.lang = b.lang
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored bigram collocations per language — the classic
    collocation-mining statistic (Church & Hanks): pmi =
    ln(n_ab·N_pairs / (n_a·n_b)) over unigram counts n_a/n_b and the
    per-language bigram-position total N_pairs, reported for bigrams
    seen ≥ 3 times.  Surfaces multi-word expressions for tokenizer
    vocabulary construction and boilerplate detection.

    Shape: the two count tables are word-count aggs off ONE token
    projection (bigrams expand in-row via the parallel-unnest-safe
    transform, never a self-join of the exploded corpus); N_pairs is a
    |langs|-row broadcastable aggregate.  The unigram join is
    |vocab|-sized — like basket_pairs' per-item counts it is left
    UNHINTED so AQE broadcasts while vocabulary is small and shuffles
    on (lang, token) when it is not.  ln() is transcendental →
    round 6 on both engines (the text_entropy precedent)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # the token projection feeds three consumers (unigrams, totals,
    # bigrams) and the unigram table two join branches — checkpoint
    # both so the scan+tokenize and the unigram agg each run once
    t = (
        d.select("lang", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .localCheckpoint()
    )
    uni = (
        t.select("lang", F.explode("toks").alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n_u"))
        .localCheckpoint()
    )
    npairs = t.groupBy("lang").agg(
        F.sum(F.size("toks") - 1).alias("n_pairs")
    )
    pair_structs = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
    )
    b = (
        t.select("lang", F.explode(pair_structs).alias("p"))
        .select("lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _PMI_MIN_COUNT)
    )
    u1 = uni.select(
        F.col("lang").alias("lang"), F.col("token").alias("w1"), F.col("n_u").alias("n_u1")
    )
    u2 = uni.select(
        F.col("lang").alias("lang"), F.col("token").alias("w2"), F.col("n_u").alias("n_u2")
    )
    pmi = F.round(
        F.log(
            (F.col("n").cast("double") * F.col("n_pairs"))
            / (F.col("n_u1").cast("double") * F.col("n_u2"))
        ),
        6,
    )
    return (
        b.join(u1, ["lang", "w1"])
        .join(u2, ["lang", "w2"])
        .join(F.broadcast(npairs), "lang")
        .select("lang", "w1", "w2", F.col("n").cast("bigint").alias("n"), pmi.alias("pmi"))
    )


# ---------------------------------------------------------------------------
# Balanced per-stratum downsampling (cap, not rate)
# ---------------------------------------------------------------------------

_BALANCED_CAP = 60  # per-(lang) document budget


@register(
    "sample_balanced",
    oracle=f"""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rank_in_lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    ) WHERE rn <= {_BALANCED_CAP}
    """,
)
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language downsampling with a hard CAP: keep at most
    60 documents per language, chosen by the md5(doc_id) hash order —
    the training-mix balancing step (equal per-stratum budgets) beside
    sample_stratified's rate-based thinning.  The hash order makes the
    selection deterministic across engines, runs and table versions
    (re-sampling after an append keeps previously-chosen docs except
    where new hashes displace the boundary), unlike rand()-based
    sampling.

    Shape: ONE shuffle on the stratum key; the per-stratum top-N is a
    WindowGroupLimit window (partitions drop rows past the cap before
    the sort completes — O(cap) state per stratum at any corpus size).
    The md5 hex order is engine-portable (the repo's standing 48-bit
    hash invariant, lowercase hex in both engines)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rank_in_lang", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank_in_lang") <= _BALANCED_CAP)
    )


# ---------------------------------------------------------------------------
# True BPE tokenizer training (merge-rule learning)
# ---------------------------------------------------------------------------

# Learned merge rounds.  Each round is vocabulary-sized work (see
# tokenizer_train_bpe docstring), so K bounds plan depth, not data cost.
_BPE_MERGES = 8


def _bpe_round_ctes(k: int) -> tuple[list[str], list[str]]:
    """The K unrolled merge rounds as DuckDB CTEs: returns (ctes,
    per-round merge-row SELECTs) so the trainer and apply oracles
    compose the SAME chain without string surgery.  Every primitive is
    engine-portable: regexp char-splitting, in-row adjacent-pair
    expansion, exact integer counts, (count DESC, pair ASC) argmax, and
    the TWO-PASS non-overlapping left-to-right `replace` both engines
    implement identically (see the operator docstring for why two
    passes define the merge-application semantics).  Each round joins
    the 1-row argmax via LEFT JOIN ON TRUE with a NULL-pair passthrough
    CASE, NOT a cross join: when the corpus exhausts mergeable pairs
    before round K, b{{r}} is empty and a cross join would annihilate
    the vocabulary for every later round — wrong for the APPLY oracle,
    whose w{{K}} must carry the last successful round's segmentation
    exactly as the Spark loop's break does (pair-exhausted corpora are
    pinned by test_bpe_pair_exhausted_corpus)."""
    ctes = [
        """w0 AS (
      SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
            FROM documents)
      GROUP BY w
    )"""
    ]
    selects = []
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        ctes.append(
            f"""p{r} AS (
      SELECT pr AS pair, SUM(freq) AS cnt FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                      i -> syms[i] || ' ' || syms[i + 1])) AS pr, freq
        FROM (SELECT string_split(trim(seq), ' ') AS syms, freq FROM {prev})
        WHERE len(syms) >= 2
      ) GROUP BY pr
    )"""
        )
        ctes.append(
            f"b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"""w{r} AS (
      SELECT w, CASE WHEN b.pair IS NULL THEN seq
                ELSE replace(replace(seq,
                 ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
                 ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ')
                END AS seq, freq
      FROM {prev} LEFT JOIN b{r} b ON TRUE
    )"""
        )
        selects.append(
            f"""SELECT CAST({r} AS BIGINT) AS merge_rank,
           string_split(pair, ' ')[1] AS left_sym,
           string_split(pair, ' ')[2] AS right_sym,
           replace(pair, ' ', '') AS merged,
           CAST(cnt AS BIGINT) AS cnt FROM b{r}"""
        )
    return ctes, selects


def _bpe_train_oracle(k: int) -> str:
    ctes, selects = _bpe_round_ctes(k)
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@register("tokenizer_train_bpe", oracle=_bpe_train_oracle(_BPE_MERGES))
def tokenizer_train_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE BPE tokenizer training: learn the first ``_BPE_MERGES``
    merge rules from the corpus (the standard LLM-pipeline stage
    ``text_tokenize_bpe`` only *applies* a pretokenizer for; this one
    LEARNS the merge table).  Classic algorithm: start from characters,
    repeat K times {count adjacent symbol pairs weighted by word
    frequency, merge the most frequent pair everywhere}.

    Shape per round — the MapReduce word-count loop on VOCABULARY-sized
    state: after the single corpus-scale job (the word-frequency
    aggregate, word-count shape with map-side combine), every round
    touches only the distinct-word table (|vocab| rows — millions at
    100 TB, vs trillions of corpus tokens), so K merge rounds cost K
    vocabulary passes, never K corpus scans.  Pair counting is the
    in-row ``transform(sequence(...))`` adjacent-pair expansion
    (size-preserving, the safe explode shape) feeding one hash-agg;
    the argmax is a global top-1 — TakeOrderedAndProject, O(1) state
    per partition — collected as a 1-row literal per round (see the
    final paragraph).

    Determinism / portability: words are the ``[a-z]+`` runs of
    lowercased text (both regex engines agree); the argmax tiebreak is
    (count DESC, pair string ASC) over pure-ASCII symbols; counts are
    exact integers.  MERGE APPLICATION is defined as TWO passes of
    non-overlapping left-to-right ``replace`` of ``' a b '`` within the
    space-joined, space-delimited symbol string — both engines share
    those exact semantics, making the whole learned merge table
    value-checkable.  (Canonical greedy BPE differs only on 6+-symbol
    same-symbol runs, where single-pass replace cannot see occurrences
    that share a delimiter space; the second pass merges the isolated
    leftovers pass 1 strands, and any residual undercount simply
    defers that pair to a later round — a deterministic, documented
    variant, pinned by a planted-corpus golden test.)

    Output: the learned merge table itself — (merge_rank, left_sym,
    right_sym, merged, cnt), K rows; fewer when the corpus exhausts
    mergeable pairs first (the Spark loop breaks; the oracle's
    LEFT-JOIN rounds emit no row and pass the vocabulary through
    unchanged — see _bpe_round_ctes); empty corpus → 0 rows on both
    engines.

    The per-round argmax is COLLECTED as a 1-row literal (the
    sort_global collected-boundary class: metadata-sized by
    construction, documented bound = exactly 1 row per round).  That
    keeps the vocabulary lineage a LINEAR chain of in-row replaces —
    round r's pair count replays r-1 replace layers over |vocab| rows,
    trivial — with no per-round checkpoint and no crossJoin.  A
    vocabulary within ``rounds._PROPAGATE_BCAST_ROWS`` (its size is
    observed on the word-count checkpoint) is checkpointed once more in
    one partition, and each round's pair count and argmax then run as
    ONE job: the training runs the corpus-scale word count, that one
    checkpoint and K one-job rounds.  A larger vocabulary shuffles each
    round's pair count (two jobs a round)."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank BIGINT, left_sym STRING, right_sym STRING, "
        "merged STRING, cnt BIGINT",
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The shared BPE training loop (see tokenizer_train_bpe for the
    full shape/portability argument): returns (merges, vocab) where
    merges is the K-row learned table as Python tuples
    (rank, left, right, merged, cnt) and vocab is the final
    (w, seq, freq) frame with every learned merge applied — the
    word-level subword segmentation tokenizer_apply_bpe joins against.
    A small vocabulary runs its rounds in one partition, one job each
    (:func:`rounds._one_partition`)."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    vocab = Observation()
    cur = (
        words.select(
            "w",
            F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("seq"),
            "freq",
        )
        .observe(vocab, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )  # the ONE corpus-scale job; everything after operates on |vocab| rows
    n_vocab = vocab.get["n"]
    if n_vocab <= rounds._PROPAGATE_BCAST_ROWS:
        # a small vocabulary runs every round in one partition: the pair
        # count needs no shuffle, and the count and its argmax run as one
        # job instead of two
        cur = rounds._one_partition(cur, n_vocab).localCheckpoint()

    merges: list[tuple] = []
    for r in range(1, _BPE_MERGES + 1):
        syms_t = cur.select(
            F.split(F.trim(F.col("seq")), " ").alias("syms"), "freq"
        ).filter(F.size("syms") >= 2)
        pairs = F.expr(
            "transform(sequence(1, size(syms) - 1),"
            " i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"
        )
        pc = (
            syms_t.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pc.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).first()
        if best is None:  # vocabulary exhausted / empty corpus
            break
        pair, cnt = best["pair"], int(best["cnt"])
        left, right = pair.split(" ")
        merges.append((r, left, right, left + right, cnt))
        pat, rep = F.lit(f" {pair} "), F.lit(f" {left}{right} ")
        cur = cur.select(
            "w",
            F.replace(F.replace("seq", pat, rep), pat, rep).alias("seq"),
            "freq",
        )
    return merges, cur


def _bpe_apply_oracle(k: int) -> str:
    """Tokenize-with-the-learned-merges oracle: the SAME unrolled
    training CTEs (shared generator, so the two keys can never learn
    different merge tables), then per-doc token totals from the final
    vocabulary's segmentations."""
    ctes, _ = _bpe_round_ctes(k)
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain},
    vocab AS (
      SELECT w, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_tok
      FROM w{k}
    ),
    toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
    FROM toks JOIN vocab USING (w)
    GROUP BY doc_id
    """


@register("tokenizer_apply_bpe", oracle=_bpe_apply_oracle(_BPE_MERGES))
def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the LEARNED merge table — the apply
    half of tokenizer_train_bpe (train → apply is the composition
    every tokenizer deployment runs; same pattern as the dedup/ANN
    eval keys composing their registered arms).  Per document: number
    of pretokenizer words and total subword tokens after the K learned
    merges — the real model-token budget, where text_tokenize_bpe's
    regex classes were only the cheap proxy.

    Shape: the final vocabulary (word → subword count) comes out of
    the shared :func:`_bpe_train` loop at |vocab| rows; the corpus
    tokenizes by ONE equi-join of the exploded word stream against
    that table — the word-count shuffle, with the join build side
    vocabulary-sized (AQE broadcasts it at fixture scale; at 100 TB a
    100M-word vocabulary rides an ordinary keyed shuffle).  Docs with
    zero pretokenizer words produce no row, identically in both
    engines (explode/unnest of an empty array drops the doc).  The
    oracle re-learns the merges through the SAME unrolled CTE
    generator, so train and apply can never disagree on the table.

    DECISION (round 8, explicit): apply RE-LEARNS the merges via
    :func:`_bpe_train` rather than memoizing them across invocations.
    The driver contract is pure ``(spark, sf_dir)`` calls — a
    session-level memo keyed on sf_dir would serve STALE merges if the
    parquet under that path changed between calls, a silent-wrongness
    class this repo never trades for speed.  The accepted cost is one
    extra train (~1.4 s at sf0.1 in PERF.md, before the rounds ran
    as one job each: one corpus word-count + K=8 vocabulary-sized
    rounds); a real 100 TB
    deployment persists the K-row merge table as an artifact and
    applies it forever — the recompute is a fixture-contract artifact,
    not the scale shape."""
    _, vocab = _bpe_train(spark, sf_dir)
    v = vocab.select(
        "w",
        F.size(F.split(F.trim(F.col("seq")), " ")).cast("bigint").alias("n_tok"),
    )
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("w"),
    )
    return (
        toks.join(v, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def _bpe_eval_oracle(k: int) -> str:
    """Vocabulary-scoreboard oracle: the SAME unrolled training CTEs
    (shared generator — eval, train and apply can never disagree on the
    merge table), then frequency-weighted corpus metrics off the final
    w{k} segmentation table."""
    ctes, _ = _bpe_round_ctes(k)
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain},
    v AS (
      SELECT w, freq,
             CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_tok,
             CAST(length(w) AS BIGINT) AS n_chars
      FROM w{k}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * n_tok) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(freq * n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(CASE WHEN n_tok = 1 THEN freq ELSE 0 END) AS BIGINT)
             AS n_words_single_token,
           CAST(SUM(CASE WHEN n_tok = n_chars THEN freq ELSE 0 END) AS BIGINT)
             AS n_words_char_fallback,
           round(CAST(SUM(freq * n_tok) AS DOUBLE) / SUM(freq), 6)
             AS fertility,
           round(CAST(SUM(freq * n_chars) AS DOUBLE) / SUM(freq * n_tok), 6)
             AS chars_per_token,
           round(CAST(SUM(CASE WHEN n_tok = 1 THEN freq ELSE 0 END)
                   AS DOUBLE) / SUM(freq), 6) AS coverage_single,
           round(CAST(SUM(CASE WHEN n_tok = n_chars THEN freq ELSE 0 END)
                   AS DOUBLE) / SUM(freq), 6) AS fallback_rate
    FROM v
    """


@register("tokenizer_eval_vocab", oracle=_bpe_eval_oracle(_BPE_MERGES))
def tokenizer_eval_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-quality scoreboard over the LEARNED BPE vocabulary —
    the metrics every tokenizer team monitors before shipping a merge
    table, completing the per-family eval set (ANN has
    sim_eval_recall_multi, dedup has dedup_eval_prf): **fertility**
    (BPE tokens per pretokenizer word — the model-token budget
    multiplier), **chars_per_token** (compression the vocabulary
    buys), **coverage_single** (fraction of word occurrences merged to
    ONE token — vocabulary hit rate), and **fallback_rate** (fraction
    still fully character-split — the byte/char-fallback pressure that
    says the merge budget K is too small), plus the raw integer
    totals each ratio derives from.

    Shape: everything derives from the shared :func:`_bpe_train` final
    vocabulary — the ONE corpus-scale word-count job plus K
    vocabulary-sized rounds (one job each on a small vocabulary) the
    train/apply keys already run; the
    eval itself is ONE frequency-weighted hash-agg over |vocab| rows
    collapsing to a single output row (metadata-sized at any corpus
    size — the eval-key discipline).  Ratios are exact-integer
    quotients rounded to 6 on both sides; the oracle re-learns the
    merges through the SAME unrolled CTE generator, so eval, train and
    apply can never disagree on the table.  Empty corpus → one
    all-NULL-ratio row on both engines (global agg over zero rows)."""
    _, vocab = _bpe_train(spark, sf_dir)
    v = vocab.select(
        "freq",
        F.size(F.split(F.trim(F.col("seq")), " ")).cast("bigint").alias("n_tok"),
        F.length("w").cast("bigint").alias("n_chars"),
    )
    single = F.when(F.col("n_tok") == 1, F.col("freq")).otherwise(F.lit(0))
    fallback = F.when(F.col("n_tok") == F.col("n_chars"), F.col("freq")).otherwise(
        F.lit(0)
    )
    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * F.col("n_tok")).cast("bigint").alias("n_bpe_tokens"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("bigint").alias("n_chars"),
        F.sum(single).cast("bigint").alias("n_words_single_token"),
        F.sum(fallback).cast("bigint").alias("n_words_char_fallback"),
    ).select(
        "*",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
        F.round(
            F.col("n_words_single_token").cast("double") / F.col("n_words"), 6
        ).alias("coverage_single"),
        F.round(
            F.col("n_words_char_fallback").cast("double") / F.col("n_words"), 6
        ).alias("fallback_rate"),
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction (top-k TF-IDF terms)
# ---------------------------------------------------------------------------

_KEYWORDS_K = 5


def _tfidf(spark: SparkSession, sf_dir: str, by: str) -> DataFrame:
    """``(by, token, tf, df, tfidf)`` over the whitespace tokens of
    ``documents``: ``tf`` counts a token's occurrences in each ``by``
    group, ``df`` the documents holding it, and
    ``tfidf = round(tf · ln(n_docs / df), 9)`` (ln rounded on both
    engines).  text_tfidf (by source) and text_keywords (by doc_id)
    call it.

    The tokens are exploded once and shuffled once, by token: the
    paper's term-vector map.  ``groupBy(token, by)`` and the df window
    ``partitionBy(token)`` both cluster on the token, so neither adds a
    shuffle.  The window sums each group's distinct docs over the
    token's groups, and that sum is the df exactly because ``doc_id``
    is the primary key of ``documents``: every doc has one ``by`` value,
    so no doc counts in two groups.  The shuffle carries raw tokens
    (no map-side combine); in exchange there is no |vocab|-row df
    aggregate to join back.  ``n_docs`` is read from the parquet
    footers with no job (``tables.row_count``); where they cannot be
    read, a scalar subquery counts the documents."""
    d = load(spark, sf_dir, "documents")
    n = row_count(sf_dir, "documents")
    n_docs = F.lit(n) if n is not None else d.select(F.count(F.lit(1))).scalar()
    groups = (
        d.select(
            *dict.fromkeys((by, "doc_id")),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .repartition("token")
        .groupBy("token", by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.countDistinct("doc_id").cast("bigint").alias("n"),
        )
    )
    return groups.withColumn(
        "df", F.sum("n").over(Window.partitionBy("token"))
    ).select(
        by,
        "token",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(n_docs.cast("double") / F.col("df")), 9).alias(
            "tfidf"
        ),
    )


@register(
    "text_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    dfq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 9) AS tfidf
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= {_KEYWORDS_K}
    """,
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: each doc's top-5 tokens by
    per-doc TF-IDF — the doc-tagging / weak-labeling pass
    beside text_bm25 (query-side ranking) and text_tfidf (source-level
    statistics; this key is PER-DOC granularity, which is what a
    labeling pipeline consumes).

    Shape: :func:`_tfidf` by ``doc_id`` (one token shuffle for tf and
    df), then the per-doc top-k, a WindowGroupLimit window on the
    unique (rounded tfidf DESC, token) order with its own ``doc_id``
    shuffle — O(k) state per doc at any corpus size."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        _tfidf(spark, sf_dir, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _KEYWORDS_K)
    )


# ---------------------------------------------------------------------------
# retrieval_fuse_rrf — hybrid lexical+semantic retrieval via RRF
# ---------------------------------------------------------------------------

_RRF_K = 60          # the standard RRF damping constant (Cormack 2009)
_RRF_ARM_K = 20      # candidate-list depth fed into the fusion per arm
_RRF_TOPK = 10       # fused results returned per query


def _rrf_score(rank_a: str, rank_b: str) -> Column:
    """Reciprocal-rank fusion of two arm ranks, Σ 1/(_RRF_K + rank),
    where an arm whose list misses the doc adds 0.  Ranks are integers,
    so this is two exact double divisions summed in a written order,
    identical in both engines; rounded to 9 only for safety.
    retrieval_fuse_rrf and pipeline_retrieval_e2e fuse with it."""
    return F.round(
        F.coalesce(1.0 / (_RRF_K + F.col(rank_a)), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col(rank_b)), F.lit(0.0)),
        9,
    )


def _rrf_sql() -> str:
    k1, b = _BM25_K1, _BM25_B
    return f"""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS doclen FROM docs),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(doclen) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, unnest(toks) AS tok
      FROM docs WHERE doc_id < {_ANN_N_QUERIES}
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
      WHERE tok IN (SELECT DISTINCT tok FROM qterms)
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    parts AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(ROUND(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * (tf.tf * ({k1} + 1))
               / (tf.tf + {k1} * (1 - {b} + {b} * dl.doclen / stats.avgdl)),
               9) AS DECIMAL(18,9)) AS part_score
      FROM tf
      JOIN qterms qt ON qt.tok = tf.tok
      JOIN df ON df.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      WHERE tf.doc_id <> qt.query_id
    ),
    lex AS (
      SELECT query_id, doc_id,
             ROUND(CAST(SUM(part_score) AS DOUBLE), 6) AS bm25
      FROM parts GROUP BY query_id, doc_id
    ),
    lex_top AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY bm25 DESC, doc_id) AS BIGINT)
               AS lex_rank
      FROM lex QUALIFY lex_rank <= {_RRF_ARM_K}
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    sem AS (
      SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
             round(list_cosine_similarity(q.ev, c.ev), 6) AS cos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_ANN_N_QUERIES}
    ),
    sem_top AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, doc_id) AS BIGINT)
               AS sem_rank
      FROM sem QUALIFY sem_rank <= {_RRF_ARM_K}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                   + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0), 9)
               AS rrf_score
      FROM lex_top l
      FULL OUTER JOIN sem_top s
        ON l.query_id = s.query_id AND l.doc_id = s.doc_id
    )
    SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS BIGINT)
             AS fused_rank
    FROM fused QUALIFY fused_rank <= {_RRF_TOPK}
    """


@register("retrieval_fuse_rrf", oracle=_rrf_sql())
def retrieval_fuse_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED hybrid retrieval — the standing-QUERY-SET form of
    pipeline_retrieval_e2e's single-query RRF, which text_bm25's
    docstring prescribes ("the same plan batches by adding a query_id
    column") but no key registers: one plan ranks and fuses ALL
    queries of the standing 5-probe set (sim_search_topk's), with
    more-like-this semantics (each query is a DOCUMENT — its own
    tokens are the lexical query, its embedding the semantic one: the
    related-items form, where the e2e key is ad-hoc search).  Plan
    differences are structural, not parametric: per-query PARTITIONED
    rank windows (WindowGroupLimit, where the single-query key can use
    a global orderBy+limit), a query-vocab SEMI-JOIN in place of a
    term literal, and fusion keyed on (query_id, doc_id).  rrf(d) =
    Σ_arm 1/(60 + rank_arm(d)) (Cormack, Clarke & Buettcher 2009) over
    the arms whose top-20 list contains d; fused top-10 per query,
    ties on doc_id; arm ranks stay in the output.

    Determinism: each arm ranks on its ROUNDED score (text_bm25's
    :func:`_bm25_scores`; sim_search_topk's probe scorer, so a
    ``sem_rank`` ≤ 10 is that key's rank) and the fusion is
    :func:`_rrf_score`.  lex_rank/sem_rank stay in the output
    (nullable: a doc can reach the fused list through one arm alone).

    100 TB shape: the query-vocab semi-join prunes the corpus token
    explosion to |Q|-query terms BEFORE the tf aggregation, so the
    lexical shuffle carries |matching docs| narrow rows, never text;
    df/stats are tiny broadcast aggregates (text_bm25's plan, batched
    by query_id exactly as its docstring prescribes); the semantic arm
    is sim_search_topk's broadcast-probe scan; both per-arm top-20s
    are rank windows that WindowGroupLimit caps at O(k) state per
    partition, and the fusion join touches only |Q|·20-row arm lists —
    metadata-sized regardless of corpus scale.  At a 1 B-doc corpus
    the semantic arm swaps to the registered IVF index (sim_search_ivf)
    without touching the fusion contract, which only consumes ranks."""
    docs, dl, stats = _bm25_corpus(load(spark, sf_dir, "documents"))
    qterms = (
        docs.filter(F.col("doc_id") < _ANN_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), F.explode("toks").alias("tok"))
        .distinct()
    )
    hits = docs.select("doc_id", F.explode("toks").alias("tok")).join(
        F.broadcast(qterms.select("tok").distinct()), "tok", "leftsemi"
    )
    lex = _bm25_scores(
        hits,
        dl,
        stats,
        fan=lambda tf: tf.join(F.broadcast(qterms), "tok").filter(
            F.col("doc_id") != F.col("query_id")
        ),
        by=("query_id",),
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_top = (
        lex.withColumn("lex_rank", F.row_number().over(wl).cast("bigint"))
        .filter(F.col("lex_rank") <= _RRF_ARM_K)
        .select("query_id", "doc_id", "lex_rank")
    )

    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    sem = _probe_scores(e.crossJoin(F.broadcast(_probes(e))))
    sem_top = _top_scores(sem, _RRF_ARM_K).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )

    fused = lex_top.join(sem_top, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        _rrf_score("lex_rank", "sem_rank").alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(wf).cast("bigint")
    ).filter(F.col("fused_rank") <= _RRF_TOPK)


# ---------------------------------------------------------------------------
# retrieval_eval_rank — MRR / nDCG of the fused retrieval vs exact cosine
# ---------------------------------------------------------------------------


def _rank_eval_oracle() -> str:
    """The eval's oracle embeds BOTH registered arms' oracles verbatim
    as nested-WITH CTE bodies (the sim_eval_recall pattern lifted to
    SQL composition): system-under-eval = retrieval_fuse_rrf, ground
    truth = sim_search_topk — the eval and the arms can never drift."""
    # llm_pipeline is imported inside functions: this module registers
    # its keys first, so a module-level import would move llm_pipeline's
    # keys ahead of text_langid..retrieval_fuse_rrf in the registry.
    # Importing it here registers sim_search_topk before this key.
    from task_mapreduce_spark.operators import llm_pipeline  # noqa: F401
    from task_mapreduce_spark.registry import ORACLES

    return f"""
    WITH fused AS ({ORACLES["retrieval_fuse_rrf"]}),
    exact AS ({ORACLES["sim_search_topk"]}),
    rel AS (
      SELECT query_id, vec_id AS doc_id,
             CAST({_ANN_TOP_K} + 1 - rank AS BIGINT) AS rel
      FROM exact
    ),
    scored AS (
      SELECT f.query_id, f.fused_rank, COALESCE(r.rel, 0) AS rel
      FROM fused f LEFT JOIN rel r
        ON r.query_id = f.query_id AND r.doc_id = f.doc_id
    ),
    dcg AS (
      SELECT query_id,
             CAST(SUM(CAST(round(rel / log2(1 + fused_rank), 9)
                           AS DECIMAL(18,9))) AS DOUBLE) AS dcg,
             CAST(COUNT(*) FILTER (WHERE rel > 0) AS BIGINT)
               AS n_relevant_found,
             MIN(fused_rank) FILTER (WHERE rel > 0) AS first_rel_rank
      FROM scored GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id,
             CAST(SUM(CAST(round(rel / log2(1 + rnk), 9)
                           AS DECIMAL(18,9))) AS DOUBLE) AS idcg
      FROM (
        SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC) AS rnk
        FROM rel
      ) GROUP BY query_id
    )
    SELECT d.query_id,
           d.n_relevant_found,
           round(COALESCE(CAST(1.0 AS DOUBLE) / d.first_rel_rank, 0), 9)
             AS mrr,
           round(d.dcg, 9) AS dcg_r,
           round(d.dcg / i.idcg, 6) AS ndcg
    FROM dcg d JOIN ideal i USING (query_id)
    """


@register("retrieval_eval_rank", oracle=_rank_eval_oracle())
def retrieval_eval_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the fused retrieval — per-query
    MRR and nDCG@k of retrieval_fuse_rrf's fused list against the
    exact-cosine ground truth (sim_search_topk), graded rel = k+1 −
    exact_rank.  Closes the eval gap for the retrieval family: recall
    evals exist for every ANN arm (sim_eval_recall*), PRF/ARI for the
    dedup family, but the RRF fusion — the key a retrieval user
    actually serves — had no registered quality metric.

    Both arms are embedded VERBATIM (the Spark side calls the
    registered callables; the oracle nests the registered arm oracles
    as CTE bodies), so the eval can never drift from what it grades —
    the repo's eval-class discipline.

    Float discipline: DCG terms rel/log2(1+rank) are transcendental →
    each term rounds to 9 and sums through exact DECIMAL(18,9) (the
    per-query fold is ≤k terms but hash-agg partial merges are still
    order-free only under decimal); MRR is one double division rounded
    9; nDCG divides two already-rounded doubles, rounded 6.  IDCG is
    computed from each query's own relevant set (rank by rel DESC —
    a total order: rel values are distinct by construction).

    100 TB shape: inherits the arms' shapes verbatim; everything after
    the arm lists touches |Q|·k rows — metadata at any corpus size."""
    from task_mapreduce_spark.operators.llm_pipeline import sim_search_topk

    fused = retrieval_fuse_rrf(spark, sf_dir).select(
        "query_id", "doc_id", "fused_rank"
    )
    rel = sim_search_topk(spark, sf_dir).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        (F.lit(_ANN_TOP_K) + 1 - F.col("rank")).cast("bigint").alias("rel"),
    )
    scored = (
        fused.join(rel, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "fused_rank",
            F.coalesce("rel", F.lit(0)).alias("rel"),
        )
    )
    term = F.round(F.col("rel") / F.log2(1 + F.col("fused_rank")), 9)
    dcg = scored.groupBy("query_id").agg(
        F.sum(term.cast("decimal(18,9)")).cast("double").alias("dcg"),
        F.count(F.when(F.col("rel") > 0, 1)).cast("bigint")
        .alias("n_relevant_found"),
        F.min(F.when(F.col("rel") > 0, F.col("fused_rank")))
        .alias("first_rel_rank"),
    )
    wi = Window.partitionBy("query_id").orderBy(F.desc("rel"))
    iterm = F.round(F.col("rel") / F.log2(1 + F.col("rnk")), 9)
    ideal = (
        rel.withColumn("rnk", F.row_number().over(wi))
        .groupBy("query_id")
        .agg(F.sum(iterm.cast("decimal(18,9)")).cast("double").alias("idcg"))
    )
    return dcg.join(ideal, "query_id").select(
        "query_id",
        "n_relevant_found",
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rel_rank"), F.lit(0.0)), 9
        ).alias("mrr"),
        F.round("dcg", 9).alias("dcg_r"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )
