"""Iterative graph analytics: PageRank (Dean & Ghemawat's motivating
workload — the paper §1 cites "computes PageRank" style link-graph
jobs, and §2.3's reverse web-link graph is its candidate-generation
step).

The graph is derived from the star schema itself: the bipartite
customer↔supplier interaction graph (an edge whenever a customer's
order contains a lineitem from that supplier).  That keeps the
operator on the driver's fixture tables — no synthetic side input.

Determinism at 100 TB is the interesting part.  Textbook PageRank
folds doubles, and a 1000-way partial-aggregation merge tree makes
float sums order-dependent — the same query can hash differently run
to run.  Here ranks are FIXED-POINT integers (scale 1e9) and the
damping step is integer arithmetic (``(85 * x) div 100``), so every
iteration is bit-exact regardless of merge order, partition count, or
engine — which is also what makes a DuckDB oracle possible for an
iterative algorithm.

Scale shape per iteration: one equi-join of the edge list against the
current ranks + one sum by destination — exactly the distributed
PageRank from the MapReduce paper.  The edge list and degrees are
computed once and ``localCheckpoint``-ed (at cluster scale: a parquet
checkpoint) so the 5 unrolled iterations don't replay the
edge-derivation join five times.

The checkpoint does NOT keep a co-partitioned layout: under the
session's AQE, ``df.repartition(n, k).localCheckpoint()`` reports
``UnknownPartitioning(0)`` (so do ``cache()`` and ``checkpoint()``),
and a join against it plans an Exchange on that side —
tests/test_plans.py::test_checkpoint_forgets_partitioning_under_aqe
pins this on the installed Spark.  So every iteration re-shuffles the
edge list as well as the |V|-sized side; pre-partitioning the static
side on the join key only adds a shuffle.  A graph within
``rounds._PROPAGATE_BCAST_ROWS`` shuffles nothing: PageRank and BFS run
it in one partition (``rounds._one_partition``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from task_mapreduce_spark.operators import rounds
from task_mapreduce_spark.registry import register
from task_mapreduce_spark.tables import load, row_count

_PR_SCALE = 1_000_000_000          # fixed-point: 1.0 == 1e9
_PR_BASE = 150_000_000             # 0.15 * _PR_SCALE (teleport mass)
_PR_ITERS = 5                      # fixed, unrolled — not run-to-convergence

# Node-id encoding for the bipartite graph: customers are EVEN ids
# (2·custkey), suppliers ODD (2·suppkey + 1).  The parity encoding is
# scale-proof: disjointness holds for ANY key domain.  The previous
# additive offset (suppkey + 1e6) silently assumed custkey < 1e6 —
# the round-11 ×100 replication pushed custkeys past it and collided
# the two node families, and a real 100 TB corpus with billions of
# customers breaks the constant outright.


def _interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) both directions of every distinct customer↔supplier
    interaction (a customer's order holds a lineitem from the supplier),
    under the parity node encoding above."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust"),
            (F.col("l_suppkey") * 2 + 1).alias("supp"),
        )
        .distinct()
    )
    return pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionByName(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )


def _pagerank_oracle() -> str:
    """DuckDB twin with the 5 iterations unrolled as CTEs r0..r5.

    ``//`` is DuckDB integer division on BIGINT operands (its DOUBLE
    behavior — true division — never applies here: every operand is
    BIGINT by construction), mirroring Spark's ``div``.
    """
    parts = [
        f"""
    WITH pairs AS (
      SELECT DISTINCT 2 * o.o_custkey AS cust, 2 * l.l_suppkey + 1 AS supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT cust AS src, supp AS dst FROM pairs
      UNION ALL
      SELECT supp AS src, cust AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (
      SELECT 2 * c_custkey AS node FROM customer
      UNION ALL
      SELECT 2 * s_suppkey + 1 AS node FROM supplier
    ),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM nodes)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    r{i} AS (
      SELECT n.node,
             CAST({_PR_BASE} + (85 * COALESCE(i.incoming, 0)) // 100 AS BIGINT)
               AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst, SUM(r.rank // d.deg) AS incoming
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN r{i - 1} r ON e.src = r.node
        GROUP BY e.dst
      ) i ON n.node = i.dst
    )"""
        )
    parts.append(f"\n    SELECT node, rank AS rank_fp FROM r{_PR_ITERS}")
    return "".join(parts)


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the customer↔supplier bipartite graph,
    5 unrolled iterations (see module docstring for why the arithmetic
    is integer).  Customers with no orders are dangling: they receive
    exactly the teleport mass, asserted (where the fixture provides a
    witness) in tests/test_graph.py."""
    edges = _interaction_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # materialize (edge, out-degree) ONCE — the five iterations below
    # would otherwise each replay the lineitem⋈orders derivation.  No
    # repartition on the join key: under AQE the checkpoint forgets it
    # (see the module docstring), so each iteration re-shuffles the
    # edge list either way.  Broadcasting the rank table instead breaks
    # at 1 B nodes (a multi-GB broadcast per iteration).
    obs = Observation()
    edeg = (
        edges.join(deg, "src")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_e = obs.get["n"]

    nodes = (
        load(spark, sf_dir, "customer")
        .select((F.col("c_custkey") * 2).alias("node"))
        .unionByName(
            load(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey") * 2 + 1).alias("node")
            )
        )
    )
    # A graph within the row budget (edges counted on the checkpoint,
    # nodes from the tables' footers) runs every iteration in one
    # partition: the edge and node lists, each iteration's sums (at most
    # one row per edge) and its ranks (one row per node) all carry exact
    # size estimates, so no join or aggregate plans an Exchange and the
    # five iterations run in one task.  Without the limit on the sums,
    # the join output's estimate re-shuffles the aggregate and the next
    # iteration's join.
    n_c, n_s = row_count(sf_dir, "customer"), row_count(sf_dir, "supplier")
    n_v = None if n_c is None or n_s is None else n_c + n_s
    small = n_v is not None and n_e + n_v <= rounds._PROPAGATE_BCAST_ROWS
    if small:
        edeg = rounds._one_partition(edeg, n_e)
        nodes = rounds._one_partition(nodes, n_v)
    ranks = nodes.select("node", F.lit(_PR_SCALE).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        r = ranks.select(F.col("node").alias("src_node"), F.col("rank").alias("src_rank"))
        # shuffle_hash: the rank side is the (small-per-partition)
        # build side — a sort-merge join would also SORT the edge list
        # every iteration.
        incoming = (
            edeg.join(
                r.hint("shuffle_hash"), F.col("src") == F.col("src_node")
            )
            .select("dst", F.expr("src_rank div deg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("incoming"))
        )
        if small:
            incoming = rounds._one_partition(incoming, n_e)
        # same discipline for the vertex-table maintenance join: both
        # sides are |V|-keyed (node/dst), shuffle-hash avoids a
        # per-iteration sort of either
        ranks = nodes.join(
            incoming.hint("shuffle_hash"), nodes.node == incoming.dst, "left"
        ).select(
            "node",
            (
                F.lit(_PR_BASE).cast("long")
                + F.expr("(85 * coalesce(incoming, 0)) div 100")
            ).alias("rank"),
        )
        if small:
            ranks = rounds._one_partition(ranks, n_v)
    return ranks.select("node", F.col("rank").cast("bigint").alias("rank_fp"))


# ---------------------------------------------------------------------------
# Triangle counting over the document-similarity graph
# ---------------------------------------------------------------------------


def orient_by_degree(e: DataFrame) -> DataFrame:
    """Re-orient an undirected edge list ``(a, b)`` so every edge points
    from the endpoint with the smaller ``(degree, id)`` to the larger —
    the standard triangle-enumeration refinement (Suri & Vassilvitskii's
    MapReduce formulation): under degree orientation a vertex's
    OUT-degree is bounded by O(√|E|), so the path join on the middle
    vertex expands at most Σ outdeg² ≤ |E|·√|E| candidates even when one
    hot vertex has millions of neighbors.  Id-orientation has no such
    bound — a hot vertex of degree d contributes d²/4 candidates.

    ``(degree, id)`` is a strict total order (ids are unique), so the
    orientation is acyclic and every triangle has exactly one source,
    one middle and one sink vertex — each triangle is enumerated exactly
    once by (src→mid)⋈(mid→sink) closed with (src→sink).  The degree
    table is |V|-bounded metadata derived from the edge list itself; the
    two decorating joins are |E|-row equi-joins."""
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )


def triangle_memberships(e: DataFrame) -> DataFrame:
    """(doc_id, n_triangles) for every vertex appearing in ≥ 1 triangle
    of the undirected edge list ``(a, b)``: degree-orient the edges
    (:func:`orient_by_degree`), enumerate each triangle once via the
    two-equi-join closure, then count memberships per vertex.  The
    oriented edge list feeds three join branches — checkpoint it so the
    (similarity-pipeline + orientation) prefix runs once."""
    o = orient_by_degree(e).localCheckpoint()
    e1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    verts = (
        tri.select(F.col("x").alias("doc_id"))
        .unionByName(tri.select(F.col("y").alias("doc_id")))
        .unionByName(tri.select(F.col("z").alias("doc_id")))
    )
    return verts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "graph_triangles",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    verts AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    cnt AS (
      SELECT doc_id, COUNT(*) AS n_triangles FROM verts GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM documents d LEFT JOIN cnt c USING (doc_id)
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count over the exact-Jaccard similarity
    graph (the same deterministic edge set dedup_ngram_jaccard /
    dedup_cluster_cc are built on) — the classic cohesion metric that
    separates genuine duplicate CLUSTERS (dense, many triangles) from
    chains of pairwise-similar docs (no triangles).

    The MapReduce-textbook formulation, as two equi-joins: edges are
    oriented by (DEGREE, id) — :func:`orient_by_degree` — so each
    triangle is formed exactly once by joining (src,mid)⋈(mid,sink) on
    the middle vertex and closing with (src,sink), and a hot vertex's
    path fan-out is bounded by √|E| instead of its raw degree.  No
    cross join and no per-vertex adjacency list in one row.

    The oracle deliberately stays ID-oriented: per-vertex triangle
    membership is orientation-invariant (a triangle is a triangle
    however its edges point), so the independent id-oriented SQL
    formulation value-checks the degree-orientation machinery instead
    of merely re-running it — if the (deg, id) order ever failed to be
    strict/acyclic, double- or under-counts would hash-mismatch here."""
    from task_mapreduce_spark.operators.llm_extras import (
        _doc_token_sets,
        jaccard_pairs,
    )

    d = load(spark, sf_dir, "documents")
    # checkpoint: the raw edge list feeds the degree derivation (both
    # endpoint projections) AND the orientation join — without it the
    # prefix-filtered Jaccard pipeline would replay three times
    e = jaccard_pairs(_doc_token_sets(d)).select("a", "b").localCheckpoint()
    cnt = triangle_memberships(e)
    return (
        d.select("doc_id")
        .join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        )
    )


# ---------------------------------------------------------------------------
# BFS shortest-hop distances from a source node
# ---------------------------------------------------------------------------

_BFS_ITERS = 4                     # hop cap; stops earlier on an empty frontier
_BFS_SOURCE = 0                    # customer node 0 == 2*custkey 0 under
#                                    the parity encoding (custkeys 0-based)


def _bfs_oracle() -> str:
    """DuckDB twin with the frontier expansion unrolled as d0..d4 —
    the same unrolled-CTE pattern as the PageRank oracle (a recursive
    CTE would also work, but unrolling keeps the two engines' plans
    literally iteration-for-iteration comparable)."""
    parts = [
        f"""
    WITH pairs AS (
      SELECT DISTINCT 2 * o.o_custkey AS cust, 2 * l.l_suppkey + 1 AS supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT cust AS src, supp AS dst FROM pairs
      UNION ALL
      SELECT supp AS src, cust AS dst FROM pairs
    ),
    d0 AS (SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, 0 AS dist)"""
    ]
    for i in range(1, _BFS_ITERS + 1):
        parts.append(
            f""",
    d{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d{i - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"\n    SELECT node, CAST(dist AS INTEGER) AS dist FROM d{_BFS_ITERS}"
    )
    return "".join(parts)


def bfs_distances(
    edges: DataFrame, source: int, hops: int
) -> tuple[DataFrame, int]:
    """(node, dist) for every node within ``hops`` hops of ``source``
    over the directed ``edges`` (src, dst), and the rounds run.

    BFS is a min-fold with step 1 (:func:`rounds.min_propagate`): the
    state starts as the source alone (one row, so a small round 0 runs
    as one job), round 0 pushes the source's out-edges (a filter, no
    join), and round k reaches hop k+1 — only nodes first reached last
    round push, so per-round join input is ∝ |frontier|.  The loop stops
    after ``hops`` rounds or as soon as a round reaches no new node; the
    rows are the same either way."""
    start = edges.sparkSession.range(1).select(
        F.lit(source).cast("long").alias("id"), F.lit(0).alias("value")
    )
    dist, n_rounds, _ = rounds.min_propagate(
        start,
        edges,
        lambda e: e.filter(F.col("src") == source).select(
            F.col("dst").alias("id"), F.lit(1).alias("value")
        ),
        max_rounds=hops,
        step=1,
        state_rows=1,
    )
    dist = dist.select(F.col("id").alias("node"), F.col("value").alias("dist"))
    return dist, n_rounds


@register("graph_bfs", oracle=_bfs_oracle())
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest-hop distances from customer node 0 over
    the customer↔supplier graph PageRank uses; nodes further than 4
    hops are absent (the frontier semantics, not a truncation of found
    results).  Frontier-delta rounds on the min-propagation kernel
    (:func:`bfs_distances`): the level number IS the min-fold (integer,
    bit-exact on any engine or merge order, matching the oracle's full
    min-fold).  Per round: one frontier⋈edges join, one union-aggregate
    with the |V|-bounded distance table, one ``localCheckpoint`` (at
    cluster scale: a parquet checkpoint)."""
    dist, _ = bfs_distances(_interaction_edges(spark, sf_dir), _BFS_SOURCE, _BFS_ITERS)
    return dist
