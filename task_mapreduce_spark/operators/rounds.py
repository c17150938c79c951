"""Small rounds of the hand-written iterative loops, run as one job each:
the one row budget, the one-partition rule and the min-propagation
fixpoint kernel behind BFS and connected components.  Registers no keys.

In the MapReduce model an iterative job is a chain of map → shuffle →
reduce rounds, and at the corpus sizes here each round's shuffle costs a
scheduler job and moves nothing worth moving.  A round whose input has a
row bound within ``_PROPAGATE_BCAST_ROWS`` — a bound observed on an
earlier job, or one the caller knows without a job — runs in one
partition instead: :func:`_one_partition` coalesces it and gives it an
exact size estimate, so the round plans no Exchange.  The loops that use
the rule are :func:`min_propagate` (``graph.bfs_distances`` and
``llm_extras._min_label_cc``) and BPE training
(``corpus_tools._bpe_train``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Row budget under which a round runs as one job in one partition — its
# whole input, state plus at most one push row per edge, and both of its
# joins — and under which a larger round broadcasts its (id, value) join
# side (≈ 4 MB as a hashed relation) instead of shuffling it and the
# edge list; the counts are exact, from Observations on the edge
# checkpoint and on the last round, or a caller's bound on round 0.
_PROPAGATE_BCAST_ROWS = 250_000


def _one_partition(df: DataFrame, bound: int) -> DataFrame:
    """``df`` coalesced to one partition, limited to ``bound`` rows — an
    observed count of at least ``df``'s rows, so the limit drops nothing.
    The limit is there for its statistics.  A one-partition join child
    satisfies the join's distribution, but Spark's EnsureRequirements
    re-shuffles it into ``spark.sql.shuffle.partitions`` when its
    ESTIMATED size is over ``spark.sql.maxSinglePartitionBytes``
    (128 MB), and a ``localCheckpoint`` inherits its source plan's
    estimate (sf0.01's BFS edge list: 97 k rows, estimated at 20.3 GiB).
    A Limit's estimate is its bound times the row width.

    A Limit's generated code names its row counter with a process-wide
    id, so it misses the codegen cache: every run compiles it afresh and
    runs it cold.  The Coalesce under it keeps the limit in a small
    stage of its own; fused into an aggregate, it recompiled that
    aggregate every round (graph_bfs rounds about 0.11 → 0.17 s at
    sf0.01).

    The limit is at least 1: the optimizer replaces a limit of 0, and
    its whole subtree with any ``Observation`` in it, by an empty
    relation, and reading that Observation then fails (an empty
    corpus)."""
    return df.coalesce(1).limit(max(bound, 1))


def min_propagate(
    state: DataFrame,
    edges: DataFrame,
    push: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    step: int = 0,
    jump_from: int | None = None,
    state_rows: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Min-fold fixpoint of ``state`` (id, value) over the static
    ``edges`` (src, dst) — the kernel behind ``llm_extras._min_label_cc``
    and ``graph.bfs_distances``, each round a map over the edges, a
    shuffle and a min-reduce.  ``edges`` is checkpointed once here, its
    row count observed on that checkpoint; ``push`` builds the round-0
    messages (id, value) from the checkpointed edges without a join, at
    most one row per edge (BFS filters the edges, CC projects them).
    ``step`` is added as a value crosses an edge.  Returns (state,
    rounds run, rows changed in the last round: 0 iff converged).

    A round is ``state ∪ push → groupBy(id).agg(min(value), max(old))``
    and ONE eager ``localCheckpoint``.  State rows carry their value as
    ``old`` and push rows NULL, so a row changed when ``old`` is NULL or
    the minimum dropped; only changed rows push next round (delta form,
    same fixpoint as full propagation).  From round ``jump_from`` on,
    the round also pointer-jumps value ← value(value) by a self-join of
    its own aggregate in the same checkpoint — sound only when a value
    names a node of the same class, as CC labels do; O(log D) rounds on
    a D-hop chain.  The changed and row counts ride an ``Observation`` on
    the checkpoint and are read only after it returns (a failed action
    can leave partial metrics).  The loop stops at 0 changed rows or
    after ``max_rounds``; the caller decides if the cap is an error.

    A round whose input is provably within ``_PROPAGATE_BCAST_ROWS`` —
    the last round's row count plus the edge count — runs as one job:
    the push join (edges ⋈ frontier), ``state ∪ push`` and the
    pointer-jump self-join all run in one partition
    (:func:`_one_partition`), so the round plans no Exchange and no
    BroadcastExchange.  Round 0 takes its row count from ``state_rows``,
    an upper bound on the state's rows that the caller knows without a
    job (BFS's one-row start, a table's footer count); with ``None`` it
    stays shuffled.  The bound is checked, not trusted: round 0's job
    also counts ``state ∪ push``, and a count over ``state_rows`` plus
    the edge count — the one case in which the aggregate's limit could
    drop a row — raises.  A larger round shuffles, and as a checkpoint
    keeps no hash layout under AQE (graph.py module docstring), a
    shuffled join re-shuffles the edge list every round: such a round
    broadcasts the frontier, and the hop side, while the last round's
    exact counts are within the budget.

    Precondition: a reached endpoint that is not an ``id`` of ``state``
    becomes a new row — what BFS wants, and why CC needs every edge
    endpoint to be a node.  No job checks it."""
    obs = Observation()
    edges = edges.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n_edges = obs.get["n"]
    push = push(edges)
    old_type = state.schema["value"].dataType
    state = state.select("id", "value")
    changed, rows = 0, state_rows
    small = rows is not None and rows + n_edges <= _PROPAGATE_BCAST_ROWS
    for it in range(max_rounds):
        both = state.select("id", "value", F.col("value").alias("old")).unionByName(
            push.select("id", "value", F.lit(None).cast(old_type).alias("old"))
        )
        guard = None
        if small:
            both = both.coalesce(1)
            if it == 0:
                guard = Observation()
                both = both.observe(guard, F.count(F.lit(1)).alias("n"))
        cur = both.groupBy("id").agg(
            F.min("value").alias("value"), F.max("old").alias("old")
        )
        if small:
            # state ids are unique (grouped by id) and so are the
            # frontier's, so each edge pushes at most one row: the
            # aggregate has at most rows + n_edges rows (round 0's
            # guard checks the caller's bound instead).  Its estimate
            # then stays small in the checkpoint, for the self-join, the
            # next round and the caller's plans.
            cur = _one_partition(cur, rows + n_edges)
        if jump_from is not None and it >= jump_from:
            # In a shuffled round both sides must plan the identical
            # aggregate, or Spark computes the round twice instead of
            # reusing its exchange: ids are never NULL, and filtering on
            # it here matches the isnotnull(j_id) Spark infers for the
            # hop side; least(value, old) == value, but reading ``old``
            # stops column pruning from dropping max(old) on the hop
            # side only.  In a one-partition round both sides are the
            # same partition, joined in place; the hop side recomputes
            # the aggregate inside the round's one task.
            cur = cur.filter(F.col("id").isNotNull())
            hop = cur.select(
                F.col("id").alias("j_id"), F.least("value", "old").alias("j_value")
            )
            if small:
                hop = hop.hint("shuffle_hash")
            elif rows is not None and rows <= _PROPAGATE_BCAST_ROWS:
                hop = F.broadcast(hop)
            cur = cur.join(hop, F.col("value") == F.col("j_id"), "left").select(
                "id",
                F.least("value", F.coalesce("j_value", "value")).alias("value"),
                "old",
            )
        is_changed = F.col("old").isNull() | (F.col("value") < F.col("old"))
        obs = Observation()
        cur = cur.observe(
            obs,
            F.sum(is_changed.cast("long")).alias("changed"),
            F.count(F.lit(1)).alias("rows"),
        ).localCheckpoint()
        if guard is not None and (read := guard.get["n"]) > rows + n_edges:
            raise ValueError(
                f"min_propagate: round 0 read {read} state and push rows, "
                f"over its bound of {rows + n_edges} (state_rows="
                f"{rows} + {n_edges} edges): state_rows must bound the "
                "state's row count"
            )
        # sum() over zero rows is NULL — an empty state is converged
        metrics = obs.get
        changed, rows = int(metrics["changed"] or 0), metrics["rows"]
        state = cur.select("id", "value")
        if changed == 0:
            return state, it + 1, 0
        frontier = cur.filter(is_changed).select(F.col("id").alias("src"), "value")
        small = rows + n_edges <= _PROPAGATE_BCAST_ROWS
        out_edges = edges
        if small:
            out_edges = _one_partition(edges, n_edges)
            frontier = _one_partition(frontier, changed).hint("shuffle_hash")
        elif changed <= _PROPAGATE_BCAST_ROWS:
            frontier = F.broadcast(frontier)
        push = out_edges.join(frontier, "src").select(
            F.col("dst").alias("id"), (F.col("value") + step).alias("value")
        )
    return state, max_rounds, changed
