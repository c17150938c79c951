"""The benchmark's workloads: named lists of operator keys.

The two workloads split the registry by where a key's time goes:

- ``olap``: keys that run few scheduler jobs, most of them at run time.
  Their time goes to scans, shuffles, generated code and per-row CPU.  The
  read-only query keys and the word-count MapReduce job sit here with two
  text-curation kernels (Levenshtein distance, TF-IDF).
- ``fixpoint``: keys whose build runs many jobs: the eager checkpoint of
  each fixpoint round, and the write and re-read steps of table sinks.
  Their time goes to the fixed cost of each scheduler job.

A change that removes jobs should move ``fixpoint`` and leave ``olap``
flat; a change to a per-row kernel or to the scan path should do the
reverse.  The lists are short so that a run (two cold set-ups, a warm-up
pass with the oracle check, then three timed passes of 5-7 s each at
local[4]) fits the per-run time budget; ``README.md`` says which keys were
left out and why.

Keys run in list order, back to back.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "olap": [
        "tpch_q1",             # relational
        "tpch_q3",             # joins
        "agg_grouping_sets",   # aggregations
        "win_rank",            # windows
        "mr_word_count",       # mapreduce_jobs: the canonical map, shuffle, reduce
        "dedup_fuzzy_edit",    # llm_extras: Levenshtein distance
        "text_tfidf",          # llm_pipeline
    ],
    "fixpoint": [
        "graph_bfs",           # graph: fixed-round frontier loop
        "dedup_cluster_cc",    # llm_extras: _min_label_cc fixpoint
        "sink_compact",        # scale: write, then compact the files
        "cdc_upsert",          # training_pipeline
    ],
}

# the inputs each workload's keys read; ``tables.scan_s`` scans these
TABLES: dict[str, list[str]] = {
    "olap": ["lineitem", "orders", "customer", "documents"],
    "fixpoint": ["lineitem", "orders", "documents", "events"],
}



def warm_up(spark, data_dir: str):
    """The untimed query that ends every set-up: a small aggregate over one
    table, which proves the session can read the corpus.  The workload's own
    keys warm up in the first pass."""
    from task_mapreduce_spark.tables import load

    return load(spark, data_dir, "nation").groupBy("n_regionkey").count()
