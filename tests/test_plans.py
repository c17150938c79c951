"""Physical-plan assertions — the 100 TB design contract, enforced.

Correctness tests prove the operators compute the right values; these
prove they'd still be FAST at scale: filters reach the parquet scan,
scans prune columns, small dims broadcast, the theta join never plans a
cartesian product, aggregates keep their map-side partial phase, and
top-k stays O(k) per partition.  A regression here is a scale bug even
when every value still matches."""

from __future__ import annotations

import contextlib
import io
import uuid

import pytest

from pyspark.sql import functions as F

from task_mapreduce_spark.registry import QUERIES
from task_mapreduce_spark.tables import TABLE_NAMES, load


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plan_of(spark, sf_dir, key: str, mode: str = "formatted") -> str:
    return explain_str(QUERIES[key](spark, sf_dir), mode)


@pytest.fixture(scope="module")
def all_dfs(spark, sf_dir):
    """One CONSTRUCTED DataFrame per registered key (excl. the
    streaming source, which has no batch plan).  Construction-side
    jobs (eager checkpoints, gating aggregates, merge-store writes)
    run here exactly once, overlapped on a small thread pool (the
    Spark scheduler runs independent jobs concurrently — guide §2.6);
    every all-key plan audit below explains these frames instead of
    rebuilding all 193 queries per test (round 14: the three sweeps
    each paid ~200 s of reconstruction at sf0.001; explains of an
    already-built frame reuse its cached QueryExecution)."""
    from concurrent.futures import ThreadPoolExecutor

    keys = [k for k in sorted(QUERIES) if k != "stream_source"]
    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(
            zip(keys, pool.map(lambda k: QUERIES[k](spark, sf_dir), keys))
        )


def _spark_at_least(spark, major: int, minor: int) -> bool:
    parts = spark.version.split(".")
    have = (int(parts[0]), int(parts[1]))
    return have >= (major, minor)


def require_window_group_limit(spark) -> None:
    """The WindowGroupLimit physical node ships in Spark 3.5+; the
    installed build swaps between rounds (CLAUDE.md), so on an older
    build the operators stay correct but the node-name assertion would
    fail vacuously — skip rather than fail."""
    if not _spark_at_least(spark, 3, 5):
        pytest.skip("WindowGroupLimit node requires Spark >= 3.5")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_pred")
    assert "PushedFilters: [" in plan
    # the BETWEEN bounds and IN-list must push into the parquet reader
    assert "GreaterThanOrEqual(o_totalprice" in plan
    assert "In(o_orderstatus" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "project_rename_cast")
    # ReadSchema lists only the 5 referenced columns — a scan reading
    # all 11 lineitem columns for a 5-column projection is wrong
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice", "l_returnflag"):
        assert col in read
    for col in ("l_partkey", "l_suppkey", "l_quantity", "l_tax", "l_discount"):
        assert col not in read, f"scan reads unused column {col}"


def test_small_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_broadcast")
    # two joins (nation AND region), both broadcast; formatted mode
    # prints each node in the tree and again in the detail section
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_multiway_broadcasts_dims_and_shuffles_facts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_multiway")
    assert "BroadcastHashJoin" in plan  # nation⋈region side replicated
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_theta_join_keeps_equi_key(spark, sf_dir):
    # the range predicate must ride on an equi-join (user_id), never a
    # nested-loop over the full cross product
    plan = plan_of(spark, sf_dir, "join_theta_range")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_limit")
    assert "TakeOrderedAndProject" in plan  # O(k) per partition, no global sort


def test_topk_per_group_has_group_limit(spark, sf_dir):
    require_window_group_limit(spark)
    plan = plan_of(spark, sf_dir, "win_topk_per_group")
    assert "WindowGroupLimit" in plan  # rows past rank k dropped pre-sort


def test_agg_keeps_partial_phase(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q1")
    # partial + final hash aggregate = the MapReduce combiner; losing it
    # would shuffle every input row
    assert plan.count("HashAggregate") >= 2


def test_semi_anti_plan_shapes(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_semi_anti")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_probe_side_broadcast_in_sim_search(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sim_search_topk")
    # corpus streams, probes replicate: exactly one broadcast exchange
    assert "BroadcastExchange" in plan


def test_no_python_udfs_in_relational_paths(all_dfs):
    # everything outside the declared UDF/multimodal keys must stay
    # JVM-side: no Python evals anywhere in the plan
    py_keys = {"udf_scalar_pandas", "udaf_grouped_agg", "udtf_flatmap",
               "stream_stateful", "multimodal_decode", "multimodal_frames",
               "multimodal_resize", "stream_source",
               "mr_word_count", "mr_grep", "mr_inverted_index"}
    for key in sorted(set(all_dfs) - py_keys):
        plan = explain_str(all_dfs[key], mode="simple")
        # two detectors: row-at-a-time UDFs print "Python"; vectorized
        # pandas operators print MapInPandas / FlatMapGroupsInPandas
        assert "Python" not in plan, f"{key} plans a Python eval:\n{plan}"
        assert "InPandas" not in plan, f"{key} plans a pandas operator:\n{plan}"


def test_partition_pruning_on_partitioned_sink(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sink_partitioned")
    # the year filter must prune directories at the scan, not filter rows
    assert "PartitionFilters" in plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "yr" in pf_line


def test_no_cartesian_anywhere(all_dfs):
    # a cartesian product anywhere is a 100 TB outage; a broadcast
    # nested-loop is acceptable ONLY where the broadcast side is a
    # handful of rows by construction:
    bnlj_ok = {
        "sim_search_topk",      # 5 probe vectors replicated, corpus streams
        "histogram_equidepth",  # 1-row percentile-bounds crossJoin
        "profile_columns",      # 1-row NDV-aggregate crossJoin
        "sim_search_ivf",       # √N centroid ROWS broadcast (≈16 MB at 1 B vecs)
        "sim_search_ivf_hier",  # super/centroid tables broadcast (√nlist and
        #                         nlist rows — metadata in the knob regime)
        "sim_search_ann",       # 1-row active-plane-count (np) crossJoin
        "dedup_semantic",       # shares sim_search_ivf's centroid broadcast
        "mine_hard_negatives",  # shares sim_search_ivf's centroid broadcast
        "quality_perplexity",   # 1-row corpus-token-count crossJoin
        "join_bloom",           # 1-row 2 KB bloom-bitmap crossJoin
        "text_bm25",            # 1-row corpus-stats (N, avgdl) crossJoin
        "pipeline_retrieval_e2e",  # 1-row query-vector crossJoin (+ bm25 stats)
        "tpch_q15",             # 1-row MAX(total_revenue) scalar-subquery crossJoin
        "tpch_q22",             # 1-row global-avg-balance scalar-subquery crossJoin
        "basket_pairs",         # 1-row order-total crossJoin (lift denominator)
        "embedding_pq",         # 1-row stride-params crossJoin (seed rule)
        "sim_search_pq",        # shares embedding_pq's 1-row params crossJoin
        "sim_search_pq_const",  # same shape, constant-K codebook arm
        "sim_search_ivfpq",     # 1-row stride params + √N centroid rows
        #                         (the IVF coarse level's broadcasts)
        "sim_eval_recall",      # embeds sim_search_topk's broadcast-probe arm
        "sim_eval_recall_multi",  # embeds topk/ann/ivf/pq arms + 5-probe L2 scan
        "sim_eval_recall_deploy",  # embeds hier/pq_const/ivfpq arms verbatim
        #                            + topk + 5-probe exact-L2 ground truth
        "dedup_eval_prf",       # 1-row subset-violation-count crossJoin
        "quality_eval_report",  # embeds quality_perplexity's 1-row
        #                         corpus-token-count crossJoin verbatim
        "dedup_eval_ari",       # two 1-row pair-count-aggregate crossJoins
        "dedup_index_persist",  # two 1-row store-audit-count crossJoins
        "retrieval_fuse_rrf",   # 1-row bm25 stats + 5 probe vectors
        "retrieval_eval_rank",  # embeds retrieval_fuse_rrf + the topk
        #                         probe broadcast, both verbatim
        "sim_index_persist",    # reloaded √N centroid rows + two 1-row
        #                         store-audit-count crossJoins (the
        #                         sim_search_ivf shapes, store-side)
        "sim_index_ingest",     # reloaded √N centroid rows (frozen-assign
        #                         + probe ranking) + 1-row audit crossJoins
        "pq_index_persist",     # 1-row stride params (encode arm) + two
        #                         1-row store-audit-count crossJoins
        "events_attribution_incremental",  # 1-row pivot-bounds crossJoin
        "agg_quantile_merge",   # 1-row audit stats + 5-row quantile-read
        #                         frame against the ≤|bins|-row histogram
        "sink_merge_upsert",    # 1-row audit crossJoin (batch op counts
        #                         + reloaded-manifest counts)
        "sink_merge_vacuum",    # 1-row from-disk audit crossJoin
        #                         (deletions performed × surviving v1
        #                         partition count)
        "rollup_cdf_maintain",  # 1-row feed-consumption-count crossJoin
        "profile_drift_psi",    # 1-row ref-stats / category-count
        #                         crossJoins (metadata broadcasts)
    }
    for key in sorted(all_dfs):
        plan = explain_str(all_dfs[key], mode="simple")
        assert "CartesianProduct" not in plan, f"{key} plans a cartesian"
        if key not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{key} plans an unexpected nested-loop join"
            )


def test_whole_stage_codegen_active(spark, sf_dir):
    # an un-executed AdaptiveSparkPlan reports 0 codegen subtrees, so
    # inspect the static plan: AQE off for the introspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for key in ("tpch_q1", "agg_count_sum_avg", "join_inner_hash"):
            plan = plan_of(spark, sf_dir, key, mode="codegen")
            first = plan.strip().splitlines()[0]
            assert "WholeStageCodegen subtrees" in first, f"{key}: {first}"
            assert "Found 0" not in first, f"{key} lost codegen"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q5_broadcasts_local_suppliers(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q5")
    # region⋈nation⋈supplier side replicated; facts shuffle on keys
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    import re

    plan = plan_of(spark, sf_dir, "join_bucketed")
    assert "SortMergeJoin" in plan
    # the ONLY Exchange is the final aggregation's shuffle — the join
    # itself reads co-located buckets (this is the entire point)
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, f"bucketed join shuffles: {exchanges}\n{plan}"
    # bucket-pruned scans: Bucketed: true on both sides
    assert plan.count("Bucketed: true") >= 2, plan


def test_salted_join_spreads_keys_without_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_skew_salted")
    # the technique only demonstrates under the shuffle path
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # the salt must be part of the shuffle keys on both sides
    assert "salt" in plan


def test_sample_hash_is_scan_side_narrow(spark, sf_dir):
    import re

    plan = plan_of(spark, sf_dir, "sample_hash")
    # the sampling predicate evaluates at the scan stage (before any
    # exchange); only the aggregation shuffles
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, f"sampling should not shuffle: {exchanges}"
    assert "md5" in plan


def test_cdc_upsert_keeps_window_group_limit(spark, sf_dir):
    require_window_group_limit(spark)
    # latest-per-key must drop rows past rank 1 BEFORE the sort buffer
    # grows — WindowGroupLimit is what makes the merge scale
    plan = plan_of(spark, sf_dir, "cdc_upsert")
    assert "WindowGroupLimit" in plan


def test_sample_stratified_filter_is_scan_side(spark, sf_dir):
    # the md5-threshold keep decision must evaluate in the scan stage:
    # no Exchange may appear below the aggregation
    plan = plan_of(spark, sf_dir, "sample_stratified", mode="simple")
    assert "Exchange" in plan  # the one group-by shuffle
    # simple mode prints the tree root-first, so everything AFTER the
    # last Exchange line is the pre-shuffle (scan-side) stage — the
    # md5 filter must live there, not above the shuffle
    below_shuffle = plan.rsplit("Exchange", 1)[1]
    assert "Filter" in below_shuffle
    assert "CartesianProduct" not in plan


def test_embedding_quantize_is_narrow(spark, sf_dir):
    # pure projections: no Exchange, no Sort, no join anywhere
    for key in ("embedding_quantize", "embedding_project_rp"):
        plan = plan_of(spark, sf_dir, key)
        for op in ("Exchange", "SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert op not in plan, f"unexpected {op} in {key}"


def test_rollup_hypertable_single_shuffle(spark, sf_dir):
    # all rollup levels must share ONE shuffle (Expand + partial agg),
    # not one job per granularity
    plan = plan_of(spark, sf_dir, "rollup_hypertable")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # partial→final agg


def test_pack_sequences_partitions_by_lang(spark, sf_dir):
    # the running-sum window must partition by the corpus shard key —
    # a global (empty-partition) window would serialize the corpus
    plan = plan_of(spark, sf_dir, "pack_sequences")
    assert "Window" in plan
    assert "hashpartitioning(lang" in plan


def test_q18_scans_lineitem_exactly_once(spark, sf_dir):
    # the HAVING subquery's aggregate is reused for sum_qty — a second
    # lineitem scan means the fact table is being read twice at 100 TB
    plan = plan_of(spark, sf_dir, "tpch_q18")
    assert plan.count("lineitem.parquet") == 1, plan


def test_q10_broadcasts_nation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q10", mode="simple")
    assert "BroadcastHashJoin" in plan, plan


def test_q6_pushes_all_predicates_to_scan(spark, sf_dir):
    # Q6 is the scan-throughput key: date window, discount band, and
    # quantity cap must ALL reach the parquet reader, and the scan must
    # read only the columns the query touches.
    plan = plan_of(spark, sf_dir, "tpch_q6")
    assert "PushedFilters: [" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"GreaterThanOrEqual({frag}" in plan or f"LessThan({frag}" in plan, plan
    assert "l_returnflag" not in plan  # pruned: never referenced


def test_q14_and_q19_broadcast_part(spark, sf_dir):
    for key in ("tpch_q14", "tpch_q19"):
        plan = plan_of(spark, sf_dir, key, mode="simple")
        assert "BroadcastHashJoin" in plan, (key, plan)
        assert "SortMergeJoin" not in plan, (key, plan)


def test_q19_factors_predicates_to_both_scans(spark, sf_dir):
    # Catalyst must derive per-side filters from the OR-of-ANDs and
    # push them below the join: the brand/size disjunction to the part
    # scan, the quantity envelope to the lineitem scan.
    plan = plan_of(spark, sf_dir, "tpch_q19")
    assert "EqualTo(p_brand,Brand#1)" in plan, plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan


def test_q4_plans_left_semi(spark, sf_dir):
    # EXISTS must decorrelate to a semi join (dedup inside the join),
    # not an inner join + distinct.
    plan = plan_of(spark, sf_dir, "tpch_q4", mode="simple")
    assert "LeftSemi" in plan, plan


def test_langid_profile_broadcasts(spark, sf_dir):
    # the learned profile is O(langs * K) rows — the classify join must
    # broadcast it so the corpus side never shuffles text.
    plan = plan_of(spark, sf_dir, "text_langid", mode="simple")
    assert "BroadcastHashJoin" in plan, plan


def test_pii_redact_is_narrow(spark, sf_dir):
    # a scrub pass is scan-speed or it is wrong: no exchange at all.
    plan = plan_of(spark, sf_dir, "pii_redact", mode="simple")
    for op in ("Exchange", "SortMergeJoin", "BroadcastHashJoin"):
        assert op not in plan, plan


def test_q7_q8_broadcast_all_dims(spark, sf_dir):
    # both nation roles (q7) / every dim side (q8) must broadcast; the
    # only sort-merge-eligible joins are the fact-spine shuffles.
    plan = plan_of(spark, sf_dir, "tpch_q7", mode="simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    plan = plan_of(spark, sf_dir, "tpch_q8", mode="simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_bm25_filters_terms_before_shuffle(spark, sf_dir):
    # the query-term IN-filter must sit directly on the token Generate
    # (i.e. before the (doc, tok) aggregation exchange) — otherwise the
    # whole vocabulary shuffles at 100 TB.  In formatted mode the
    # filter prints as a Condition on the node right after Generate.
    plan = plan_of(spark, sf_dir, "text_bm25")
    assert "IN (hash,join,scan)" in plan, plan
    gen = plan.index("Generate")
    assert plan.index("IN (hash,join,scan)") > gen, plan


def test_rag_chunk_is_narrow(spark, sf_dir):
    # chunking is an in-row fan-out: no exchange, no join.
    plan = plan_of(spark, sf_dir, "rag_chunk", mode="simple")
    for op in ("Exchange", "SortMergeJoin", "BroadcastHashJoin"):
        assert op not in plan, plan


def test_corpus_pipeline_two_shuffles_and_early_gate(spark, sf_dir):
    # gate -> dedup -> split -> accounting must cost exactly two
    # exchanges (digest window, final agg); the length gate filters at
    # the scan, before the window shuffle.
    plan = plan_of(spark, sf_dir, "pipeline_corpus_e2e", mode="simple")
    assert plan.count("Exchange") == 2, plan
    scan_pos = plan.index("Scan parquet")
    win_pos = plan.index("Window")
    filt_pos = plan.rindex("Filter")   # plans print top-down: the
    assert win_pos < filt_pos < scan_pos or "size(split" in plan, plan


def test_events_pipeline_reuses_session_partitioning(spark, sf_dir):
    # sessionize's user_id shuffle must also serve the per-user agg:
    # exchanges = session window shuffle + final distribution agg only
    plan = plan_of(spark, sf_dir, "pipeline_events_e2e", mode="simple")
    assert plan.count("Exchange") <= 3, plan


def test_topk_rank_keys_use_take_ordered(spark, sf_dir):
    # ranked top-k must reach the limit via TakeOrderedAndProject
    # (O(k) per partition), never an unpartitioned rank window over
    # the full candidate set
    for key in ("text_bm25", "pipeline_retrieval_e2e"):
        plan = plan_of(spark, sf_dir, key, mode="simple")
        assert "TakeOrderedAndProject" in plan, (key, plan)


def test_knn_join_group_limit_and_cell_equi_join(spark, sf_dir):
    require_window_group_limit(spark)
    # per-vector top-k must be WindowGroupLimit (O(k) state per key),
    # and candidates must come from the cell equi-join, never a
    # cartesian (the no-cartesian sweep also covers this)
    plan = plan_of(spark, sf_dir, "sim_join_knn")
    assert "WindowGroupLimit" in plan


def test_sample_balanced_group_limit(spark, sf_dir):
    require_window_group_limit(spark)
    # the per-stratum cap must drop rows past N before the sort
    plan = plan_of(spark, sf_dir, "sample_balanced")
    assert "WindowGroupLimit" in plan


def test_boilerplate_never_recomputes_shingles_per_row(spark, sf_dir):
    # regression pin for the size-beside-explode hoist: projecting
    # size(win_hashes) next to explode(win_hashes) makes Catalyst
    # re-evaluate the whole shingle transform once per exploded row
    # (O(L²) per doc; 5.8 s → 1.2 s at sf0.1).  The fixed plan derives
    # n_shingles from COUNT(*), so no size(array_distinct(...)) may
    # appear anywhere
    plan = plan_of(spark, sf_dir, "text_boilerplate_ngrams")
    assert "size(array_distinct" not in plan


def test_fingerprint_never_inlines_token_transform_in_a_filter(spark, sf_dir):
    # regression pin for the InferFiltersFromGenerate re-trigger: an
    # inferred size(hs)>0 filter pushed below the projections inlines
    # the token transform into every element_at (0.5 s → 11 s).  With
    # explode_outer no Filter in this plan may contain element_at
    plan = plan_of(spark, sf_dir, "text_fingerprint", mode="formatted")
    # the healthy plan computes `cs` once in a Project; the quadratic
    # one substitutes the token transform into element_at calls
    assert "element_at(transform(split" not in plan


def test_watermark_running_max_window_is_partitioned(spark, sf_dir):
    # the running high-water mark must distribute via the bucket
    # decomposition: the events-sized window partitions by bkt (an
    # Exchange hashpartitioning(bkt...) feeds it); the only
    # SinglePartition window allowed is the exclusive prefix max over
    # the ≤256-row per-bucket maxima AGGREGATE — so every
    # SinglePartition exchange in this plan must sit above a
    # HashAggregate, never above the raw scan
    plan = plan_of(spark, sf_dir, "stream_watermark_late")
    assert "hashpartitioning(bkt" in plan, plan
    # formatted mode prints the tree with numbered nodes; walk each
    # Exchange SinglePartition and check its input is the bucket agg
    import re

    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()

    def node_depth(s: str) -> int:
        # tree glyphs (spaces, ':', '+', '-', '*') precede the operator
        # name; their count is the node's depth in the printed tree
        m = re.match(r"[\s:+*()0-9-]*", s)
        return m.end()

    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        # the ENTIRE child subtree of the exchange (every following line
        # printed deeper than the exchange itself) must contain the
        # bucket-maxima HashAggregate — a Sort alone (a full-table sort
        # funneled through one partition, the exact shape this test
        # forbids) no longer passes, and the check is indentation-
        # bounded instead of a fixed 2-line window
        depth = node_depth(line)
        subtree = []
        for below in lines[i + 1 :]:
            if node_depth(below) <= depth:
                break
            subtree.append(below)
        assert any("HashAggregate" in s for s in subtree), plan


def test_mr_grep_is_map_only_no_shuffle(spark, sf_dir):
    # reducer=None (numReduceTasks=0): a grep job is a pure parallel
    # scan — any Exchange in this plan is a regression back to the
    # identity-reduce shuffle
    plan = plan_of(spark, sf_dir, "mr_grep", mode="simple")
    assert "Exchange" not in plan


def test_basket_pairs_lift_joins_unhinted_but_aqe_broadcast(spark, sf_dir):
    # the |catalog|-sized per-item count joins carry no static broadcast
    # hint (AQE must stay free to shuffle at scale), yet at fixture
    # scale AQE converts every join to broadcast — both facts pinned.
    # Depends on the private _jdf.queryExecution() accessor AND on AQE
    # being on; the installed build swaps between rounds (CLAUDE.md),
    # so degrade to a skip rather than a false failure when either is
    # unavailable — the no-static-hint source property the test really
    # protects is build-independent.
    from task_mapreduce_spark.registry import QUERIES

    if spark.conf.get("spark.sql.adaptive.enabled", "true") != "true":
        pytest.skip("AQE disabled: no runtime broadcast conversion")
    df = QUERIES["basket_pairs"](spark, sf_dir)
    df.collect()  # AQE final plan materializes after execution
    try:
        final = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        pytest.skip("private queryExecution accessor unavailable")
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final


def test_rrf_arm_topk_keeps_window_group_limit(spark, sf_dir):
    require_window_group_limit(spark)
    # both arms' per-query top-20 and the fused top-10 are row_number
    # windows filtered by rank — each must drop rows past k before the
    # sort buffer grows, or the lexical arm buffers every matching doc
    plan = plan_of(spark, sf_dir, "retrieval_fuse_rrf")
    assert plan.count("WindowGroupLimit") >= 3


def test_hard_negatives_keeps_window_group_limit(spark, sf_dir):
    require_window_group_limit(spark)
    # the per-vector top-k must drop rows past rank 5 before the sort
    # buffer grows — same contract as sim_join_knn's
    plan = plan_of(spark, sf_dir, "mine_hard_negatives")
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------------------------
# Standing audits over ALL registered plans (round-8 hardening)
# ---------------------------------------------------------------------------

# Exhaustive manifest of forced broadcast hints: key -> (max analyzed-plan
# ResolvedHint(strategy=broadcast) count, the BOUNDED side justifying it).
# A broadcast hint is legitimate ONLY when the hinted side's cardinality is
# bounded by construction (1-row/metadata aggregates, ≤|dims| rows,
# byte-gated build sides, eval sets that are MBs by nature) — NEVER when it
# is corpus-derived (|vocab|, |docs|, |tokens|).  text_tfidf/text_keywords
# carried exactly that defect through round 7 (forced |vocab| df broadcast);
# the fix dropped the hint so AQE decides, and this manifest keeps any key
# from growing a new one unreviewed: a new/raised entry requires writing
# down what bounds the hinted side.
_BROADCAST_HINT_BUDGET = {
    # TPC-H dimension sides (nation/region bounded; part/supplier sides are
    # predicate-filtered per the operator docstrings)
    "join_broadcast": (2, "nation + region dims"),
    "join_multiway": (2, "nation + region dims"),
    "tpch_q5": (3, "nation⋈region + region-local supplier dim"),
    "tpch_q7": (3, "two nation roles + supplier dim"),
    "tpch_q8": (5, "nation⋈region, both nation roles, part, supplier"),
    "tpch_q10": (1, "nation dim"),
    "tpch_q14": (1, "date-filtered part dim"),
    "tpch_q15": (2, "1-row MAX(total_revenue) + supplier dim"),
    "tpch_q17": (1, "brand/container-filtered part dim"),
    "tpch_q19": (1, "brand/container-filtered part dim"),
    "tpch_q22": (1, "1-row global avg balance"),
    # 1-row / metadata-sized aggregates (the sort_global-literal class)
    "sort_global": (1, "≤65-row percentile boundary aggregate"),
    "histogram_equidepth": (1, "1-row percentile-bounds aggregate"),
    "profile_columns": (1, "1-row NDV-aggregate cross join"),
    "anomaly_mad": (2, "per-event_type median + MAD aggregates (|types| rows)"),
    "basket_pairs": (1, "1-row order-total (lift denominator)"),
    "quality_perplexity": (1, "1-row corpus-token-count (unigram join UNHINTED)"),
    "quality_eval_report": (1, "inherited: embeds quality_perplexity's"
                               " 1-row corpus-token-count broadcast verbatim"),
    "dedup_eval_ari": (2, "two 1-row pair-count aggregates (IVF centroid"
                          " broadcasts hidden behind _ivf_cells checkpoints)"),
    "dedup_index_persist": (2, "two 1-row store-audit count aggregates"
                               " (probe/verify joins UNHINTED)"),
    "text_collocation_pmi": (1, "|langs|-row pair totals (unigram joins UNHINTED)"),
    "text_bm25": (2, "1-row (N, avgdl) stats + standing-query-filtered df"),
    "retrieval_fuse_rrf": (6, "5-query term/vocab/df sides (query-vocab-"
                              "bounded) + 1-row stats + 5 probe vectors; 6"
                              " not 5: the analyzed TREE embeds tf's vocab"
                              " hint twice (tf feeds both parts and df)"),
    "text_langid": (1, "|langs|-row n-gram profile"),
    "corpus_mix_weighted": (1, "|langs|-row weight table"),
    "sessions_concurrency": (2, "bucket-maxima prefix aggregates (≤256 rows)"),
    "stream_watermark_late": (1, "≤256-row bucket prefix-max aggregate"),
    "join_bloom": (1, "1-row 2 KB bloom bitmap"),
    "dedup_eval_prf": (1, "1-row subset-violation count"),
    # similarity/ANN: centroid tables are √N rows (≈16 MB at 1 B vectors,
    # documented in SCALE.md), probe/param sides are 1-row or k rows
    "sim_search_topk": (1, "5 probe vectors"),
    "sim_search_ann": (3, "1-row plane params + probe buckets"),
    "sim_search_ivf": (9, "√N centroid rows, re-broadcast per Lloyd step + 1-row params + probe cells"),
    # two-level assign: supers subtree embedded twice (cent_sup + v_sup
    # consumers) + cent_sup + probe-ranking cents + probe cells; earlier
    # assign rounds are checkpoint-truncated out of the analyzed tree
    "sim_search_ivf_hier": (8, "assign supers ×2 + cent-groups + seed params"
                               " + probe supers + |q|·S qsup + probes"
                               " + in-plan (g, np) params (two-level probe,"
                               " round 13 — measured tree count)"),
    # merge family: snapshot reads prune with literal partition filters
    # from the driver-side manifest, so only the 1-row audit frames are
    # hinted; sink_merge_history and sink_changelog_cdf hint nothing, so
    # any hint there fails the audit
    "sink_merge_upsert": (1, "1-row batch-op-count audit"),
    "sink_merge_vacuum": (1, "1-row from-disk audit"),
    "rollup_cdf_maintain": (1, "1-row feed-count audit"),
    # 1-row reference stats broadcast to binning + terms (tree count 2)
    # + the 10-row bin frame + the 1-row category-count aggregate
    "profile_drift_psi": (4, "1-row ref stats ×2 consumers + 10-row bin"
                             " frame + 1-row category count"),
    "sim_join_knn": (1, "byte-gated cell build side (_cell_join_sides)"),
    "dedup_embedding": (1, "byte-gated cell build side (_cell_join_sides)"),
    "dedup_semantic": (1, "√N centroid rows (shares sim_search_ivf's)"),
    "mine_hard_negatives": (1, "√N centroid rows (shares sim_search_ivf's)"),
    "sim_eval_recall": (4, "composes topk probe + ann params/probe arms"),
    "sim_eval_recall_multi": (24, "sum of the embedded arms' own budgets"
                                  " (topk + ann + ivf + pq, each verbatim)"
                                  " + the |q|-row exact-L2 probe broadcast"),
    # deployment-arm scoreboard (round 13): hier + pq_const + ivfpq
    # embedded verbatim (each key's own budgeted hints, minus the
    # subtrees their checkpoints truncate) + topk's probe broadcast +
    # the |q|-row exact-L2 probe.  Measured 18 at the build round;
    # 22 after the round-13 OPTIMIZATION pass dropped ivfpq's two
    # single-consumer checkpoints — the probe-ranking subtree's
    # bounded hints (√nlist supers, |q|·S qsup, 1-row params, 1-row
    # stride) are now LIVE in the analyzed tree instead of truncated
    # (the CLAUDE.md tree-count convention: same calls, more visible
    # nodes)
    "sim_eval_recall_deploy": (22, "sum of hier/pq_const/ivfpq budgets"
                                   " + topk probe + |q|-row L2 probe;"
                                   " +4 live bounded probe-side hints"
                                   " after the r13 checkpoint drops"),
    "pipeline_retrieval_e2e": (3, "1-row query vector + bm25 stats"),
    "embedding_pq": (3, "M·√N-row codebook broadcast per assign (seed +"
                        " 1 Lloyd re-assign; params hidden by checkpoints)"),
    # the flat arm minus the derived-stride params hint (constant K is a
    # plain literal, no 1-row params frame to broadcast) — measured 4
    "sim_search_pq_const": (4, "encode assigns + ADC table + rerank sides"),
    # composed IVF+PQ: centroid broadcasts (res build + probe ranking) +
    # per-(query,cell) lookup tables + shortlist/query rerank sides;
    # earlier assign rounds checkpoint-truncated — measured 4 at the
    # build round, 8 after the round-13 OPTIMIZATION pass un-
    # checkpointed the single-consumer probe and seed-codebook frames:
    # their subtrees (√nlist supers, |q|·S qsup, 1-row probe params,
    # 1-row stride params — every one bounded) now count as live tree
    # nodes instead of being truncated behind the checkpoints
    "sim_search_ivfpq": (8, "cents ×2 + |q|·nprobe·M·K tables + rerank"
                            " sides + 4 live bounded probe/seed-side"
                            " hints after the r13 checkpoint drops"),
    "sim_search_pq": (6, "encode arm's assigns + ADC lookup table + |q|·k'"
                         " shortlist + |q|-row query vectors (all"
                         " centroid/metadata class)"),
    # eval-set / benchmark sides: MBs by nature
    "decontaminate_ngrams": (1, "benchmark eval-set shingles"),
    # round-11 persisted-state + mergeable-distribution keys
    "sim_index_persist": (4, "reloaded √N-row centroid store (ranking +"
                             " probe join) + two 1-row store-audit"
                             " aggregates — all centroid/metadata class"),
    "retrieval_eval_rank": (8, "embeds retrieval_fuse_rrf's 6 (bm25 stats"
                               " + probe vectors, twice-consumed subtrees)"
                               " + sim_search_topk's probe broadcast;"
                               " everything after the arm lists is |Q|·k"
                               " rows"),
    "sim_index_ingest": (6, "reloaded √N-row centroid store consumed by"
                            " BOTH the frozen batch assign and the probe"
                            " ranking, + broadcast probes + two 1-row"
                            " audit aggregates — centroid/metadata class"),
    "pq_index_persist": (5, "encode arm's 1-row stride params + broadcast"
                            " ADC lookup table + |q|·k' shortlist +"
                            " |q|-row query vectors + 1-row store audits"),
    "events_attribution_incremental": (3, "ONE 1-row pivot-bounds"
                                          " aggregate, embedded once per"
                                          " consumer of the split (conv1,"
                                          " carried state, batch 2)"),
    "agg_quantile_merge": (3, "1-row reloaded-store audit aggregates + the"
                              " 5-row quantile-read frame — the histogram"
                              " side (≤|bins| rows, value-resolution-"
                              "bounded) stays unhinted"),
}


@pytest.fixture(scope="module")
def all_extended_plans(all_dfs):
    """One extended-mode explain per registered key, derived from the
    shared ``all_dfs`` construction (plan-build side jobs — BPE's
    argmax literals, sort_global's boundaries — already ran there).
    Built once; both standing audits below read from it."""
    return {
        key: explain_str(df, mode="extended") for key, df in all_dfs.items()
    }


def _analyzed_section(plan: str) -> str:
    import re

    m = re.search(r"== Analyzed Logical Plan ==(.*?)== Optimized", plan, re.S)
    return m.group(1) if m else ""


def _physical_section(plan: str) -> str:
    import re

    m = re.search(r"== Physical Plan ==(.*)$", plan, re.S)
    return m.group(1) if m else ""


def test_no_forced_unbounded_broadcast(all_extended_plans):
    # every forced broadcast hint in every registered plan must appear in
    # the budget manifest above with a bounded-side rationale; a new hint
    # (or one more on an existing key) fails until it's written down.
    import re

    got = {}
    for key, plan in all_extended_plans.items():
        n = len(
            re.findall(
                r"ResolvedHint \(strategy=broadcast\)", _analyzed_section(plan)
            )
        )
        if n:
            got[key] = n
    # drift guard: if the analyzed-plan hint spelling ever changes across
    # Spark builds, this canary key (two explicit dim broadcasts) goes
    # silent and the whole audit would pass vacuously — fail loudly instead
    assert got.get("join_broadcast"), "broadcast-hint plan format drift"
    for key, n in sorted(got.items()):
        assert key in _BROADCAST_HINT_BUDGET, (
            f"{key}: {n} forced broadcast hint(s) not in the budget manifest —"
            " is the hinted side bounded? (|vocab|/|docs| sides must be"
            " UNHINTED so AQE can fall back to a shuffle at scale)"
        )
        budget, why = _BROADCAST_HINT_BUDGET[key]
        assert n <= budget, (
            f"{key}: {n} broadcast hints > budget {budget} ({why})"
        )


def test_no_single_partition_funnel_without_aggregate(all_extended_plans):
    # the stream_watermark_late lesson as a standing rule over EVERY plan:
    # an Exchange SinglePartition is only acceptable when it funnels an
    # AGGREGATE (metadata-sized partials by construction) — never a raw
    # corpus-sized frame (e.g. an unpartitioned Window or global Sort
    # over data).  The subtree check is indentation-bounded, same walker
    # as test_watermark_running_max_window_is_partitioned.
    import re

    def node_depth(s: str) -> int:
        m = re.match(r"[\s:+*()0-9-]*", s)
        return m.end()

    for key, plan in sorted(all_extended_plans.items()):
        lines = _physical_section(plan).splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            depth = node_depth(line)
            subtree = []
            for below in lines[i + 1 :]:
                if node_depth(below) <= depth:
                    break
                subtree.append(below)
            assert any(
                "HashAggregate" in s
                or "ObjectHashAggregate" in s
                or "SortAggregate" in s
                for s in subtree
            ), f"{key}: SinglePartition funnel over a non-aggregate:\n{line}"


def test_two_level_assign_engages_on_knob_path(spark, sf_dir):
    # the regime pin (round-10 verdict #7): the constant-cell knob MUST
    # route through the two-level coarse-quantizer assign — the flat
    # arm measured 412.7 s vs 62.3 s at x100 — while the registered
    # keys keep the flat assign their oracles replay verbatim
    from task_mapreduce_spark.operators import kmeans
    from task_mapreduce_spark.operators.llm_extras import (
        _ivf_assign,
        _ivf_assign_hier,
        _ivf_cells,
        _normed_vectors,
    )
    from task_mapreduce_spark.tables import load

    # topology shows in the analyzed plan: the two-level assign ranks
    # centroids under supers and vectors under supers before the final
    # within-group argmax, so it carries MORE max_by aggregates than
    # the flat arm's single one (per assign round)
    e = _normed_vectors(load(spark, sf_dir, "embeddings"))
    seeds8 = kmeans.seeds(e, "v", stride=8)
    flat = _ivf_assign(e, kmeans.seeds(e, "v"))
    hier = _ivf_assign_hier(e, seeds8)

    def n_maxby(df) -> int:
        return str(df._jdf.queryExecution().analyzed()).count("max_by")

    assert n_maxby(flat) == 1, "flat assign should be one argmax"
    assert n_maxby(hier) >= 3, (
        "knob path lost the two-level assign — the x100 flat-assign "
        "cliff (412.7 s) is back"
    )
    # and _ivf_cells picks the assign from target_cell: its final assign
    # round is live in the analyzed tree (earlier rounds are
    # checkpoint-truncated)
    assert n_maxby(_ivf_cells(e)[0]) == 1
    assert n_maxby(_ivf_cells(e, target_cell=8)[0]) >= 3

    # and the knob assignment is still a TOTAL function onto real cells
    n = e.count()
    assert hier.count() == n
    cents_ids = {r["cid"] for r in seeds8.collect()}
    cells = {r["cell"] for r in hier.select("cell").distinct().collect()}
    assert cells <= cents_ids

    # g = 1 degenerate (review, round 12): a ONE-centroid table must
    # still produce supers — the old `rk % g == 1` rule was false for
    # every row at g = 1, silently emptying the supers and dropping
    # every assignment on both engines (a vacuous-oracle class bug).
    # Build a corpus holding exactly one constant-stride seed.
    import hashlib

    def h48(v) -> int:
        return int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)

    all_ids = [r["vec_id"] for r in e.select("vec_id").collect()]
    seed_ids = [v for v in all_ids if h48(v) % 64 == 0]
    non_seed = [v for v in all_ids if h48(v) % 64 != 0][:7]
    tiny_ids = set(non_seed + seed_ids[:1])
    tiny = e.filter(F.col("vec_id").isin(*tiny_ids))
    cents1 = kmeans.seeds(tiny, "v", stride=64)
    assert cents1.count() == 1, "expected exactly one seed"
    hier1 = _ivf_assign_hier(tiny, cents1)
    got = hier1.select("vec_id", "cell").collect()
    assert len(got) == len(tiny_ids), (
        "g=1 super selection dropped assignments — the rk%g==1 "
        "degenerate is back"
    )
    assert {r["cell"] for r in got} == {seed_ids[0]}

    # and the REGISTERED knob-configuration key (round-11 verdict #1)
    # takes the two-level arm: its final assign round is live in the
    # analyzed tree (earlier rounds are checkpoint-truncated) and must
    # carry the 3-argmax signature (centroid→super, vector→super,
    # within-group) where the flat arm has exactly one
    assert n_maxby(QUERIES["sim_search_ivf_hier"](spark, sf_dir)) >= 3, (
        "sim_search_ivf_hier lost the two-level assign — the x100 "
        "flat-assign cliff (412.7 s) is back on the registered key"
    )


def _assert_static_p_pruning(plan: str, key: str, n_scans: int) -> None:
    """Every scan of a merge store's data versions (``.../data/v<N>``)
    in the formatted ``plan`` reads named partition directories
    (``.../data/v<N>/p=…``), never a version root, and there are at
    least ``n_scans`` of them."""
    import re

    locations = re.findall(r"Location: \w+ \[([^\]]*/data/v\d+[^\]]*)\]", plan)
    assert len(locations) >= n_scans, f"{key}: {len(locations)} data-version scans"
    for loc in locations:
        # Spark elides all but the first path as "..., <n> entries"
        paths = [p for p in loc.split(", ") if not p.startswith("... ")]
        assert all(re.search(r"/data/v\d+/p=[^/]+$", p) for p in paths), (
            f"{key}: a data-version scan reads a version root instead of the"
            f" partition directories the manifest names: [{loc}]"
        )


def test_sink_merge_upsert_snapshot_read_is_partition_pruned(spark, sf_dir):
    # the CoW claim: a snapshot read resolves the manifest on the driver
    # and scans only the partitions each data version owns — each data
    # version's scan names the partition directories the manifest maps
    # to it, or every reader re-reads superseded partition copies
    plan = plan_of(spark, sf_dir, "sink_merge_upsert", mode="formatted")
    _assert_static_p_pruning(plan, "sink_merge_upsert", 2)


def test_sink_changelog_cdf_is_partition_pruned(spark, sf_dir):
    # the CDF claim: pre/post snapshot reads are restricted to the
    # version-changed partitions — scan a version root instead and the
    # diff re-reads the whole table from both snapshots (the
    # 2×-table-scan cost the key exists to avoid)
    plan = plan_of(spark, sf_dir, "sink_changelog_cdf", mode="formatted")
    _assert_static_p_pruning(plan, "sink_changelog_cdf", 3)


def test_sim_index_persist_store_is_partition_pruned(spark, sf_dir):
    # the persisted postings are partitioned by cell and the probe
    # join must prune unprobed cells via dynamic partition pruning —
    # the serving claim the docstring makes, plan-asserted so a layout
    # refactor can't silently regress to full-store scans
    plan = plan_of(spark, sf_dir, "sim_index_persist", mode="formatted")
    assert "dynamicpruning" in plan.lower(), (
        "reloaded postings scan lost its dynamic-pruning subquery — "
        "every probe now reads the whole store"
    )


def test_checkpoint_forgets_partitioning_under_aqe(spark):
    # The Spark fact the iterative keys are built around (graph.py module
    # docstring, rounds.min_propagate): under the session's AQE a
    # checkpoint of a hash-repartitioned frame reports UnknownPartitioning,
    # so a join against it still shuffles that side and pre-partitioning
    # a static edge list buys nothing.  If a Spark upgrade fails this
    # test, checkpoints keep their layout again: revisit min_propagate
    # and graph_pagerank, which re-shuffle the edge list every round.
    def checkpointed_join_exchanges() -> tuple[str, int]:
        side = (
            spark.range(200)
            .select((F.col("id") % 13).alias("k"), "id")
            .repartition(4, "k")
            .localCheckpoint()
        )
        layout = str(
            side._jdf.queryExecution().executedPlan().outputPartitioning()
        )
        small = spark.range(13).select(F.col("id").alias("k"))
        plan = explain_str(side.join(small.hint("shuffle_hash"), "k"))
        tree = plan.split("\n\n")[0]
        return layout, tree.count("Exchange")

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    layout, n_exchanges = checkpointed_join_exchanges()
    assert layout.startswith("UnknownPartitioning"), layout
    assert n_exchanges == 2, "the checkpointed side is no longer shuffled"
    # contrast: without AQE the layout survives and only the small side
    # moves, so the count above really measures the checkpointed side
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        layout, n_exchanges = checkpointed_join_exchanges()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert layout.startswith("hashpartitioning"), layout
    assert n_exchanges == 1


def test_one_partition_join_needs_an_exact_size_estimate(spark):
    # The Spark fact min_propagate's one-job rounds are built around
    # (rounds._one_partition): a checkpoint inherits its source
    # plan's size estimate (here a join of two 2000-row ranges, estimated
    # as the product of their sizes), and EnsureRequirements re-shuffles
    # a one-partition join child estimated over
    # spark.sql.maxSinglePartitionBytes.  A limit at an exact row bound
    # carries the true size, and the same join plans no Exchange.
    from task_mapreduce_spark.operators.rounds import _one_partition

    side = (
        spark.range(2000)
        .join(spark.range(2000), "id")
        .select((F.col("id") % 13).alias("k"), "id")
        .localCheckpoint()
    )
    estimate = side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert spark.conf.get("spark.sql.maxSinglePartitionBytes") == "134217728b"
    assert estimate > 134217728, estimate
    small = spark.range(13).select(F.col("id").alias("k"))

    def exchanges(left, right) -> int:
        plan = explain_str(left.join(right.hint("shuffle_hash"), "k"))
        return plan.split("\n\n")[0].count("Exchange")

    assert exchanges(side.coalesce(1), small.coalesce(1)) == 2
    assert exchanges(_one_partition(side, 2000), _one_partition(small, 13)) == 0


def _record_jobs(spark, monkeypatch, method: str, plans: list) -> None:
    """Make every DataFrame ``method`` call (``localCheckpoint``,
    ``first``) append its frame's physical plan and the scheduler jobs
    the call ran, counted in a job group of its own, to ``plans``."""
    cls = type(spark.range(1))
    call = getattr(cls, method)
    sc = spark.sparkContext
    run = uuid.uuid4().hex  # job groups outlive the test: keep them apart

    def recorded(df, *args, **kwargs):
        group = f"one-job-round/{run}/{len(plans)}"
        sc.setJobGroup(group, group)
        try:
            out = call(df, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        plans.append((explain_str(df).split("\n\n")[0], jobs))
        return out

    monkeypatch.setattr(cls, method, recorded)


def _chain(spark, n: int):
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    return nodes, edges


def test_small_propagate_rounds_run_as_one_job(spark, monkeypatch):
    # A min_propagate round within the row budget runs its push join,
    # its min-aggregate and its pointer-jump self-join in one partition:
    # its plan has no Exchange and no BroadcastExchange, and its
    # checkpoint runs one scheduler job.  Round 0 runs so too when the
    # caller bounds its state rows, and stays shuffled when it does not.
    # A 30-node chain runs 6 rounds, 5 of them jumping.
    from task_mapreduce_spark.operators.llm_extras import _min_label_cc

    for n_nodes in (None, 30):
        rounds: list[tuple[str, int]] = []
        _record_jobs(spark, monkeypatch, "localCheckpoint", rounds)
        labels = _min_label_cc(*_chain(spark, 30), n_nodes)
        monkeypatch.undo()
        assert {r["label"] for r in labels.collect()} == {0}
        # rounds[0] is the edge-list checkpoint, rounds[1] round 0
        if n_nodes is None:
            assert "Exchange" in rounds[1][0]
            one_job = rounds[2:]
        else:
            one_job = rounds[1:]
        assert len(one_job) == (5 if n_nodes is None else 6)
        assert sum("ShuffledHashJoin LeftOuter" in p for p, _ in one_job) == 5
        for plan, jobs in one_job:
            assert "Exchange" not in plan, plan
            assert jobs == 1


def test_state_rows_below_the_true_count_raises(spark):
    # A round-0 bound below the state's rows would let the aggregate's
    # limit drop rows; round 0's job counts state ∪ push, and the kernel
    # raises instead of returning short labels.
    from task_mapreduce_spark.operators.llm_extras import _min_label_cc

    with pytest.raises(ValueError, match="over its bound of 87"):
        _min_label_cc(*_chain(spark, 30), 29)


@pytest.mark.parametrize("budget", ["default", "zero"])
def test_small_bpe_rounds_run_as_one_job(spark, tmp_path, monkeypatch, budget):
    # Over a vocabulary within the row budget, _bpe_train checkpoints the
    # word table once more in one partition: each merge round's pair
    # count and its argmax then plan no Exchange and run as one job.
    # With a zero budget the rounds shuffle, as every round did before.
    from task_mapreduce_spark.operators import rounds
    from task_mapreduce_spark.operators.corpus_tools import _BPE_MERGES, _bpe_train

    text = "low lower lowest newer newest wider widest slow slower tower"
    spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    if budget == "zero":
        monkeypatch.setattr(rounds, "_PROPAGATE_BCAST_ROWS", 0)
    argmaxes: list[tuple[str, int]] = []
    _record_jobs(spark, monkeypatch, "first", argmaxes)
    merges, _ = _bpe_train(spark, str(tmp_path))
    monkeypatch.undo()
    assert len(merges) == len(argmaxes) == _BPE_MERGES
    for plan, jobs in argmaxes:
        if budget == "zero":
            assert "Exchange" in plan, plan
        else:
            assert "Exchange" not in plan, plan
            assert jobs == 1


def _jobs_in_group(spark, group: str, action) -> int:
    """Scheduler jobs that ``action()`` runs, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Build-time scheduler jobs (eager checkpoints, convergence reads,
# sink writes) at sf0.001: key -> (measured, slack), measured at
# local[4] (the CC keys take one fewer at local[8]; the ANN keys take
# the same at local[4] and local[8]).  The slack absorbs AQE moving a
# runtime join conversion by a job.  A stray count() or checkpoint in a
# shared stage fails: inside the min-propagation kernel it costs a job
# every round (a per-round count() took graph_bfs to 17), as it does
# inside a BPE merge round (operators/corpus_tools.py: _bpe_train runs
# its 8 rounds for each tokenizer key), and inside a
# k-means trainer (operators/kmeans.py: every IVF cell, PQ codebook and
# IVF-PQ residual codebook construction), a PQ stage (encode, ADC
# serve, rerank) or a cosine-family stage (llm_extras' _cell_pairs,
# _pair_topk, _probe_topk, _ivf_probes) it costs a job in every key
# that runs the stage, more in the scoreboards; inside
# the merge commit path it costs jobs on every commit (a stray batch
# count() in _merge_apply took sink_merge_history to 27).
_BUILD_JOB_CEILING = {
    "graph_bfs": (6, 2),
    "dedup_cluster_cc": (10, 2),
    "dedup_eval_ari": (27, 2),
    "dedup_resolve_best": (10, 2),
    "dedup_cluster_incremental": (18, 2),
    "tokenizer_train_bpe": (11, 2),
    "tokenizer_apply_bpe": (11, 2),
    "tokenizer_eval_vocab": (11, 2),
    "embedding_pq": (11, 2),
    "sim_search_pq": (11, 2),
    "sim_search_pq_const": (11, 2),
    "pq_index_persist": (15, 2),
    "sim_search_ivfpq": (45, 2),
    "sim_eval_recall_multi": (22, 2),
    "sim_eval_recall_deploy": (56, 2),
    "sim_search_ivf": (11, 2),
    "sim_search_ivf_hier": (23, 2),
    "mine_hard_negatives": (18, 2),
    "dedup_semantic": (17, 2),
    "sim_index_persist": (17, 2),
    "sim_index_ingest": (18, 2),
    "dedup_embedding": (3, 2),
    "sim_join_knn": (3, 2),
    "sim_search_ann": (0, 2),
    "sim_eval_recall": (0, 2),
    "sink_compact": (3, 2),
    "cdc_upsert": (0, 2),
    "sink_merge_upsert": (10, 2),
    "sink_merge_history": (19, 2),
    "sink_merge_vacuum": (19, 2),
    "sink_changelog_cdf": (16, 2),
    "rollup_cdf_maintain": (20, 2),
}


def test_build_job_ceilings(spark, sf_dir):
    for key, (measured, slack) in _BUILD_JOB_CEILING.items():
        jobs = _jobs_in_group(
            spark, f"build-job-ceiling/{key}", lambda: QUERIES[key](spark, sf_dir)
        )
        assert jobs <= measured + slack, (
            f"{key}: {jobs} build jobs > {measured} measured + {slack} slack"
        )


# Run-time scheduler jobs (the noop write of the built frame) at
# sf0.001: key -> (measured, slack), measured at local[4]
# (dedup_fuzzy_edit takes one fewer at local[8]).
# Build ceilings never see these: text_tfidf and text_keywords build
# with no job, and a second token explosion, a df aggregate joined
# back or a counted corpus size each add jobs only when the frame runs
# (text_tfidf took 7 with all three).
_RUN_JOB_CEILING = {
    "text_tfidf": (2, 1),
    "text_keywords": (3, 1),
    "dedup_fuzzy_edit": (7, 1),
}


def test_run_job_ceilings(spark, sf_dir):
    for key, (measured, slack) in _RUN_JOB_CEILING.items():
        df = QUERIES[key](spark, sf_dir)
        jobs = _jobs_in_group(
            spark,
            f"run-job-ceiling/{key}",
            lambda: df.write.mode("overwrite").format("noop").save(),
        )
        assert jobs <= measured + slack, (
            f"{key}: {jobs} run jobs > {measured} measured + {slack} slack"
        )


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_runs_no_job(spark, sf_dir, name):
    # the schema comes from the footer check, not from a Spark inference
    # job: a bare spark.read.parquet(path) on the load path costs one job
    jobs = _jobs_in_group(
        spark, f"load-jobs/{name}", lambda: load(spark, sf_dir, name).schema
    )
    assert jobs == 0, f"loading {name} ran {jobs} scheduler job(s)"
