"""Golden tests for the approximate LLM-pipeline operators (the keys
the DuckDB oracle can't value-check): minhash near-dup detection with
planted duplicates, and bounds on the similarity-search scores."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from task_mapreduce_spark.registry import QUERIES


def _write_docs(spark, tmp_path, rows):
    """Materialize a tiny documents table in the driver's parquet layout."""
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


BASE = (
    "key agg row scan slow fast table value part hash value table part "
    "a row fast merge batch part value fast spark a a the line sort"
)
# one-word edit of BASE → jaccard(shingles) well above 0.5
NEAR = BASE.replace("merge", "join")
OTHER = (
    "stream window customer order group data column filter query big "
    "line nation region supplier clerk priority ship commit receipt mode"
)


def test_minhash_finds_planted_near_dup(spark, tmp_path):
    rows = [
        (1, BASE, "en", "src0", len(BASE)),
        (2, NEAR, "en", "src0", len(NEAR)),
        (3, OTHER, "en", "src1", len(OTHER)),
        (4, OTHER + " extra tail words here", "en", "src1", len(OTHER) + 22),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["dedup_near_minhash"](spark, sf).collect()}
    assert len(out) == 4  # one row per doc, always
    # docs 1 and 2 are near-dups → same cluster, rooted at min(doc_id)
    assert out[1]["cluster_id"] == 1
    assert out[2]["cluster_id"] == 1
    assert out[2]["n_dups"] >= 1
    # docs 3 and 4 share a long prefix → also clustered together
    assert out[4]["cluster_id"] == 3
    # but the two clusters don't merge
    assert out[3]["cluster_id"] != out[1]["cluster_id"]


def test_minhash_no_false_merge_on_disjoint_docs(spark, tmp_path):
    rows = [
        (1, BASE, "en", "src0", len(BASE)),
        (3, OTHER, "en", "src1", len(OTHER)),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["dedup_near_minhash"](spark, sf).collect()}
    assert out[1]["cluster_id"] == 1 and out[1]["n_dups"] == 0
    assert out[3]["cluster_id"] == 3 and out[3]["n_dups"] == 0


def test_minhash_survives_short_docs(spark, tmp_path):
    # regression: sequence(0, size-2) on a 1-token doc produced [0, -1]
    # and element_at(toks, 0) aborted the job under ANSI semantics
    rows = [
        (1, "solo", "en", "s", 4),
        (2, "solo", "en", "s", 4),
        (3, "", "en", "s", 0),
        (4, BASE, "en", "s", len(BASE)),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["dedup_near_minhash"](spark, sf).collect()}
    assert len(out) == 4
    assert out[2]["cluster_id"] == 1  # identical 1-token docs cluster


def test_minhash_deterministic(spark, sf_dir):
    a = QUERIES["dedup_near_minhash"](spark, sf_dir).orderBy("doc_id").collect()
    b = QUERIES["dedup_near_minhash"](spark, sf_dir).orderBy("doc_id").collect()
    assert a == b  # seeded hashing, no RNG anywhere


def test_sim_search_scores_bounded_and_self_excluded(spark, sf_dir):
    rows = QUERIES["sim_search_topk"](spark, sf_dir).collect()
    assert rows, "similarity search returned nothing"
    for r in rows:
        assert -1.0 - 1e-9 <= r["score"] <= 1.0 + 1e-9
        assert r["vec_id"] != r["query_id"]
    # ranks are 1..k, contiguous per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), f"query {q}"


def test_connected_components_closes_chains(spark, tmp_path):
    # Sliding 20-token windows: adjacent docs share 19 of 21 distinct
    # tokens (J = 19/21 ≈ 0.905 ≥ 0.9) but doc 1 vs doc 3 only share
    # 18 of 22 (0.818 < 0.9) — no direct edge, so CC must close the
    # chain and root all three at the minimum doc_id.
    win = lambda k: " ".join(f"tok{i}" for i in range(k, k + 20))
    rows = [
        (1, win(0), "en", "s", 0),
        (2, win(1), "en", "s", 0),
        (3, win(2), "en", "s", 0),
        (9, OTHER, "en", "s", len(OTHER)),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    cc = {r["doc_id"]: r["component_id"]
          for r in QUERIES["dedup_cluster_cc"](spark, sf).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[9] == 9


def test_cc_pointer_jump_converges_on_100_hop_chain(spark, round_shape):
    # a 0-1-2-...-100 path has diameter 100 > _CC_MAX_ITER (20), so
    # hop-only delta propagation would raise; convergence here proves
    # the pointer-jumping fallback engages and closes the chain in
    # _CC_PJ_FROM + O(log2 100) = 8 rounds, rooting every node at 0
    from task_mapreduce_spark.operators.llm_extras import (
        _CC_MAX_ITER,
        _min_label_cc,
    )

    n = 101
    assert n - 1 > _CC_MAX_ITER  # the planted chain must exceed the bound
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    out = {r["doc_id"]: r["label"] for r in _min_label_cc(nodes, edges, n).collect()}
    assert len(out) == n
    assert set(out.values()) == {0}
    # the same 8 rounds whether rounds run in one partition or shuffle
    assert round_shape == [8]


def test_simhash_finds_planted_near_dup(spark, tmp_path):
    # SimHash needs a LONG document for a one-word edit to stay within
    # hamming 3: each of the 48 bit-sums aggregates ±1 per distinct
    # token, so with 300 tokens a single swap flips only the sums that
    # sit within ±2 of zero (verified: hamming(LONG, NEAR_LONG) = 2
    # under the md5-derived token hash, OTHER is 24 bits away).
    long_doc = " ".join(f"w{i}" for i in range(300))
    near_long = long_doc.replace("w5 ", "zz ", 1)
    rows = [
        (1, long_doc, "en", "src0", len(long_doc)),
        (2, near_long, "en", "src0", len(near_long)),
        (3, OTHER, "en", "src1", len(OTHER)),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["dedup_simhash"](spark, sf).collect()}
    assert len(out) == 3
    assert out[2]["cluster_id"] == 1  # one-word edit → hamming ≤ 3
    assert out[3]["cluster_id"] == 3  # disjoint text stays alone


def test_ann_recall_vs_exact(spark, sf_dir):
    exact = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_topk"](spark, sf_dir).collect()
    }
    ann = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_ann"](spark, sf_dir).collect()
    }
    assert ann, "ANN returned nothing"
    # multiprobe over 5 of 16 buckets: expect a solid fraction of the
    # exact top-k (deterministic given the fixed hyperplane seed)
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.4, f"recall {recall:.2f}"
    # every ANN hit must score the same as the exact operator would
    for q, v in ann:
        assert v != q


def test_multimodal_decode_stub(spark, sf_dir):
    out = QUERIES["multimodal_decode"](spark, sf_dir).collect()
    assert out
    for r in out[:20]:
        assert r["n_bytes"] > 0
        assert len(r["header_hex"]) == 16  # 8 bytes → 16 hex chars
        assert 1 <= r["fake_width"] <= 64
        assert 1 <= r["fake_height"] <= 64
        assert r["channels"] == 3
    # deterministic: same payload → same fake features
    again = QUERIES["multimodal_decode"](spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_approx_distinct_certificate_vs_duckdb(spark, oracle, sf_dir):
    got = {
        r["o_orderstatus"]: (r["exact_customers"], r["approx_within_10pct"])
        for r in QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    }
    exact = dict(
        oracle.execute(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) FROM orders GROUP BY 1"
        ).fetchall()
    )
    for status, truth in exact.items():
        n, ok = got[status]
        assert n == truth and ok, (status, got[status], truth)


def test_quality_repetition_planted_degenerate_doc(spark, tmp_path):
    # doc 1: one bigram repeated everywhere; doc 2: all-distinct tokens
    rows = [
        (1, "spam spam spam spam spam spam", "en", "src0", 29),
        (2, "alpha beta gamma delta epsilon zeta", "en", "src0", 35),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in QUERIES["quality_repetition"](spark, sf).collect()}
    assert got[1]["top_bigram_frac"] == 1.0
    assert got[1]["repeated_token_frac"] == pytest.approx(5 / 6)
    assert got[2]["top_bigram_frac"] == pytest.approx(1 / 5)
    assert got[2]["repeated_token_frac"] == 0.0


def test_corpus_filter_first_failing_reason(spark, tmp_path):
    rows = [
        (1, "a b", "en", "src0", 3),                             # too short
        (2, "spam spam spam spam spam spam spam spam", "en", "src0", 39),
        (3, "alpha beta gamma delta epsilon zeta", "en", "src0", 35),  # no stopword
        (4, "the quick brown fox jumps over a dog", "en", "src0", 36),  # keeps
        (5, "", "en", "src0", 0),                                # empty → too short
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in QUERIES["corpus_filter"](spark, sf).collect()}
    assert got[1]["reason"] == "too_short" and not got[1]["keep"]
    assert got[2]["reason"] == "too_repetitive" and not got[2]["keep"]
    assert got[3]["reason"] == "no_stopwords" and not got[3]["keep"]
    assert got[4]["reason"] == "ok" and got[4]["keep"]
    assert got[5]["reason"] == "too_short"


def test_multimodal_frames_stub(spark, sf_dir):
    out = QUERIES["multimodal_frames"](spark, sf_dir).collect()
    assert out
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
        assert r["t_offset_s"] % 2 == 0
        assert r["frame_idx"] == r["t_offset_s"] * 4
        assert 0 <= r["fp_byte"] <= 255
        assert r["n_bytes"] > 0  # empty payloads emit no frames
    for frames in by_doc.values():
        # duration = n_bytes % 30 + 1, stride 2 → ceil(duration / 2) frames
        duration = frames[0]["n_bytes"] % 30 + 1
        assert len(frames) == (duration + 1) // 2


def test_multimodal_resize_geometry(spark, sf_dir):
    out = QUERIES["multimodal_resize"](spark, sf_dir).collect()
    assert out
    for r in out:
        # never upscale; aspect preserved under floor division
        assert 1 <= r["out_w"] <= max(r["src_w"], 32)
        assert 1 <= r["out_h"] <= max(r["src_h"], 32)
        mx = max(r["src_w"], r["src_h"])
        if mx <= 32:
            assert (r["out_w"], r["out_h"]) == (r["src_w"], r["src_h"])
        else:
            assert max(r["out_w"], r["out_h"]) == 32
            assert r["out_w"] == max(1, r["src_w"] * 32 // mx)
            assert r["out_h"] == max(1, r["src_h"] * 32 // mx)
        assert 0 <= r["checksum"] < 997


def test_ivf_recall_vs_exact(spark, sf_dir):
    exact = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_topk"](spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_ivf"](spark, sf_dir).collect()
    }
    assert ivf, "IVF returned nothing"
    # nprobe=5 of ~18 cells, one Lloyd step: measured 0.58 at both
    # sf0.001 and sf0.01 (round 8; nprobe=3 sat at 0.46/0.48).  The
    # 0.5 floor pins the probe widening actually paying for itself
    # without over-fitting the fixture.
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"recall {recall:.2f}"
    for q, v in ivf:
        assert v != q
    # ranks are 1..k contiguous per query
    by_q = {}
    for r in QUERIES["sim_search_ivf"](spark, sf_dir).collect():
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_hier_recall_vs_exact(spark, sf_dir):
    # the registered constant-cell two-level configuration (round-11
    # verdict #1 + #4; probe side two-level + size-scaled nprobe as of
    # round 13): measured recall@10 = 0.86 at BOTH sf0.001 and sf0.01
    # (nprobe = max(5, ceil(√nlist)) of ~N/64 cells, ranked through
    # the top-3 supers only — vs the √N default's 0.58).  The 0.7
    # floor is the verdict's serving bar, pinned without over-fitting
    # the fixture.
    exact = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_topk"](spark, sf_dir).collect()
    }
    hier = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_ivf_hier"](spark, sf_dir).collect()
    }
    assert hier, "hier IVF returned nothing"
    recall = len(exact & hier) / len(exact)
    assert recall >= 0.7, f"recall {recall:.2f}"
    by_q = {}
    for r in QUERIES["sim_search_ivf_hier"](spark, sf_dir).collect():
        assert r["vec_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_hier_recall_holds_across_a_decade(spark, sf_dir, tmp_path):
    """The round-12 verdict's #3: with a FIXED nprobe the constant-cell
    regime's recall decayed 0.86 → 0.68 across one ×10 step (nprobe 5
    of a 10×-larger cell count probes a shrinking corpus fraction).
    The size-scaled dial (nprobe = max(5, ceil(√nlist)), derived from
    the same metadata count the super grouping needs — a portable
    scalar in both engines) must hold recall ≥ 0.7 at the decade jump,
    not just at fixture scale.  Corpus: sf0.001 replicated ×10 with
    per-replica perturbation (the x10_stress recipe; rep 0 keeps the
    original query vectors intact).  Measured 0.94 at 5k vectors."""
    from pyspark.sql import functions as F

    x10 = str(tmp_path / "x10")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.agg(F.max("vec_id") + 1).collect()[0][0]
    reps = spark.range(10).select(F.col("id").alias("rep"))
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding"))
            .otherwise(
                F.transform(
                    "embedding",
                    lambda x: (
                        x
                        + (F.xxhash64(F.col("vec_id"), F.col("rep")) % 1000)
                        .cast("float")
                        / 50000.0
                    ).cast("float"),
                )
            )
            .alias("embedding"),
            "label",
        )
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(f"{x10}/embeddings.parquet")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_topk"](spark, x10).collect()
    }
    hier = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["sim_search_ivf_hier"](spark, x10).collect()
    }
    assert exact and hier
    recall = len(exact & hier) / len(exact)
    assert recall >= 0.7, f"decade recall {recall:.2f}"


@pytest.mark.parametrize(
    "key, arms",
    [
        ("sim_eval_recall_multi", {"ann", "ivf", "pq"}),
        ("sim_eval_recall_deploy", {"ivf_hier", "pq_const", "ivfpq"}),
    ],
    ids=["sim_eval_recall_multi", "sim_eval_recall_deploy"],
)
def test_deploy_scoreboard_covers_all_three_deployment_arms(
    spark, sf_dir, key, arms
):
    # each oracle-checked scoreboard must cover exactly its three arms
    # (the deploy one: the linear-regime arms a deployment serves, the
    # round-12 verdict #1), with sane micro-averaged recall per arm.
    # The per-arm FLOORS live in each arm's own recall test; here we
    # pin coverage + consistency (n_hit ≤ n_exact, recall = n_hit/n_exact).
    rows = QUERIES[key](spark, sf_dir).collect()
    by_arm = {r["arm"]: r for r in rows}
    assert set(by_arm) == arms
    for arm, r in by_arm.items():
        assert 0 < r["n_exact"], arm
        assert 0 <= r["n_hit"] <= r["n_exact"], arm
        assert abs(r["recall_at_k"] - r["n_hit"] / r["n_exact"]) < 1e-6


def test_containment_finds_planted_subset_doc(spark, tmp_path):
    long_doc = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lam mu nu xi omicron pi rho sigma tau upsilon")
    short_doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, long_doc, "en", "src0", len(long_doc)),
        (2, short_doc, "en", "src0", len(short_doc)),   # subset of doc 1
        (3, "totally different words here now", "en", "src0", 33),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = QUERIES["dedup_containment"](spark, sf).collect()
    pairs = {(r["contained"], r["container"]): r["containment"] for r in got}
    assert pairs == {(2, 1): 1.0}  # directional: short inside long only


def test_prefix_filter_bounds_dominant_block(spark, tmp_path):
    """A single dominant (lang, source) block must NOT expand
    quadratically: prefix filtering keys candidates on each doc's
    rarest tokens, so 300 docs sharing 5 common tokens but each
    carrying a unique rare token generate (almost) no candidate
    pairs — while planted true near-dups are still found (the prefix
    is lossless for J >= 0.9)."""
    from task_mapreduce_spark.operators.llm_extras import (
        _doc_token_sets,
        jaccard_candidates,
    )
    from task_mapreduce_spark.tables import load

    common = "alpha beta gamma delta epsilon"
    base = " ".join(f"tok{i}" for i in range(19))
    rows = [
        (i, f"{common} uniq{i}", "en", "src0", 0) for i in range(300)
    ] + [
        # true near-dup pair: 19 shared + 1 unique token each, J = 19/21
        (1000, f"{base} onlyx", "en", "src0", 0),
        (1001, f"{base} onlyy", "en", "src0", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    d = load(spark, sf, "documents")
    cand = jaccard_candidates(_doc_token_sets(d)).collect()
    n_docs = len(rows)
    naive_pairs = n_docs * (n_docs - 1) // 2  # 45k+ for the raw block join
    assert len(cand) < 10, f"{len(cand)} candidates — prefix filter not pruning"
    assert len(cand) < naive_pairs // 100
    assert (1000, 1001) in {(r["a"], r["b"]) for r in cand}
    out = {(r["a"], r["b"]) for r in QUERIES["dedup_ngram_jaccard"](spark, sf).collect()}
    assert out == {(1000, 1001)}  # exact verify keeps only the true pair


def test_containment_prefix_finds_planted_subset(spark, tmp_path):
    from task_mapreduce_spark.operators.llm_extras import _CONTAIN_T

    big = " ".join(f"w{i}" for i in range(20))
    sub = " ".join(f"w{i}" for i in range(10))  # strict subset: containment 1.0
    rows = [(i, f"alpha beta gamma uniq{i}", "en", "src0", 0) for i in range(50)] + [
        (500, big, "en", "src0", 0),
        (501, sub, "en", "src0", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        (r["contained"], r["container"]): r["containment"]
        for r in QUERIES["dedup_containment"](spark, sf).collect()
    }
    assert (501, 500) in got and got[(501, 500)] >= _CONTAIN_T
    # the dominant block contributes nothing: unique rare tokens keep
    # every prefix probe out of the common postings
    assert all(k == (501, 500) for k in got)


def test_text_entropy_bounds_and_degenerate_doc(spark, tmp_path):
    import math

    rows = [
        (1, "a a a a a a", "en", "s", 11),          # one type -> H = 0, ttr = 1/6
        (2, "a b c d e f g h", "en", "s", 15),      # uniform -> H = log2(8)
        (3, "a a b b c c c c", "en", "s", 15),      # skewed -> 0 < H < log2(3)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["text_entropy"](spark, sf).collect()}
    assert out[1]["entropy"] == 0.0 and abs(out[1]["ttr"] - 1 / 6) < 1e-9
    assert abs(out[2]["entropy"] - 3.0) < 1e-6 and out[2]["ttr"] == 1.0
    assert 0.0 < out[3]["entropy"] < math.log2(3)
    for r in out.values():
        assert r["entropy"] <= math.log2(r["n_types"]) + 1e-6
        assert 0 < r["ttr"] <= 1


def test_triangles_closed_clusters_vs_open_chains(spark, tmp_path):
    # docs 1-3: identical text -> all three pairwise edges -> one triangle.
    # docs 5-7: the sliding-window chain from the CC test — (5,6) and
    # (6,7) are edges but (5,7) is not, so NO triangle.
    tri = " ".join(f"t{i}" for i in range(25))
    win = lambda k: " ".join(f"tok{i}" for i in range(k, k + 20))
    rows = [
        (1, tri, "en", "s", len(tri)),
        (2, tri, "en", "s", len(tri)),
        (3, tri, "en", "s", len(tri)),
        (5, win(0), "en", "s", 0),
        (6, win(1), "en", "s", 0),
        (7, win(2), "en", "s", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r["n_triangles"] for r in QUERIES["graph_triangles"](spark, sf).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[5] == out[6] == out[7] == 0


def test_knn_join_per_vector_contract(spark, sf_dir):
    # every vector gets exactly min(K, |cell|-1) neighbors, ranks are
    # contiguous from 1, cosine is non-increasing in rank, no self
    # neighbor, and neighbors stay inside the blocking cell
    import collections

    from task_mapreduce_spark.operators.llm_extras import _KNN_K
    from task_mapreduce_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    label_of = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    cell_sizes = collections.Counter(label_of.values())
    by_vec = collections.defaultdict(list)
    for r in QUERIES["sim_join_knn"](spark, sf_dir).collect():
        by_vec[r["vec_id"]].append(r)
    # a vector alone in its blocking cell has no candidates, so it is
    # absent from the output by contract (documented sim_join_knn
    # behavior) — don't let a regenerated fixture with a singleton
    # label fail the test
    expect = {v for v in label_of if cell_sizes[label_of[v]] > 1}
    assert set(by_vec) == expect
    for vid, rows in by_vec.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(
            range(1, min(_KNN_K, cell_sizes[label_of[vid]] - 1) + 1)
        )
        assert all(r["nb_id"] != vid for r in rows)
        assert all(label_of[r["nb_id"]] == label_of[vid] for r in rows)
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_minhash_certificate_survives_null_text_docs(spark, tmp_path):
    # NULL-text docs produce NULL shingle arrays: they share a (null)
    # band hash and become LSH candidates, but must NOT verify as
    # edges — the exact certificate side drops null-token rows at its
    # inner joins, so an admitted null pair would flip lsh_consistent
    # to false (on legacy-sizeOfNull builds the unclamped arithmetic
    # scored such pairs (-1)/(-1) = 1.0; the clamp pins 0/1 = 0)
    rows = [
        (1, BASE, "en", "s", len(BASE)),
        (2, NEAR, "en", "s", len(NEAR)),
        (3, None, "en", "s", 0),
        (4, None, "en", "s", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in QUERIES["dedup_near_minhash"](spark, sf).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(r["lsh_consistent"] for r in out.values())
    # the null docs are singletons on both sides
    assert out[3]["n_dups"] == 0 and out[4]["n_dups"] == 0


def test_semantic_dedup_planted_exact_duplicates(spark, tmp_path):
    # four bit-identical vectors at ids 0..3: identical vectors get
    # identical (rounded) centroid dots, so the deterministic argmax
    # puts them in the SAME cell whatever the learned centroids are;
    # cosine 1.0 >= threshold, so 1..3 must prune to dup_of=0 and id 0
    # (no lower-id mate anywhere) must survive.  Fillers are random
    # low-magnitude noise vectors in other directions.
    import numpy as np

    rng = np.random.RandomState(7)
    dup = rng.standard_normal(64).astype("float32")
    rows = [(i, (dup).tolist(), 0) for i in range(4)]
    for i in range(4, 40):
        rows.append((i, rng.standard_normal(64).astype("float32").tolist(), 1))
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    out = {r["vec_id"]: r for r in QUERIES["dedup_semantic"](spark, str(tmp_path)).collect()}
    assert len(out) == 40
    assert out[0]["keep"] is True
    for i in (1, 2, 3):
        assert out[i]["keep"] is False
        assert out[i]["dup_of"] == 0   # cos ties at 1.0 -> min candidate id
        assert out[i]["max_cos"] == 1.0
        assert out[i]["cell"] == out[0]["cell"]
    # structural invariants over every row
    from task_mapreduce_spark.operators.llm_extras import _SEMDEDUP_T

    for r in out.values():
        if not r["keep"]:
            assert r["dup_of"] < r["vec_id"]
            assert r["max_cos"] >= _SEMDEDUP_T
        else:
            assert r["dup_of"] is None and r["max_cos"] is None


def test_hard_negatives_are_cross_label_and_densely_ranked(spark, sf_dir):
    from task_mapreduce_spark.operators.llm_extras import _HARDNEG_K

    rows = QUERIES["mine_hard_negatives"](spark, sf_dir).collect()
    assert rows
    per_vec: dict[int, list] = {}
    for r in rows:
        assert r["nb_label"] != r["label"]  # every mined pair crosses labels
        per_vec.setdefault(r["vec_id"], []).append(r)
    for vid, rs in per_vec.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _HARDNEG_K
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)


# ---------------------------------------------------------------------------
# sim_index_persist
# ---------------------------------------------------------------------------


def test_sim_index_persist_round_trip_bit_exact(spark, sf_dir):
    # the reloaded-index path must reproduce the live-build path
    # BIT-exactly: same (query, candidate) pairs, same rounded scores,
    # same ranks — parquet round-trips IEEE doubles exactly, so any
    # difference is a store defect, not float noise
    live = {
        (r["query_id"], r["vec_id"]): (r["score"], r["rank"])
        for r in QUERIES["sim_search_ivf"](spark, sf_dir).collect()
    }
    reloaded = {
        (r["query_id"], r["vec_id"]): (r["score"], r["rank"])
        for r in QUERIES["sim_index_persist"](spark, sf_dir).collect()
    }
    assert reloaded == live


def test_sim_index_persist_audit_counts(spark, sf_dir):
    from task_mapreduce_spark.tables import load as _load

    rows = QUERIES["sim_index_persist"](spark, sf_dir).collect()
    assert rows
    n = _load(spark, sf_dir, "embeddings").count()
    vecs = {r["index_vecs"] for r in rows}
    cells = {r["index_cells"] for r in rows}
    # one value each, stamped on every row
    assert vecs == {n}, "reloaded postings lost or duplicated rows"
    assert len(cells) == 1
    # non-empty Lloyd cells: between 1 and nlist <= ~2*sqrt(N)
    (c,) = cells
    assert 1 <= c <= 2 * int(n ** 0.5) + 2


# ---------------------------------------------------------------------------
# sim_index_ingest
# ---------------------------------------------------------------------------


def test_sim_index_ingest_audit_partitions_the_corpus(spark, sf_dir):
    from task_mapreduce_spark.tables import load as _load

    rows = QUERIES["sim_index_ingest"](spark, sf_dir).collect()
    assert rows
    n = _load(spark, sf_dir, "embeddings").count()
    idx = {r["index_vecs"] for r in rows}
    ing = {r["ingested_vecs"] for r in rows}
    assert len(idx) == 1 and len(ing) == 1
    # store + appended batch partition the corpus exactly
    assert idx.pop() + ing.pop() == n
    # ranks contiguous per query
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["vec_id"] != r["query_id"]
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_sim_index_ingest_appended_vectors_are_searchable(spark, sf_dir):
    # the append must be REAL: ingested vectors appear in the merged
    # index's top-k (deterministic on the fixed fixtures — 2 hits at
    # sf0.001, 4 at sf0.01 when this was pinned); a no-op union would
    # still satisfy the audit counts on the store side alone
    import pyspark.sql.functions as SF
    from task_mapreduce_spark.operators.llm_extras import _INGEST_MOD
    from task_mapreduce_spark.tables import load as _load

    split_hash = SF.conv(
        SF.substring(SF.md5(SF.col("vec_id").cast("string")), 13, 12), 16, 10
    ).cast("long")
    batch = {
        r["vec_id"]
        for r in _load(spark, sf_dir, "embeddings")
        .filter(split_hash % _INGEST_MOD == 0)
        .select("vec_id")
        .collect()
    }
    assert batch, "fixture has no batch slice"
    rows = QUERIES["sim_index_ingest"](spark, sf_dir).collect()
    hits = sum(1 for r in rows if r["vec_id"] in batch)
    assert hits > 0, "no ingested vector ever surfaced — vacuous append"
