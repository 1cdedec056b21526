"""Round-12 optimization equivalence pins: every test here asserts
that an r12 plan/internal rewrite computes the SAME rows as the shape
it replaced.

- ``_bucket_pairs(max_bucket=...)``: the pre-aggregation window
  truncate (which bounds the collect_list buffer) must drop exactly
  the over-cap buckets the r11 post-collect size filter dropped —
  including a pathological hot bucket far above the cap.
- ``curation_stages`` stage 6: the checkpointed token-frame mixture
  must equal ``mixture_sample`` over the stage-5 survivors
  row-for-row.
- ``embedding_near_dup_pairs`` exact path: the degenerate-bucket BLAS
  scorer must emit the same pairs/cosines (at the registered queries'
  6-digit rounding) as a brute-force recomputation.
"""

from __future__ import annotations

import numpy as np

from spark_streaming_kafka_spark.operators import dedup as dd


def test_bucket_pairs_max_bucket_hot_bucket_exact(spark):
    # one hot basket (40 members, cap 5) plus two in-cap baskets; the
    # window truncate must yield exactly the in-cap baskets' pairs and
    # never a pair from the hot basket.
    rows = [("hot", i) for i in range(40)]
    rows += [("ok1", i) for i in range(3)]
    rows += [("ok2", i) for i in (7, 9)]
    df = spark.createDataFrame(rows, "b string, p long")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in dd._bucket_pairs(df, ["b"], "p", max_bucket=5).collect()
    )
    assert got == [(0, 1), (0, 2), (1, 2), (7, 9)]

    # cap >= hot-bucket size keeps everything: compare against the
    # uncapped expansion
    all_pairs = sorted(
        (r["id_a"], r["id_b"])
        for r in dd._bucket_pairs(df, ["b"], "p").collect()
    )
    capped = sorted(
        (r["id_a"], r["id_b"])
        for r in dd._bucket_pairs(df, ["b"], "p", max_bucket=40).collect()
    )
    assert capped == all_pairs

    # boundary: a bucket of exactly max_bucket rows survives intact
    edge = spark.createDataFrame(
        [("x", i) for i in range(5)], "b string, p long"
    )
    n = dd._bucket_pairs(edge, ["b"], "p", max_bucket=5).count()
    assert n == 10  # C(5,2)


def test_bucket_pairs_max_bucket_plan_truncates_before_collect(spark):
    # the memory bound is the point: the plan must rank-filter BEFORE
    # the collect_list aggregation, not only size-filter after it
    df = spark.createDataFrame([("x", 1), ("x", 2)], "b string, p long")
    plan = dd._bucket_pairs(df, ["b"], "p", max_bucket=3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "row_number" in plan
    w_pos = plan.find("row_number")
    agg_pos = plan.find("collect_list")
    assert agg_pos != -1 and w_pos != -1
    # executed plans print top-down: the aggregate must appear ABOVE
    # (before, in string order) the window that feeds it
    assert agg_pos < w_pos


def test_curation_stage6_equals_mixture_sample(spark):
    from spark_streaming_kafka_spark.operators.curation import mixture_sample
    from spark_streaming_kafka_spark.operators.pipeline import curation_stages

    docs = spark.createDataFrame(
        [
            (i, f"unique body {i} with several plain words alpha beta "
                + "filler " * (i % 5), ["web", "books", "code"][i % 3])
            for i in range(1, 61)
        ],
        "doc_id long, text string, source string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(1, 61)],
        "vec_id long, embedding array<float>",
    )
    stages = curation_stages(docs, emb, token_budget=500, alpha=0.7)
    got = sorted(
        (r["doc_id"], r["source"], r["n_tokens"])
        for r in stages["s6"].collect()
    )
    want = sorted(
        (r["doc_id"], r["source"], r["n_tokens"])
        for r in mixture_sample(
            stages["s5"], token_budget=500, alpha=0.7,
            source_col="source", text_col="text", id_col="doc_id",
        ).select("doc_id", "source", "n_tokens").collect()
    )
    assert got == want and len(got) > 0


def test_embedding_near_dup_exact_path_matches_bruteforce(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 8).astype(np.float64)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dd.embedding_near_dup_pairs(
        emb, threshold=0.45, exact_below=10**9
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 6) for r in out.collect()
    }
    # brute force over the float32-truncated values Spark stored
    m = vecs.astype(np.float32).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    want = {
        (a, b): round(float(sims[a, b]), 6)
        for a in range(60)
        for b in range(a + 1, 60)
        if sims[a, b] >= 0.45
    }
    assert got == want and len(want) > 0


def test_embedding_near_dup_exact_path_plan_has_no_nlj(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1])], "vec_id long, embedding array<float>"
    )
    plan = dd.embedding_near_dup_pairs(
        emb, threshold=0.45, exact_below=10**9
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_stream_micro_benches_run_bounded(spark, sf_dir):
    """The three r12 pipeline-suite streaming micro-benches must drain
    to completion at the smoke SF (bounded, fresh checkpoint per call)
    and be invocable twice (the bench protocol's warm-up + measured
    passes) without carrying state between runs."""
    from spark_streaming_kafka_spark.streaming.microbench import STREAM_MICRO

    assert set(STREAM_MICRO) == {
        "stream_manifest_dedup",
        "stream_sessionization",
        "stream_drift_gate",
    }
    for fn in STREAM_MICRO.values():
        fn(spark, sf_dir)
        fn(spark, sf_dir)


def test_stream_micro_prepared_dirs_removed_by_cleanup():
    """Prepared micro-bench source dirs are temp dirs; the atexit
    cleanup deletes them and forgets them (no leak per process)."""
    import os

    from spark_streaming_kafka_spark.streaming import microbench as mb

    def build(d: str) -> None:
        with open(os.path.join(d, "batch_000.parquet"), "w") as f:
            f.write("x")

    d = mb._prep("cleanup_probe", "no_sf_dir", build)
    mb._PREPARED_ROWS[d] = 1
    assert os.path.isdir(d)
    mb._remove_prepared()
    assert not os.path.exists(d)
    assert ("cleanup_probe", "no_sf_dir") not in mb._PREPARED
    assert d not in mb._PREPARED_ROWS


def test_item_cooccurrence_hot_basket_dropped_whole(spark):
    """item_cooccurrence_topk's r12 window truncate must equal the r11
    semantics: an over-cap basket is dropped WHOLE, so the output over
    (normal baskets + one hot basket, cap=3) equals the output over the
    normal baskets alone (any cap)."""
    from spark_streaming_kafka_spark.operators.retrieval import (
        item_cooccurrence_topk,
    )

    normal = [(b, i) for b in range(10, 16) for i in (b % 3, b % 3 + 1, 7)]
    hot = [(99, i) for i in range(30)]
    both = spark.createDataFrame(
        normal + hot, "basket long, item long"
    )
    just_normal = spark.createDataFrame(normal, "basket long, item long")
    got = sorted(
        map(tuple, item_cooccurrence_topk(
            both, "basket", "item", k=5, max_basket_size=3
        ).collect())
    )
    want = sorted(
        map(tuple, item_cooccurrence_topk(
            just_normal, "basket", "item", k=5, max_basket_size=3
        ).collect())
    )
    assert got == want and len(got) > 0
