"""Caching contract: operators that persist intermediate stages attach the
handles to their result so callers can release them (ADVICE r3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mdio_python_spark.operators import geometry, grid
from mdio_python_spark.operators.caching import CACHE_ATTR, release_cached


def _storage_used(df) -> bool:
    return any(h.storageLevel.useMemory or h.storageLevel.useDisk
               for h in getattr(df, CACHE_ATTR, []))


def test_ordered_export_attaches_and_releases(spark):
    df = spark.range(1000).select(
        (F.col("id") % 37).alias("a"), F.col("id").alias("b")
    )
    out = grid.ordered_export(df, ["a", "b"])
    assert _storage_used(out)
    out.count()
    cached = list(getattr(out, CACHE_ATTR))
    release_cached(out, blocking=True)
    assert getattr(out, CACHE_ATTR) == []
    for h in cached:
        assert not (h.storageLevel.useMemory or h.storageLevel.useDisk)


def test_gun_geometry_attaches_and_releases(spark):
    df = spark.range(500).select(
        (F.col("id") % 3).alias("shot_line"),
        (F.col("id") % 2).alias("gun"),
        (F.col("id") % 50).alias("shot_point"),
    )
    out = geometry.gun_geometry_analysis(df)
    assert _storage_used(out)
    out.collect()
    release_cached(out, blocking=True)
    assert getattr(out, CACHE_ATTR) == []


def test_release_is_noop_without_attachment(spark):
    df = spark.range(5)
    release_cached(df)  # must not raise


def test_rotation_bounds_repeat_callers_to_one_generation(spark):
    """Regression (r4 review): a caller that never release_cached()s —
    the declared-query harness pattern — must not accumulate one
    persisted relation per call, on a persisting operator's path or on
    a size-gated kernel path."""
    from mdio_python_spark.operators import bpe
    from mdio_python_spark.operators.grid import ordered_export

    spark.catalog.clearCache()  # isolate from other tests' cached relations

    def jvm_ids() -> set[int]:
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
        }

    df = spark.range(100).selectExpr("id AS a", "id % 7 AS b")
    vocab = bpe.word_counts(
        spark.createDataFrame([(1, "aa ab ab ba")], "doc_id long, text string")
    )
    for _ in range(4):
        ordered_export(df, ["a", "b"]).write.format("noop").mode(
            "overwrite"
        ).save()
        merges, _ = bpe.train_merges(vocab, 2, scope="test.rotation")
        merges.collect()
    # only the latest generation of each survives
    assert len(jvm_ids()) <= 2
    # explicit release still works on the final generation
    out = ordered_export(df, ["a", "b"])
    out.write.format("noop").mode("overwrite").save()
    merges, _ = bpe.train_merges(vocab, 2, scope="test.rotation")
    merges.collect()
    from mdio_python_spark.operators.caching import release_cached

    release_cached(out)
    release_cached(merges)
    assert jvm_ids() == set()


def test_persisting_queries_own_their_stages(spark):
    """Every persisted stage of a declared query is at the one storage
    level (``caching.persist``) and rides on the query's result,
    including a size-gated stage passed on from an inner operator. A
    second build without release still holds one generation per scope."""
    from pyspark import StorageLevel

    from mdio_python_spark.plans.registry import registry
    from tests.conftest import SF_SMOKE

    names = [
        "asof_staleness_buckets",
        "ivf_cell_balance",
        "shard_balance_qc",
        "rerank_recall_gain",
        "token_budget_allocation",
        "bigram_lm_score",
        "bpe_tokenized_docs",
    ]
    spark.catalog.clearCache()

    def jvm_ids() -> set[int]:
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()
        }

    def build_all() -> dict:
        outs = {}
        for name in names:
            out = registry()[name].fn(spark, SF_SMOKE)
            out.write.format("noop").mode("overwrite").save()
            outs[name] = out
        return outs

    for attempt in ("first", "second"):
        outs = build_all()
        for name, out in outs.items():
            levels = [h.storageLevel for h in getattr(out, CACHE_ATTR, [])]
            assert levels, f"{name}: no stage attached"
            assert all(lv == StorageLevel.MEMORY_AND_DISK for lv in levels), (
                f"{name} ({attempt} build): {levels}"
            )
        if attempt == "first":
            held = jvm_ids()
    assert len(jvm_ids()) <= len(held)
    for out in outs.values():
        release_cached(out, blocking=True)


LEAKED_BEFORE_INNER_HANDOFF = [
    "ann_method_shootout",
    "ann_recall_at_k",
    "cluster_best_representative",
    "dedup_effective_tokens",
    "incremental_dedup_kept",
    "int8_quant_clip_sweep",
    "leakage_safe_split",
    "length_mad_outliers",
    "pq_shortlist_rerank",
    "rerank_recall_gain",
    "similarity_graph_pagerank",
    "tokenizer_fertility_by_lang",
]


@pytest.mark.parametrize("name", LEAKED_BEFORE_INNER_HANDOFF)
def test_release_frees_inner_operator_stages(spark, name):
    """Releasing a declared query's result frees every stage its run
    persisted, those of the inner operators (a size-gated base, a
    shingle stage, an ordinal stage) included."""
    from mdio_python_spark.plans.registry import registry
    from tests.conftest import SF_SMOKE

    spark.catalog.clearCache()
    out = registry()[name].fn(spark, SF_SMOKE)
    out.write.format("noop").mode("overwrite").save()
    release_cached(out, blocking=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
