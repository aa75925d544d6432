"""Scale-shape regression tests for declared queries: assert the physical
plan properties that make each query safe at 1000 executors, so a future
edit that silently reintroduces a global window, a nested-loop join, or a
corpus-sized shuffle fails here rather than in production.

Plans are inspected un-executed (AQE initial plan) — explicit
``F.broadcast`` hints and exchange counts are already visible there.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

from mdio_python_spark.plans.registry import queries


def _plan(spark, name: str) -> str:
    df = queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_attribution_single_exchange(spark):
    """The as-of join is a union + one window: exactly one hash exchange
    (user_id), no join operator at all."""
    plan = _plan(spark, "asof_view_attribution")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_range_join_is_equi_join(spark):
    """The bucketed range join must plan as a hash/sort equi-join — never
    the nested-loop fallback a raw non-equi condition would force."""
    plan = _plan(spark, "error_click_correlation")
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_decontamination_broadcasts_eval_grams(spark):
    """The eval n-gram side must broadcast; the corpus side must never be
    on the build side of a shuffle join."""
    plan = _plan(spark, "decontamination_overlap")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gap_fill_joins_broadcast(spark):
    """Gap-fill densification runs on the tiny post-agg table: the final
    left join broadcasts (the corpus is never reshuffled for a join; the
    hours x types cross join is a 1-row x n-types broadcast NLJ, fine)."""
    plan = _plan(spark, "events_gap_fill")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ordered_export_no_global_window(spark):
    """The export ordinal must stay range-partitioned — a bare
    Window.orderBy(...) serializes the corpus through one task."""
    plan = _plan(spark, "ordered_export")
    assert "Exchange SinglePartition" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "minhash_lsh_pairs",
        "near_dup_jaccard",
        "simhash_hamming_pairs",
        "char_shingle_near_dup",
    ],
)
def test_pair_generators_never_nested_loop(spark, name):
    """Candidate pairs come from in-bucket generation — any plan change
    that reintroduces a corpus self-join shows up as a nested loop or
    cartesian product here."""
    plan = _plan(spark, name)
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_document_chunks_no_shuffle(spark):
    """Chunking is a pure scan-stage row expansion — any Exchange means a
    regression re-introduced a shuffle into what should be a map-only op."""
    plan = _plan(spark, "document_chunks")
    assert "Exchange" not in plan, plan


def test_temperature_resample_broadcasts_rates(spark):
    """The per-source rate table must broadcast; the corpus must never be
    the build side or sort-merge-joined."""
    plan = _plan(spark, "temperature_resample")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_term_stats_no_corpus_explode(spark):
    """The pivot explodes a k-element literal struct array, never corpus
    rows: exactly one Generate over a 1-row aggregate."""
    plan = _plan(spark, "term_stats")
    assert "SortMergeJoin" not in plan, plan
    # the only exchange is the single-row final aggregation
    assert plan.count("Exchange") <= 2, plan


def test_shipping_priority_topk_and_pushdown(spark):
    """TPC-H Q3 shape: the global top-10 must compile to
    TakeOrderedAndProject (per-task local top-k, no global sort of the
    aggregate) and all three predicates must reach their scans."""
    plan = _plan(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("PushedFilters: [I") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_rp_bucketed_ann_is_bucket_equi_join(spark):
    """JL-bucketed ANN must prune the cross product through the bucket
    equi-join: broadcast hash join on bucket, never a nested loop."""
    plan = _plan(spark, "embedding_rp_bucketed_ann")
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_hourly_anomaly_broadcasts_stats(spark):
    """The per-type stats table (|event_type| rows) must broadcast back
    onto the hourly aggregate; the corpus shuffles once for the groupBy."""
    plan = _plan(spark, "events_hourly_anomaly")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_random_projection_is_pure_scan(spark):
    """The JL projection must stay a pure projection: zero exchanges,
    zero joins — one scan, one project."""
    plan = _plan(spark, "embedding_random_projection")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_pagerank_caches_edges_no_cartesian(spark):
    """Round 11: at test scale the edge set is small, so the plan must
    be the single-task kernel over the materialized edges — zero joins
    and zero exchanges above them (the LSH subtree ran exactly once INTO
    the persisted edges at construction; the plan string prints that
    subtree under their InMemoryRelation). The distributed loop's shape
    (persisted edges, equi-joins only) is pinned by
    tests/test_graph.py::test_pagerank_kernel_bit_equal_* which forces
    both paths."""
    full = _plan(spark, "similarity_graph_pagerank")
    assert "InMemoryRelation" in full, full
    plan = full.split("InMemoryRelation")[0]
    assert "MapInArrow" in plan, plan
    for bad in (
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "SortMergeJoin",
        "Exchange",
    ):
        assert bad not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "customer_value_deciles",
        "quality_percentile_bands",
        "length_mad_outliers",
        "training_order_manifest",
        "quality_dup_deciles",
    ],
)
def test_rank_family_two_phase_no_global_window(spark, name):
    """The NTILE/exact-quantile family must rank via the range-partitioned
    two-phase ordinal (ranking.distributed_ordinal): no ntile/row_number
    window anywhere (the offsets window is a SUM over per-partition
    counts), and no single-partition exchange — a corpus (or lang-only
    partitioned) WindowExec would reintroduce the one-task sort this
    family was rebuilt to avoid. The 1-row total in the deciles query is
    a scalar aggregate over the tiny offsets stage, hence the <=1
    SinglePartition allowance there."""
    plan = _plan(spark, name)
    assert "ntile" not in plan.lower(), plan
    assert "row_number" not in plan, plan
    allowed = 1 if name in ("customer_value_deciles", "quality_dup_deciles") else 0
    assert plan.count("Exchange SinglePartition") <= allowed, plan
    # the range-partitioned ordinal stage is persisted; its exchange sits
    # inside the InMemoryRelation, which prints as a table-cache scan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan


def test_sketch_queries_have_no_corpus_sort_or_window(spark):
    """Sketches exist to AVOID sort/window/distinct over the corpus:
    their plans must be combinable aggregates (+ broadcast lookups /
    TakeOrdered for the exact comparison branch) only."""
    plan = _plan(spark, "approx_distinct_hll")
    assert "Window" not in plan, plan
    assert "Sort " not in plan.replace("SortAggregate", "XAggregate"), plan
    plan = _plan(spark, "countmin_heavy_hitters")
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # exact top-20 branch
    plan = _plan(spark, "corpus_digest")
    assert "Window" not in plan and "Join" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "bigram_lm_score",
        "importance_weights_dsir",
        "vocab_diversity_by_source",
        "ngram_novelty_score",
    ],
)
def test_corpus_scoring_family_scale_shape(spark, name):
    """The round-5 corpus-scoring family: no windows at all, no
    single-partition exchange, never a nested-loop join — each is scans +
    combinable aggregates + (broadcast or co-partitioned) equi-joins."""
    plan = _plan(spark, name)
    for bad in (
        "SinglePartition",
        "WindowExec",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert bad not in plan, f"{name}: {bad}\n{plan}"


def test_dsir_broadcasts_bucket_ratios(spark):
    """The 1024-row bucket-ratio table must broadcast (explicit hint), and
    the persisted (doc, bucket) stage must be read from cache."""
    plan = _plan(spark, "importance_weights_dsir")
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_bigram_lm_persists_fork_stages(spark):
    """Both forked stages (per-doc counts, corpus bigram counts) must be
    cached — AQE identical-subtree reuse is not a contract."""
    plan = _plan(spark, "bigram_lm_score")
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_lsh_tuning_curve_shares_cached_stages(spark):
    """Round 9 (VERDICT r8 item 5): the final plan is one groupBy(leg)
    over the SINGLE eagerly-materialized leg-tagged candidate relation
    joined against the single materialized truth relation — both read
    from cache (so neither the banding nor the verify subtree appears:
    no Generate explode, no sort-merge join), and the only cross join
    is the broadcast 1-row truth count."""
    plan = _plan(spark, "lsh_tuning_curve")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    # the executed region (above the first cached child, whose stored
    # plan the string inlines) must be pure cache-read + broadcast agg
    live = plan[: plan.index("InMemoryRelation")]
    assert "SortMergeJoin" not in live, plan
    assert "Generate" not in live, plan


@pytest.mark.parametrize(
    "name", ["cluster_best_representative", "nearpair_embedding_agreement"]
)
def test_cluster_queries_never_nested_loop(spark, name):
    """Cluster representative selection and the cross-modal pair QC are
    joins over LSH-bounded pair/cluster sets: no cartesian or nested-loop
    join, no window operators at all."""
    plan = _plan(spark, name)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "WindowExec"):
        assert bad not in plan, f"{name}: {bad}\n{plan}"


def test_vocab_overlap_caches_vocab_and_broadcasts_sizes(spark):
    """The (source, token) vocab stage must be read from cache by the
    sizes aggregate and both self-join sides (exchange reuse across a
    self-join is not a contract), the per-source size tables must
    broadcast, and the token self-join must be an equi-join."""
    plan = _plan(spark, "source_vocab_overlap")
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "WindowExec"):
        assert bad not in plan, plan


def test_correlation_is_single_combinable_aggregate(spark):
    """The correlation query reduces the corpus in ONE combinable
    aggregate: no windows, no sorts, and only the score join + final
    1-row aggregation exchanges."""
    plan = _plan(spark, "length_quality_correlation")
    for bad in ("WindowExec", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_threshold_sweep_persists_pair_set(spark):
    """The threshold explode forks the verified pair set into the
    pair-count and affected-doc aggregates: both must read the persisted
    shingle AND pair stages from cache (>= 2 cached relations), and the
    x|thresholds| fan-out must never cartesian against the corpus."""
    plan = _plan(spark, "dedup_threshold_sweep")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    # the 6-row threshold join must broadcast; the shingle-verify joins
    # plan against MEASURED cache stats (caching.eager — round 7), so at
    # test scale they may legitimately broadcast too
    assert "BroadcastHashJoin" in plan, plan


def test_knn_graph_no_corpus_broadcast(spark):
    """The all-vectors kNN graph must never broadcast or cross-join the
    corpus. Round 8: the graph executes on the Arrow kernels — cell
    assignment as a map pass, per-cell top-k inside the groupBy(cell)
    task (FlatMapGroupsInArrow), so the plan carries the one cell
    exchange and NO join operator at all; the former WindowGroupLimit
    top-k now happens inside the cell kernel."""
    plan = _plan(spark, "knn_graph_hubness")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan, plan
    assert "FlatMapGroupsInArrow" in plan, plan


def test_cell_balance_single_corpus_scan(spark):
    """Cell balance is one combinable groupBy over the assignment
    projection plus a broadcast 1-row total: no shuffle join of the
    corpus (the 1-row cross join plans as a broadcast NLJ, fine) and
    no window operators."""
    plan = _plan(spark, "ivf_cell_balance")
    assert "SortMergeJoin" not in plan, plan
    assert "WindowExec" not in plan, plan


def test_hard_negatives_arrow_pass_topk(spark):
    """Hard-negative mining scores the corpus against the collected
    query sample in ONE Arrow map pass (no join of any kind — the
    round-10 vector_arrow.hard_negatives_arrow rewrite) and ranks the
    bounded local-top-k survivors via WindowGroupLimit."""
    plan = _plan(spark, "hard_negative_mining")
    assert "MapInArrow" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan


def test_edge_density_persists_shared_stages(spark):
    """Shingles feed signatures + the Jaccard verify; candidate pairs
    feed the components, the verify, and the per-cluster edge count —
    both stages must come from cache, and the pair-side joins must stay
    equi-joins."""
    plan = _plan(spark, "cluster_edge_density")
    assert plan.count("InMemoryTableScan") >= 2, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    # cluster-sized rollups broadcast; the shingle-verify joins plan
    # against measured cache stats (see test_pair_overlap_stats pin)
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["dup_inflation_curve", "langid_confusion_matrix", "embedding_norm_health"],
)
def test_scan_only_qc_queries_no_joins_or_windows(spark, name):
    """The round-5d scan-rollup QC family: one corpus scan into
    combinable groupBys — any join or window operator appearing here
    means someone broke the shape."""
    plan = _plan(spark, name)
    for bad in (
        "WindowExec",
        "SortMergeJoin",
        "BroadcastHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert bad not in plan, f"{name}: {bad}\n{plan}"


def test_prefix_groups_combinable_rollup(spark):
    """Prefix hashes roll up in one groupBy (the countDistincts expand,
    they don't join); no windows, no joins."""
    plan = _plan(spark, "boilerplate_prefix_groups")
    for bad in ("WindowExec", "SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_decon_curve_broadcasts_eval_grams_all_legs(spark):
    """Round 10 shape: ONE leg-tagged broadcast of the (ngram_n, sh)
    eval hit set against the train gram stream (was one broadcast join
    per n) — the corpus side is never the build side of a shuffle join,
    and both sides read the persisted per-doc gram-array stage."""
    plan = _plan(spark, "decontamination_ngram_curve")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan


def test_fertility_no_cartesian(spark):
    """The fertility rollup rides the bpe train-then-apply chain (1-row
    argmax broadcasts are expected) — but never a real cartesian and
    never a window."""
    plan = _plan(spark, "tokenizer_fertility_by_lang")
    assert "CartesianProduct" not in plan, plan
    assert "WindowExec" not in plan, plan


def test_anisotropy_combinable_collapse(spark):
    """The corpus collapses in ONE combinable groupBy(label, dim); the
    |labels|-row tail joins broadcast; no windows anywhere."""
    plan = _plan(spark, "embedding_anisotropy")
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("WindowExec", "SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_zipf_persists_count_fork(spark):
    """The (lang, token) count table feeds the grouped top-k AND the
    totals: both must read it from cache; top-k compiles to
    WindowGroupLimit; the final |langs| join broadcasts."""
    plan = _plan(spark, "zipf_head_share")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_label_margin_broadcast_centroids_no_corpus_shuffle_joins(spark):
    """Centroid arrays broadcast into the corpus scan (the cross join is
    the |labels|-row broadcast NLJ, fine); dots fold row-side so the only
    corpus exchanges are the combinable aggregates — never a sort-merge
    join, never a window."""
    plan = _plan(spark, "embedding_label_margin")
    assert "BroadcastNestedLoopJoin" in plan, plan
    for bad in ("WindowExec", "SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_staleness_buckets_single_corpus_exchange(spark):
    """The staleness rollup rides the bucketed as-of DAG (union + one
    (user, bucket) window) — no join operator on the corpus, one tiny
    broadcast total."""
    plan = _plan(spark, "asof_staleness_buckets")
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_packing_stats_range_partitioned_ordinal(spark):
    """The 1-row packing summary must inherit the two-phase prefix sum —
    never a bare global window over the corpus."""
    plan = _plan(spark, "packing_boundary_stats")
    assert "Exchange rangepartitioning" in plan, plan
    # the only allowed single-partition exchange is the final 1-row agg
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_leg_agreement_no_corpus_join(spark):
    """Both retriever legs are corpus-shuffle-free; the agreement join
    runs on two top-20 lists (broadcast-able) with WindowGroupLimit on
    both rank windows."""
    plan = _plan(spark, "retrieval_leg_agreement")
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name", ["eval_split_balance", "simhash_bit_balance", "shard_balance_qc"]
)
def test_health_audits_scan_rollup_shape(spark, name):
    """The split/hash/shard audits are scan -> combinable groupBy (+ a
    broadcast 1-row total for the shard case): no windows, no shuffle
    joins."""
    plan = _plan(spark, name)
    for bad in ("WindowExec", "SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, f"{name}: {bad}\n{plan}"


def test_shootout_shares_exact_leg(spark):
    """The exact brute-force truth leg persists once and feeds all four
    method aggregates (>= 4 cache reads); no true cartesian (the exact
    leg's broadcast NLJ over the bounded query set is the deliberate
    audit baseline)."""
    plan = _plan(spark, "ann_method_shootout")
    assert plan.count("InMemoryTableScan") >= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_int8_quant_is_pure_projection(spark):
    """The quantization audit never shuffles: per-vector folds in the
    scan stage, no exchange of any kind."""
    plan = _plan(spark, "int8_quant_error")
    assert "Exchange" not in plan, plan


def test_pii_density_single_exchange(spark):
    """PII rollup = scan-stage regex counts + ONE combinable hash
    exchange on source."""
    plan = _plan(spark, "pii_density_by_source")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "WindowExec" not in plan, plan


def test_soft_dedup_weights_no_corpus_window(spark):
    """Spark side is groupBy + join — the oracle's window is DuckDB
    idiom only; a corpus-wide Window partition must never appear."""
    plan = _plan(spark, "soft_dedup_weights")
    assert "WindowExec" not in plan and "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_rerank_broadcasts_shortlist(spark):
    """Two-stage retrieval: the tiny shortlist must be the broadcast
    build side against the corpus candidate scan — never a sort-merge
    join over the embeddings."""
    plan = _plan(spark, "pq_shortlist_rerank")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mixing_allocation_broadcast_total(spark):
    """Data mixing: per-source rollup persists once; the 1-row total
    joins back via broadcast — no shuffle join anywhere."""
    plan = _plan(spark, "token_budget_allocation")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


@pytest.mark.parametrize(
    "name",
    ["minhash_gate_calibration", "jaccard_bin_histogram", "gate_false_drop_audit"],
)
def test_gate_qc_pair_discipline(spark, name):
    """The gate-QC family inherits near_dup_jaccard's shape: in-bucket
    pair generation (no corpus self-join) over ONE persisted shingle
    exchange."""
    plan = _plan(spark, name)
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, f"{name}: {bad}\n{plan}"
    assert "InMemoryTableScan" in plan, plan


@pytest.mark.parametrize(
    "name", ["near_dup_jaccard", "char_shingle_near_dup", "minhash_gate_calibration"]
)
def test_shingle_fork_materialized_before_planning(spark, name):
    """Round-7 regression pin for the 100x driver kill (replacing
    round 6's blanket SMJ pin): every cached relation in the verify
    pipeline must be MATERIALIZED by the time dependent plans are built
    (``caching.eager``), so the static planner sees measured
    InMemoryRelation sizes instead of the child's optimistic estimates —
    the mis-estimate that statically broadcast a multi-GiB shingle
    relation at 100x (and AQE can never demote a static broadcast).
    With measured stats the planner is free to broadcast at test scale
    (where the shingle set really is tiny — the scale-CORRECT choice the
    round-6 hints forbade) and forced off broadcast at corpus scale;
    ``test_pair_overlap_stats_drive_strategy`` pins that both ways."""
    df = queries()[name](spark, SF_SMOKE)
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    imrs = [
        leaves.apply(i)
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "InMemoryRelation"
    ]
    assert imrs, f"{name}: no cached relation found in the optimized plan"
    for r in imrs:
        assert r.cacheBuilder().isCachedColumnBuffersLoaded(), (
            f"{name}: unmaterialized cache at plan time — static size "
            "estimates are garbage and the 100x broadcast kill is back"
        )


def test_pair_overlap_stats_drive_strategy(spark):
    """The mechanism pin for pair_overlap_counts' join strategy: with the
    shingle fork eager-materialized, the static planner's choice must
    follow the MEASURED cache size against autoBroadcastJoinThreshold in
    BOTH directions — no broadcast of the shingle relation when the
    measured size exceeds the threshold (the 100x safety), broadcast
    allowed when it fits (the sf0.1 speed round 6's blanket merge hints
    gave up)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from mdio_python_spark.operators import dedup
    from mdio_python_spark.operators.caching import eager

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    sh = eager(
        dedup.shingle_hashes(docs, n=3)
        .repartition("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def shingle_cache_broadcast(plan: str) -> bool:
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "BroadcastExchange" not in ln:
                continue
            depth = len(ln) - len(ln.lstrip())
            sub = []
            for nxt in lines[i + 1 :]:
                if len(nxt) - len(nxt.lstrip()) <= depth:
                    break
                sub.append(nxt)
            subtree = "\n".join(sub)
            # a raw cached-relation build side (per-doc size aggregates
            # over the cache are bounded and fine to broadcast)
            if "InMemoryTableScan" in subtree and "HashAggregate" not in subtree:
                return True
        return False

    try:
        # measured size (a few hundred KiB of shingle hashes) > 1 KiB
        # threshold -> the planner must NOT statically broadcast the
        # cached shingle relation
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        out = dedup.jaccard_pairs(pairs, sh.distinct(), min_jaccard=0.5)
        plan_low = out._jdf.queryExecution().executedPlan().toString()
        assert not shingle_cache_broadcast(plan_low), plan_low
        # measured size < 100 MiB threshold -> the planner is free to
        # broadcast it statically (the fast small-scale plan); if this
        # fails, stats regressed to unmeasured estimates
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100MB")
        out = dedup.jaccard_pairs(pairs, sh.distinct(), min_jaccard=0.5)
        plan_high = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_high, plan_high
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        sh.unpersist()


def test_clip_sweep_audit_is_one_combinable_agg(spark):
    """int8_quant_clip_sweep's AUDIT pass (the declared DataFrame; the
    kth-order-statistic selection runs at construction through the
    separately-pinned distributed_ordinal) must stay a single combinable
    aggregate over the exploded elements: all three method scales are
    plan literals, so the plan has no join of any kind, no window, and
    exactly one exchange — the bounded final-agg SinglePartition fed by
    per-partition partial aggregates."""
    plan = _plan(spark, "int8_quant_clip_sweep")
    for bad in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "Window",
    ):
        assert bad not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange SinglePartition" in plan, plan
