"""Semantic + plan-shape tests for the ANN family (operators/similarity.py).

The oracle-parity suite pins exact values; these tests pin the *shape*
properties that matter at 100 TB: IVF cell assignment is a shuffle-free
projection, results only come from probed cells, and the exact re-rank
agrees with brute force on the pairs it does score.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdio_python_spark.operators import similarity as sim
from mdio_python_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _np_assign(vecs: dict[int, np.ndarray], n_centroids: int) -> dict[int, int]:
    """Independent numpy argmax-cosine assignment (left-fold norms)."""

    def lnorm(v):
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    cents = {cid: vecs[cid] for cid in range(n_centroids)}
    out = {}
    for vid, v in vecs.items():
        best = None
        for cid, c in sorted(cents.items()):
            dot = 0.0
            for a, b in zip(v, c):
                dot += float(a) * float(b)
            cos = dot / (lnorm(v) * lnorm(c))
            if best is None or cos > best[0]:
                best = (cos, cid)
        out[vid] = best[1]
    return out


def test_ivf_assignment_matches_numpy(spark, emb):
    vecs = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float32)
        for r in emb.collect()
    }
    expect = _np_assign(vecs, n_centroids=16)
    got = sim.ivf_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, n_centroids=16, nprobe=16
    )
    # with nprobe == n_centroids every candidate's assigned cell appears;
    # check the cell column against the numpy assignment
    for r in got.collect():
        assert r["cell"] == expect[int(r["candidate_id"])]


def test_ivf_results_only_from_probed_cells_and_exact_cosine(spark, emb):
    k, nprobe = 3, 4
    res = sim.ivf_topk(
        emb.where(F.col("vec_id") < 50), emb, k=k, n_centroids=16, nprobe=nprobe
    ).collect()
    assert res, "IVF returned no rows"
    brute = {
        (int(r["query_id"]), int(r["candidate_id"])): r["cosine"]
        for r in sim.cosine_topk(
            emb.where(F.col("vec_id") < 50), emb, k=10**9
        ).collect()
    }
    per_query_cells: dict[int, set[int]] = {}
    per_query_ranks: dict[int, list[int]] = {}
    for r in res:
        q = int(r["query_id"])
        per_query_cells.setdefault(q, set()).add(int(r["cell"]))
        per_query_ranks.setdefault(q, []).append(int(r["rank"]))
        # exact re-rank: same pair -> bit-identical cosine as brute force
        assert r["cosine"] == brute[(q, int(r["candidate_id"]))]
    for q, cells in per_query_cells.items():
        assert len(cells) <= nprobe
        assert sorted(per_query_ranks[q]) == list(range(1, len(per_query_ranks[q]) + 1))


def test_ivf_plan_shape(spark, emb, monkeypatch):
    """Round 11 (Arrow kernel): scoring is one MapInArrow kernel pass —
    join-free; the only hash exchange is the final per-query top-k
    window. The declarative path's shape (projection assignment +
    broadcast probe join) is checked separately below."""
    df = sim.ivf_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, n_centroids=16, nprobe=4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "MapInArrow" in plan, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan

    monkeypatch.setattr(sim, "_IVF_QUERY_LIMIT", -1)
    df_decl = sim.ivf_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, n_centroids=16, nprobe=4
    )
    plan_decl = df_decl._jdf.queryExecution().executedPlan().toString()
    assert plan_decl.count("Exchange hashpartitioning") == 1, plan_decl
    assert (
        "BroadcastHashJoin" in plan_decl
        or "BroadcastNestedLoopJoin" in plan_decl
    ), plan_decl
    assert "SortMergeJoin" not in plan_decl, plan_decl


def test_pq_encode_matches_numpy(spark):
    """PQ codes equal an independent numpy argmin per subspace."""
    import numpy as np

    from mdio_python_spark.operators.similarity import pq_codebooks, pq_encode
    from mdio_python_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books, sub = pq_codebooks(emb, n_subspaces=4, n_codes=8)
    got = {
        r["vec_id"]: [r[f"code_{m}"] for m in range(4)]
        for r in pq_encode(emb, books, sub).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows[:50]:
        vec = np.array(r["embedding"], dtype=np.float64)
        want = []
        for m in range(4):
            d = [
                float(((vec[m * sub : (m + 1) * sub] - np.array(c)) ** 2).sum())
                for c in books[m]
            ]
            want.append(int(np.argmin(d)))
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_pq_adc_approximates_true_distance(spark):
    """ADC distance must approximate the true squared L2 to the query —
    sanity that the lookup plumbing indexes the right codewords."""
    import numpy as np

    from mdio_python_spark.operators.similarity import (
        pq_adc_distance,
        pq_codebooks,
        pq_encode,
    )
    from mdio_python_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books, sub = pq_codebooks(emb, n_subspaces=4, n_codes=8)
    from pyspark.sql import functions as F

    q_vec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    codes = pq_encode(emb, books, sub)
    out = codes.select(
        "vec_id",
        "embedding",
        pq_adc_distance(codes, q_vec, books, sub).alias("adc"),
    ).collect()
    q = np.array(q_vec)
    errs = []
    for r in out[:100]:
        true = float(((np.array(r["embedding"], dtype=np.float64) - q) ** 2).sum())
        errs.append(abs(r["adc"] - true))
    # codeword for vec 0 itself reconstructs exactly
    self_row = next(r for r in out if r["vec_id"] == 0)
    assert self_row["adc"] == 0.0
    # quantization error bounded on this data (loose sanity bound)
    assert np.median(errs) < 2.0


def test_ivfpq_adc_matches_per_pair_recompute(spark, emb):
    """ADC via per-query literal lookup tables must equal recomputing
    each (query, candidate) term directly from codes + codebooks."""
    books, sub = sim.pq_codebooks(emb, n_subspaces=4, n_codes=8)
    out = sim.ivfpq_topk(
        emb.where(F.col("vec_id") < 10), emb, k=3, n_centroids=16, nprobe=4
    ).collect()
    assert len(out) > 0
    codes = {
        int(r["candidate_id"]): [int(r[f"code_{m}"]) for m in range(4)]
        for r in sim.pq_encode(
            emb.select(F.col("vec_id").alias("candidate_id"), "embedding"),
            books,
            sub,
        ).collect()
    }
    qvecs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.where(F.col("vec_id") < 10).collect()
    }
    for r in out:
        q = qvecs[r["query_id"]]
        want = 0.0
        for m in range(4):
            q_sub = q[m * sub : (m + 1) * sub]
            want += sim._py_l2sq(q_sub, books[m][codes[r["candidate_id"]][m]])
        assert r["adc_dist"] == want
        assert 1 <= r["rank"] <= 3
        assert r["query_id"] != r["candidate_id"]


def test_ivfpq_fitted_path_runs_and_ranks(spark, emb):
    cents = sim.ivf_fit_centroids(emb, n_centroids=8, iters=2, sample_mod=2)
    books = sim.fit_pq_codebooks(emb, n_subspaces=4, n_codes=8, iters=2, sample_mod=2)
    out = sim.ivfpq_topk(
        emb.where(F.col("vec_id") < 10), emb, k=3, nprobe=3,
        centroids=cents, codebooks=books,
    )
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["rank"])
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)  # ranks follow ADC order
        assert len(rs) <= 3


def test_ivfpq_candidate_vector_never_crosses_probe_join(
    spark, emb, monkeypatch
):
    """The point of PQ at scale: the corpus embedding never crosses a
    shuffle. Declarative path: the embedding column must be pruned
    before the cell join — only (id, cell, codes) shuffle. Arrow path
    (the round-10 default): no join at all — only the bounded local
    top-k rows (id, cell, adc_dist) leave the scoring map pass."""
    monkeypatch.setattr(sim, "_IVF_QUERY_LIMIT", -1)
    out = sim.ivfpq_topk(
        emb.where(F.col("vec_id") < 10), emb, k=3, n_centroids=16, nprobe=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_at = plan.find("BroadcastHashJoin")
    assert join_at != -1
    # above the join (output side) no embedding attribute may remain
    assert "embedding#" not in plan[:join_at]

    monkeypatch.undo()
    out = sim.ivfpq_topk(
        emb.where(F.col("vec_id") < 10), emb, k=3, n_centroids=16, nprobe=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "MapInArrow" in plan, plan
    map_at = plan.find("MapInArrow")
    # above the kernel (output side) no embedding attribute may remain
    assert "embedding#" not in plan[:map_at]


def test_random_project_matches_numpy(spark):
    """random_project == sign-matrix matmul in float64 (left-fold order
    reproduced with a sequential accumulation)."""
    import numpy as np

    from mdio_python_spark.operators.similarity import random_project, rp_signs
    from mdio_python_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(32)
    out = random_project(emb, out_dim=8, in_dim=64).select(
        "vec_id", *[f"rp_{j}" for j in range(8)]
    )
    rows = {r["vec_id"]: r for r in out.collect()}
    signs = rp_signs(8, 64)
    src = emb.select("vec_id", "embedding").collect()
    for r in src:
        vec = [float(x) for x in r["embedding"]]
        for j in range(8):
            acc = 0.0
            for k in range(64):
                acc += vec[k] * signs[j][k]
            assert rows[r["vec_id"]][f"rp_{j}"] == acc / np.sqrt(8.0)
    # sanity: the matrix is balanced-ish (not all same sign)
    flat = [s for row in signs for s in row]
    assert 0.3 < (sum(1 for s in flat if s > 0) / len(flat)) < 0.7


def test_assignment_join_matches_literal(spark):
    """ivf_cell_assignments_join is a physical-strategy swap only: cell
    assignments (and the knn_graph built on them) must be BIT-identical
    to the literal-centroid path at the same k."""
    from mdio_python_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lit = {
        (r.vec_id, r.cell)
        for r in similarity.ivf_cell_assignments(emb, n_centroids=16).collect()
    }
    joined = {
        (r.vec_id, r.cell)
        for r in similarity.ivf_cell_assignments_join(emb, 16).collect()
    }
    assert lit == joined

    g_lit = sorted(
        (r.query_id, r.candidate_id, r.cosine, r.rank)
        for r in similarity.knn_graph(emb, k=5, n_centroids=16).collect()
    )
    g_join = sorted(
        (r.query_id, r.candidate_id, r.cosine, r.rank)
        for r in similarity.knn_graph(
            emb, k=5, n_centroids=16, assign="join"
        ).collect()
    )
    assert g_lit == g_join  # bitwise double equality via tuple compare
