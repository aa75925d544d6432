"""Bit-equality gates for the Arrow-executed kNN-graph family
(operators/vector_arrow.py): the numpy kernels must reproduce the
declarative fold-cosine implementations EXACTLY — same pairs, same
ranks, same cosine doubles to the last ulp — because the DuckDB oracles
of the queries they serve (knn_graph_hubness_scaled,
semantic_dedup_scaled) are unchanged.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_CORRECT


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _declarative(op, *args, **kwargs):
    """Sorted rows of an IVF operator forced onto its declarative path
    (query-sample gate shut)."""
    from mdio_python_spark.operators import similarity

    with pytest.MonkeyPatch.context() as m:
        m.setattr(similarity, "_IVF_QUERY_LIMIT", -1)
        return _sorted_rows(op(*args, **kwargs))


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


@pytest.mark.parametrize("max_cell", [1024, 5])
def test_knn_graph_arrow_bit_equal(spark, emb, max_cell):
    from mdio_python_spark.operators import similarity, vector_arrow

    n = emb.count()
    k_cells = max(16, int(math.floor(math.sqrt(n))))
    ref = similarity.knn_graph(
        emb, k=10, n_centroids=k_cells, assign="join", max_cell=max_cell
    )
    got = vector_arrow.knn_graph_arrow(
        emb, k=10, n_centroids=k_cells, max_cell=max_cell
    )
    ref_rows, got_rows = _sorted_rows(ref), _sorted_rows(got)
    assert len(got_rows) == len(ref_rows) > 0
    # exact compare, doubles included: == on float is the bitwise check
    # here (no NaN/-0.0 can reach the output; norms are > 0)
    assert got_rows == ref_rows


def test_semantic_dedup_arrow_bit_equal(spark, emb):
    from mdio_python_spark.operators import similarity, vector_arrow

    n = emb.count()
    k_cells = max(16, int(math.floor(math.sqrt(n))))
    ref = similarity.semantic_dedup_drops(
        emb, threshold=0.3, n_centroids=k_cells, assign="join"
    )
    got = vector_arrow.semantic_dedup_arrow(
        emb, threshold=0.3, n_centroids=k_cells
    )
    ref_rows, got_rows = _sorted_rows(ref), _sorted_rows(got)
    assert len(got_rows) == len(ref_rows) > 0
    assert got_rows == ref_rows


def test_knn_graph_arrow_exact_tie_breaks(spark):
    """Duplicate vectors produce exact cosine ties; both paths must
    break them toward the smallest candidate id."""
    from mdio_python_spark.operators import similarity, vector_arrow

    rows = []
    for i in range(12):
        # 3 distinct directions, each repeated 4x => guaranteed ties
        base = [1.0, 0.0, 0.5], [0.0, 1.0, 0.5], [0.5, 0.5, 1.0]
        rows.append((i, [float(x) * (1 + i % 4) for x in base[i % 3]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ref = similarity.knn_graph(df, k=5, n_centroids=3, assign="join")
    got = vector_arrow.knn_graph_arrow(df, k=5, n_centroids=3)
    assert _sorted_rows(got) == _sorted_rows(ref)


def test_multiprobe_matches_python_reference(spark):
    """knn_graph_multiprobe_arrow vs an independent pure-Python fold on
    a hand-sized input: top-1 cell membership with the ascending-id cap,
    nprobe nearest cells per query, exact rerank, (cos desc, id asc)
    ties."""
    import numpy as np

    from mdio_python_spark.operators import vector_arrow

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((50, 6)).round(3).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(j, [float(x) for x in vecs[j]]) for j in range(4)]
    nprobe, max_cell, k = 2, 3, 2

    def fdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def fnorm(a):
        return math.sqrt(fdot(a, a))

    cn = {cid: fnorm(v) for cid, v in cents}
    vec = {i: [float(x) for x in vecs[i]] for i in range(50)}
    vnorm = {i: fnorm(v) for i, v in vec.items()}

    def ranked_cells(i):
        scored = sorted(
            ((-(fdot(vec[i], cv) / (vnorm[i] * cn[cid])), cid) for cid, cv in cents),
        )
        return [cid for _, cid in scored]

    members: dict[int, list[int]] = {}
    for i in sorted(vec):
        members.setdefault(ranked_cells(i)[0], []).append(i)
    capped = {c: sorted(ids)[:max_cell] for c, ids in members.items()}

    expected = []
    for i in sorted(vec):
        cand = [
            j
            for c in ranked_cells(i)[:nprobe]
            for j in capped.get(c, [])
            if j != i
        ]
        scored = sorted(
            (-(fdot(vec[i], vec[j]) / (vnorm[i] * vnorm[j])), j) for j in cand
        )
        for rank, (negcos, j) in enumerate(scored[:k], start=1):
            expected.append((i, j, -negcos, rank))

    got = vector_arrow.knn_graph_multiprobe_arrow(
        df, k=k, nprobe=nprobe, centroids=cents, max_cell=max_cell
    )
    assert _sorted_rows(got) == sorted(expected)


def test_cosine_topk_arrow_bit_equal(spark):
    """cosine_topk_arrow == similarity.cosine_topk: same left-fold
    cosine doubles, same (cosine DESC, candidate_id) tie order — on a
    tie-heavy synthetic (colinear vectors) and the smoke corpus."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.similarity import cosine_topk
    from mdio_python_spark.operators.vector_arrow import cosine_topk_arrow

    rows = [
        (0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0]),
        (4, [0.0, 1.0]), (5, [1.0, 1.0]), (6, [2.0, 2.0]), (7, [-1.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 3)
    old = sorted(tuple(r) for r in cosine_topk(q, df, k=3).collect())
    new = sorted(tuple(r) for r in cosine_topk_arrow(q, df, k=3).collect())
    assert old == new

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 50)
    old = sorted(tuple(r) for r in cosine_topk(qs, emb, k=10).collect())
    new = sorted(tuple(r) for r in cosine_topk_arrow(qs, emb, k=10).collect())
    assert old == new


def test_hard_negatives_arrow_bit_equal(spark):
    """hard_negatives_arrow == the declarative crossJoin + label filter
    + window shape: same left-fold cosine doubles, same (cosine DESC,
    candidate_id) tie order, same label/self exclusion — on a tie-heavy
    labeled synthetic and the smoke corpus."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mdio_python_spark.operators import similarity
    from mdio_python_spark.operators.vector_arrow import hard_negatives_arrow

    def declarative(queries, candidates, k):
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            F.col("label").alias("query_label"),
        )
        c = candidates.select(
            F.col("vec_id").alias("candidate_id"),
            F.col("embedding").alias("c_vec"),
            F.col("label").alias("candidate_label"),
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .where(
                (F.col("query_id") != F.col("candidate_id"))
                & (F.col("query_label") != F.col("candidate_label"))
            )
            .select(
                "query_id",
                "query_label",
                "candidate_id",
                "candidate_label",
                similarity.cosine(F.col("q_vec"), F.col("c_vec")).alias(
                    "cosine"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("candidate_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id",
                "query_label",
                "candidate_id",
                "candidate_label",
                "cosine",
                "rank",
            )
        )

    rows = [
        (0, [1.0, 0.0], 0), (1, [3.0, 0.0], 1), (2, [1.0, 0.0], 0),
        (3, [2.0, 0.0], 1), (4, [0.0, 1.0], 0), (5, [1.0, 1.0], 1),
        (6, [2.0, 2.0], 0), (7, [-1.0, 0.5], 1), (8, [1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = df.where(F.col("vec_id") < 3)
    old = sorted(tuple(r) for r in declarative(q, df, 3).collect())
    new = sorted(tuple(r) for r in hard_negatives_arrow(q, df, k=3).collect())
    assert old == new and len(new) > 0

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 50)
    old = sorted(tuple(r) for r in declarative(qs, emb, 5).collect())
    new = sorted(tuple(r) for r in hard_negatives_arrow(qs, emb, k=5).collect())
    assert old == new and len(new) > 0
    assert [f.name for f in hard_negatives_arrow(qs, emb, k=5).schema.fields] \
        == [f.name for f in declarative(qs, emb, 5).schema.fields]


def test_ivf_recall_curve_arrow_bit_equal(spark):
    """ivf_recall_curve's Arrow kernel == the declarative leg-join path:
    identical curve rows on the smoke corpus and on a tie-heavy
    synthetic (colinear vectors force cosine ties through both the
    probe order and the rank window). Zero-norm vectors are NOT in the
    pin: the declarative path itself rejects them under ANSI
    (DIVIDE_BY_ZERO), the documented pre-existing divergence."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.similarity import ivf_recall_curve

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 50)
    old = _declarative(ivf_recall_curve, qs, emb, k=10, n_centroids=16)
    new = _sorted_rows(ivf_recall_curve(qs, emb, k=10, n_centroids=16))
    assert old == new and len(new) == 4

    rows = [
        (0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0]),
        (4, [0.0, 1.0]), (5, [1.0, 1.0]), (6, [2.0, 2.0]), (7, [-1.0, 0.5]),
        (8, [0.5, 0.5]), (9, [4.0, 0.1]), (10, [0.1, 4.0]), (11, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 5)
    old = _declarative(
        ivf_recall_curve, q, df, k=3, n_centroids=4, probes=(1, 2)
    )
    new = _sorted_rows(
        ivf_recall_curve(q, df, k=3, n_centroids=4, probes=(1, 2))
    )
    assert old == new and len(new) == 2


def test_ivfpq_topk_arrow_bit_equal(spark):
    """ivfpq_topk's Arrow kernel == the declarative cell/encode/ADC path:
    identical (query_id, candidate_id, cell, adc_dist, rank) rows on the
    smoke corpus with the committed fitted model, with the id-prefix
    default model, and on a tie-heavy synthetic (colinear vectors force
    ties through the cell argmax, the code argmin, and the rank)."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.model_store import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from mdio_python_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 50)
    for kwargs in (
        dict(centroids=load_ivf_centroids(), codebooks=load_pq_codebooks()),
        dict(),
    ):
        old = _declarative(
            ivfpq_topk, qs, emb, k=3, n_centroids=16, nprobe=4, **kwargs
        )
        new = _sorted_rows(
            ivfpq_topk(qs, emb, k=3, n_centroids=16, nprobe=4, **kwargs)
        )
        assert old == new and len(new) > 0, kwargs.keys()

    rows = [
        (0, [1.0, 0.0, 1.0, 0.0]), (1, [3.0, 0.0, 3.0, 0.0]),
        (2, [1.0, 0.0, 1.0, 0.0]), (3, [2.0, 0.0, 0.0, 2.0]),
        (4, [0.0, 1.0, 0.0, 1.0]), (5, [1.0, 1.0, 1.0, 1.0]),
        (6, [2.0, 2.0, 2.0, 2.0]), (7, [-1.0, 0.5, -1.0, 0.5]),
        (8, [1.0, 0.0, 1.0, 0.0]), (9, [4.0, 0.1, 4.0, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 4)
    pq_args = dict(k=3, n_centroids=4, nprobe=2, n_subspaces=2, n_codes=4)
    old = _declarative(ivfpq_topk, q, df, **pq_args)
    new = _sorted_rows(ivfpq_topk(q, df, **pq_args))
    assert old == new and len(new) > 0


def test_ivf_topk_arrow_bit_equal(spark):
    """ivf_topk's Arrow kernel == the declarative cell/probe-join path
    (round 11, VERDICT r10 item 1): identical (query_id, candidate_id,
    cell, cosine, rank) rows on the smoke corpus with the id-prefix
    centroids AND with the committed fitted model, and on a tie-heavy
    synthetic (colinear vectors force ties through the cell argmax, the
    probe order, and the rank window)."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.model_store import load_ivf_centroids
    from mdio_python_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 50)
    for kwargs in (dict(), dict(centroids=load_ivf_centroids())):
        old = _declarative(
            ivf_topk, qs, emb, k=3, n_centroids=16, nprobe=4, **kwargs
        )
        new = _sorted_rows(
            ivf_topk(qs, emb, k=3, n_centroids=16, nprobe=4, **kwargs)
        )
        assert old == new and len(new) > 0, kwargs.keys()
    # the k=10 shape ann_recall_at_k / ann_method_shootout consume
    old = _declarative(ivf_topk, qs, emb, k=10, n_centroids=16, nprobe=4)
    new = _sorted_rows(ivf_topk(qs, emb, k=10, n_centroids=16, nprobe=4))
    assert old == new and len(new) > 0

    rows = [
        (0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [1.0, 0.0]), (3, [2.0, 0.0]),
        (4, [0.0, 1.0]), (5, [1.0, 1.0]), (6, [2.0, 2.0]), (7, [-1.0, 0.5]),
        (8, [0.5, 0.5]), (9, [4.0, 0.1]), (10, [0.1, 4.0]), (11, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 5)
    old = _declarative(ivf_topk, q, df, k=3, n_centroids=4, nprobe=2)
    new = _sorted_rows(ivf_topk(q, df, k=3, n_centroids=4, nprobe=2))
    assert old == new and len(new) > 0


@pytest.mark.parametrize("bad", [[1.0, 2.0, 3.0], None], ids=["ragged", "null"])
def test_bad_embedding_raises_ragged_samples(spark, bad):
    """A ragged or null embedding is a named RaggedSamplesError from the
    trace-batch codec — on the driver for the collected query sample,
    in the workers for the candidate scan and the cell assignment —
    not a numpy shape error."""
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.vector_arrow import (
        cosine_topk_arrow,
        knn_graph_arrow,
    )
    from mdio_python_spark.sources.trace_arrow import RaggedSamplesError

    rows = [(i, [float(i % 3) + 1.0, float(i % 5)]) for i in range(40)]
    df = spark.createDataFrame(
        rows + [(99, bad)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(RaggedSamplesError):
        cosine_topk_arrow(df.where(F.col("vec_id") >= 38), df, k=3)
    for out in (
        cosine_topk_arrow(df.where(F.col("vec_id") < 3), df, k=3),
        knn_graph_arrow(df, k=3, n_centroids=4),
    ):
        with pytest.raises(PythonException, match="RaggedSamplesError"):
            out.collect()
