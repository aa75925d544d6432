"""Graph operator tests: fixed-iteration PageRank vs a naive Python
reference on small crafted graphs."""

from __future__ import annotations

import pytest


def _naive_pagerank(edges, iters=3, damping=0.85):
    from collections import defaultdict

    out_deg = defaultdict(int)
    for u, _v in edges:
        out_deg[u] += 1
    ranks = {u: 1.0 for u in out_deg}
    for _ in range(iters):
        acc = defaultdict(float)
        for u, v in edges:
            acc[v] += ranks[u] / out_deg[u]
        ranks = {v: (1 - damping) + damping * s for v, s in acc.items()}
    return ranks


def test_pagerank_matches_naive_reference(spark):
    from mdio_python_spark.operators.caching import release_cached
    from mdio_python_spark.operators.graph import pagerank

    # a triangle plus a pendant: known asymmetric ranks
    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank(df, iters=3)
    got = {r["id"]: r["r"] for r in out.collect()}
    want = _naive_pagerank(edges)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k
    release_cached(out)
    # the hub (3) outranks the pendant (4) and the symmetric pair (1, 2)
    assert got[3] > got[1] == pytest.approx(got[2])
    assert got[4] < got[3]


def test_pagerank_mass_is_conserved_on_regular_graph(spark):
    """On a k-regular graph every node keeps rank exactly 1.0 at every
    iteration (sum of 1/k over k neighbors is 1)."""
    from mdio_python_spark.operators.caching import release_cached
    from mdio_python_spark.operators.graph import pagerank

    n = 6  # ring: every node has degree 2
    und = [(i, (i + 1) % n) for i in range(n)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank(df, iters=4)
    got = {r["id"]: r["r"] for r in out.collect()}
    release_cached(out)
    assert set(got) == set(range(n))
    for v in got.values():
        assert v == pytest.approx(1.0, rel=1e-12)


def test_pagerank_kernel_bit_equal_to_loop(spark, monkeypatch):
    """The single-task kernel (round 11) == the distributed join+groupBy
    loop, bit-for-bit: same node set and the identical rank doubles —
    the decimal(28,15) HALF_UP quantization per contribution, the exact
    integer neighbor sum, and the final base + damping * double(sum)
    chain all reproduce Spark's arithmetic. Forced onto the loop path
    via the module gate (the cc-limit test convention)."""
    from mdio_python_spark.operators import graph
    from mdio_python_spark.operators.caching import release_cached
    from mdio_python_spark.operators.graph import pagerank

    cases = [
        # triangle + pendant (asymmetric ranks), both directions
        [(1, 2), (2, 3), (1, 3), (3, 4)],
        # two components + a hub with many spokes (deg variety)
        [(1, 2), (2, 3), (1, 3), (10, 11), (10, 12), (10, 13), (10, 14)],
        # awkward divides: deg 3 and 7 produce non-terminating binaries
        [(i, 100) for i in range(3)] + [(i, 200) for i in range(10, 17)],
    ]
    for und in cases:
        edges = und + [(b, a) for a, b in und]
        df = spark.createDataFrame(edges, "src long, dst long")
        monkeypatch.setattr(graph, "_PAGERANK_EDGE_LIMIT", -1)
        loop = pagerank(df, iters=3)
        want = sorted(tuple(r) for r in loop.collect())
        release_cached(loop)
        monkeypatch.setattr(graph, "_PAGERANK_EDGE_LIMIT", 500_000)
        got = sorted(tuple(r) for r in pagerank(df, iters=3).collect())
        # exact compare, doubles included (== is the bitwise check here:
        # no NaN/-0.0 can reach the output)
        assert got == want and len(got) > 0


def test_pagerank_kernel_bit_equal_on_lsh_graph(spark, monkeypatch):
    """Kernel-vs-loop pin on the REAL similarity-graph edges the declared
    query feeds it (LSH candidate pairs at sf0.001, both directions) —
    the contribution doubles here come from genuine minhash-band
    collisions, not crafted integers."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators import dedup, graph
    from mdio_python_spark.operators.caching import release_cached
    from mdio_python_spark.operators.graph import pagerank
    from mdio_python_spark.operators.text_arrow import shingle_sets_arrow

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(docs, n=3, unit="word", minhashes=8, emit_sets=False),
        num_hashes=8,
    )
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select("doc_b", "doc_a"))
    monkeypatch.setattr(graph, "_PAGERANK_EDGE_LIMIT", -1)
    loop = pagerank(edges, iters=3)
    want = sorted(tuple(r) for r in loop.collect())
    release_cached(loop)
    monkeypatch.setattr(graph, "_PAGERANK_EDGE_LIMIT", 500_000)
    got = sorted(tuple(r) for r in pagerank(edges, iters=3).collect())
    assert got == want and len(got) > 0


def test_pagerank_non_long_ids_take_the_loop(spark, monkeypatch):
    """The kernel reads ids as int64 arrays, so string ids and long ids
    with a null must take the distributed loop at the default gate and
    return exactly its schema and rows."""
    from mdio_python_spark.operators import graph
    from mdio_python_spark.operators.graph import pagerank

    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    cases = [
        spark.createDataFrame(
            und + [(b, a) for a, b in und], "src string, dst string"
        ),
        spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2), (None, 1), (1, None)],
            "src long, dst long",
        ),
    ]
    for df in cases:
        out = pagerank(df, iters=3)
        got = (out.schema, sorted(map(tuple, out.collect()), key=repr))
        monkeypatch.setattr(graph, "_PAGERANK_EDGE_LIMIT", -1)
        loop = pagerank(df, iters=3)
        want = (loop.schema, sorted(map(tuple, loop.collect()), key=repr))
        monkeypatch.undo()
        assert got == want and len(got[1]) > 0
