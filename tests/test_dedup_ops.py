"""Operator-level tests for the dedup family: recall properties the oracle
hash-match alone doesn't pin (pigeonhole soundness of banding, greedy-drop
consistency, shingle construction edge cases)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mdio_python_spark.operators import dedup, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles_short_docs_yield_no_shingles(spark):
    df = _docs(spark, [(1, "one two"), (2, ""), (3, "a b c d")])
    out = dedup.word_shingles(df, n=3, distinct=False).collect()
    got = {(r.doc_id, r.shingle) for r in out}
    assert got == {(3, "a b c"), (3, "b c d")}


def test_shingle_hashes_match_string_hash(spark):
    df = _docs(spark, [(1, "x y z w")])
    strings = dedup.word_shingles(df, n=3, distinct=False)
    from mdio_python_spark.functions.scalars import hash64

    expected = {
        r[0] for r in strings.select(hash64(F.col("shingle"))).collect()
    }
    got = {r.sh for r in dedup.shingle_hashes(df, n=3).collect()}
    assert got == expected


def test_simhash_band_pairs_pigeonhole_recall(spark):
    """Every pair within max_hamming MUST be found (banding is lossless for
    hamming < num_bands); verified against the quadratic all-pairs scan."""
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "alpha beta gamma delta epsilon"),
            (4, "totally different words entirely here"),
            (5, "alpha beta gamma delta epsilon eta"),
        ],
    )
    sim = dedup.simhash(docs, bits=16)
    banded = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_band_pairs(
            sim, bits=16, num_bands=4, max_hamming=3
        ).collect()
    }
    rows = {r.doc_id: r.simhash for r in sim.collect()}
    brute = {
        (a, b)
        for a in rows
        for b in rows
        if a < b and bin(rows[a] ^ rows[b]).count("1") <= 3
    }
    assert banded == brute
    assert (1, 3) in banded  # identical docs -> hamming 0


def test_embedding_near_dup_drops_greedy_keep_min(spark):
    emb = spark.createDataFrame(
        [
            (10, [1.0, 1.0, 1.0, 1.0]),
            (20, [1.0, 1.0, 1.0, 0.9]),  # near-dup of 10, same sign bucket
            (30, [1.0, 1.0, 1.0, 1.1]),  # near-dup of both
            (40, [-1.0, -1.0, 1.0, 1.0]),  # different bucket
        ],
        "vec_id long, embedding array<double>",
    )
    drops = {
        r.drop_id: (r.keep_id, r.n_near_dups)
        for r in similarity.embedding_near_dup_drops(
            emb, threshold=0.95, bits=4
        ).collect()
    }
    assert set(drops) == {20, 30}
    assert drops[20][0] == 10
    assert drops[30][0] == 10
    assert drops[30][1] == 2  # (10,30) and (20,30)


def test_hot_bucket_guard_caps_pair_fanout(spark):
    """1k identical docs land in one LSH bucket per band; with a cap of 64
    the stage completes emitting C(64,2) pairs instead of C(1000,2)
    (~500k), and bucket_stats reports the capped buckets."""
    import time

    from mdio_python_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the exact same document text repeated") for i in range(1000)],
        "doc_id long, text string",
    )
    sh = dedup.shingle_hashes(docs, n=3)
    sigs = dedup.minhash_signatures(sh, num_hashes=8)

    t0 = time.time()
    pairs = dedup.lsh_candidate_pairs(sigs, max_bucket_size=64)
    n = pairs.count()
    elapsed = time.time() - t0
    assert n == 64 * 63 // 2  # all 4 bands collapse to the same capped set
    assert elapsed < 60

    # deterministic truncation: the kept members are the smallest ids
    ids = {r.doc_a for r in pairs.collect()} | {r.doc_b for r in pairs.collect()}
    assert ids == set(range(64))

    # QC surface: every band's bucket exceeded the cap
    banded_stats = dedup.bucket_stats(
        sigs.selectExpr("doc_id", "stack(1, mh_0) as (mh)").selectExpr(
            "doc_id", "mh as band_hash", "0 as band_id"
        ),
        ["band_id", "band_hash"],
        max_bucket_size=64,
    ).collect()[0]
    assert banded_stats["n_buckets"] == 1
    assert banded_stats["max_bucket_size"] == 1000
    assert banded_stats["n_capped_buckets"] == 1


def test_bucket_pairs_uncapped_matches_default_on_small_buckets(spark):
    """The default cap never changes results when buckets are small."""
    from mdio_python_spark.operators import dedup

    banded = spark.createDataFrame(
        [(i, 0, i % 7) for i in range(100)],
        "doc_id long, band_id int, band_hash long",
    )
    capped = set(
        (r.doc_a, r.doc_b)
        for r in dedup.bucket_pairs(banded, ["band_id", "band_hash"]).collect()
    )
    uncapped = set(
        (r.doc_a, r.doc_b)
        for r in dedup.bucket_pairs(
            banded, ["band_id", "band_hash"], max_bucket_size=None
        ).collect()
    )
    assert capped == uncapped and len(capped) > 0


def test_connected_components_path_clique_pair(spark):
    # a 12-node path (worst case for naive label propagation), a triangle,
    # and an isolated pair — all must collapse to their min-id root
    pairs = [(i, i + 1) for i in range(1, 12)] + [
        (20, 21), (21, 22), (20, 22), (30, 31),
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(df).collect()
    }
    want = (
        {(i, 1) for i in range(1, 13)}
        | {(i, 20) for i in (20, 21, 22)}
        | {(30, 30), (31, 30)}
    )
    assert got == want


def test_connected_components_star_forest(spark):
    # the final union carries NO distinct: the detected fixpoint must be
    # a star forest (exactly one output ROW per node — not just one per
    # set-collapsed tuple). Adversarial shapes: long chain (max rounds),
    # crossing stars, random multigraph, binary tree; plus the
    # assume_distinct fast path on a pre-distinct a<b pair set.
    import random

    random.seed(7)
    graphs = {
        "chain": [(i, i + 1) for i in range(1, 40)],
        "cross_star": [(1, 50), (50, 2), (2, 60), (60, 3), (3, 70)],
        "rand": [
            (random.randint(1, 60), random.randint(1, 60)) for _ in range(150)
        ],
        "tree": [(i, 2 * i) for i in range(1, 32)]
        + [(i, 2 * i + 1) for i in range(1, 32)],
    }
    for name, es in graphs.items():
        es = [e for e in es if e[0] != e[1]]
        df = spark.createDataFrame(es, "doc_a long, doc_b long")
        rows = dedup.connected_components(df).collect()
        ids = [r.doc_id for r in rows]
        assert len(ids) == len(set(ids)), f"{name}: duplicate output rows"
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in es:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        truth = {x: find(x) for x in parent}
        assert {r.doc_id: r.cluster_id for r in rows} == truth, name
        # assume_distinct fast path: distinct a<b input, same answer
        dd = sorted({(min(a, b), max(a, b)) for a, b in es})
        df2 = spark.createDataFrame(dd, "doc_a long, doc_b long")
        rows2 = dedup.connected_components(df2, assume_distinct=True).collect()
        ids2 = [r.doc_id for r in rows2]
        assert len(ids2) == len(set(ids2)), f"{name}: dup rows (fast path)"
        assert {r.doc_id: r.cluster_id for r in rows2} == truth, name


def test_connected_components_unionfind_matches_star_rounds(
    spark, monkeypatch
):
    # the small-graph single-task union-find kernel and the distributed
    # star-round loop must produce the IDENTICAL (doc_id, cluster_id)
    # set on adversarial shapes: long chain (max pointer-jump depth),
    # crossing stars, random multigraph (dups + both orders), binary
    # tree, isolated pair. The loop path is forced by zeroing the gate.
    import random

    import pytest

    from mdio_python_spark.operators import dedup as dd

    random.seed(11)
    graphs = {
        "chain": [(i, i + 1) for i in range(1, 64)],
        "cross_star": [(1, 50), (50, 2), (2, 60), (60, 3), (3, 70)],
        "rand": [
            (random.randint(1, 80), random.randint(1, 80)) for _ in range(200)
        ],
        "tree": [(i, 2 * i) for i in range(1, 32)]
        + [(i, 2 * i + 1) for i in range(1, 32)],
        "pair": [(9, 4)],
    }
    for name, es in graphs.items():
        es = [e for e in es if e[0] != e[1]]
        df = spark.createDataFrame(es, "doc_a long, doc_b long")
        fast = {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(df).collect()
        }
        monkeypatch.setattr(dd, "_UNIONFIND_EDGE_LIMIT", -1)
        loop = {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(df).collect()
        }
        monkeypatch.undo()
        assert fast == loop and len(fast) > 0, name
    # max_iter still governs the loop path
    monkeypatch.setattr(dd, "_UNIONFIND_EDGE_LIMIT", -1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=1)


def test_connected_components_non_long_ids_take_the_loop(spark, monkeypatch):
    """The union-find kernel reads ids as int64 arrays, so string ids and
    long ids with a null must take the star rounds at the default gate
    and return exactly their schema and rows. The null case passes
    assume_distinct so the null reaches the gate."""
    from mdio_python_spark.operators import dedup as dd

    cases = [
        (
            spark.createDataFrame(
                [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
            ),
            False,
        ),
        (
            spark.createDataFrame(
                [(1, 2), (2, 3), (None, 4), (7, 8)], "doc_a long, doc_b long"
            ),
            True,
        ),
    ]
    for df, distinct in cases:
        out = dedup.connected_components(df, assume_distinct=distinct)
        got = (out.schema, sorted(map(tuple, out.collect()), key=repr))
        monkeypatch.setattr(dd, "_UNIONFIND_EDGE_LIMIT", -1)
        loop = dedup.connected_components(df, assume_distinct=distinct)
        want = (loop.schema, sorted(map(tuple, loop.collect()), key=repr))
        monkeypatch.undo()
        assert got == want and len(got[1]) > 0


def test_connected_components_handles_reversed_and_duplicate_edges(spark):
    df = spark.createDataFrame(
        [(5, 3), (3, 5), (3, 1), (9, 7), (9, 7)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(df).collect()
    }
    assert got == {(1, 1), (3, 1), (5, 1), (7, 7), (9, 7)}


def test_segment_dedup_stats_planted(spark):
    from mdio_python_spark.operators.dedup import segment_dedup_stats

    seg_a = " ".join(f"a{i}" for i in range(32))   # shared boilerplate
    seg_b = " ".join(f"b{i}" for i in range(32))
    seg_c = " ".join(f"c{i}" for i in range(32))
    seg_d = " ".join(f"d{i}" for i in range(32))
    docs = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),   # 2 segments, 1 shared
            (2, f"{seg_a} {seg_c}"),   # 2 segments, 1 shared
            (3, seg_d),                # unique
            (4, f"{seg_d} {seg_d}"),   # repeats a segment doc 3 also has
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_segments, r.n_dup_segments, r.dup_ratio)
        for r in segment_dedup_stats(docs, seg_tokens=32).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    # seg_d appears in docs 3 AND 4 -> cross-doc duplicate for both
    assert got[3] == (1, 1, 1.0)
    assert got[4] == (2, 2, 1.0)


def test_segment_dedup_within_doc_repeat_not_counted(spark):
    from mdio_python_spark.operators.dedup import segment_dedup_stats

    seg = " ".join(f"x{i}" for i in range(32))
    docs = spark.createDataFrame(
        [(1, f"{seg} {seg}")], "doc_id long, text string"
    )
    [r] = segment_dedup_stats(docs, seg_tokens=32).collect()
    # repeated only within ONE doc -> not a cross-doc duplicate
    assert (r.n_segments, r.n_dup_segments, r.dup_ratio) == (2, 0, 0.0)


def test_simhash_band_pairs_bucket_cap(spark):
    from mdio_python_spark.operators.dedup import simhash_band_pairs

    # 40 identical signatures -> every band bucket degenerate
    sim = spark.createDataFrame(
        [(i, 0b101) for i in range(40)], "doc_id long, simhash long"
    )
    uncapped = simhash_band_pairs(sim, bits=16, num_bands=4, max_hamming=3)
    assert uncapped.count() == 40 * 39 // 2
    capped = simhash_band_pairs(
        sim, bits=16, num_bands=4, max_hamming=3, max_bucket=8
    )
    # sorted-prefix cap: only the first 8 ids per bucket pair up
    assert capped.count() == 8 * 7 // 2
    assert capped.agg(F.max("doc_a")).first()[0] < 8


def test_simhash_rejects_bits_beyond_hash_width(spark):
    import pytest

    from mdio_python_spark.operators.dedup import simhash

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="60"):
        simhash(docs, bits=64)


def _mkdoc(words):
    return " ".join(words)


def test_incremental_dedup_planted_scenarios(spark):
    from mdio_python_spark.operators.dedup import incremental_dedup

    base = [f"w{i}" for i in range(40)]
    near = base[:38] + ["zz", "yy"]          # high jaccard vs base
    other = [f"q{i}" for i in range(40)]     # unrelated
    existing = spark.createDataFrame(
        [(0, _mkdoc(base)), (2, _mkdoc(other))], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, _mkdoc(base)),      # exact match vs corpus -> drop
            (3, _mkdoc(near)),      # near-dup vs corpus -> drop
            (5, _mkdoc(["a"] * 45)),  # unique -> keep
            (7, _mkdoc(["a"] * 45)),  # exact dup of 5 within batch -> drop
            (9, _mkdoc(["a"] * 44 + ["b"])),  # near-dup of kept 5 -> drop
            (11, _mkdoc([f"u{i}" for i in range(40)])),  # unique -> keep
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in incremental_dedup(new, existing).collect()
    )
    assert kept == [5, 11]


def test_incremental_dedup_precomputed_index_matches_inline(spark):
    from mdio_python_spark.operators.dedup import (
        incremental_dedup,
        minhash_signatures,
        shingle_hashes,
    )
    from mdio_python_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    old = docs.where(F.col("doc_id") % 2 == 0)
    inline = incremental_dedup(new, old).select("doc_id")
    sh_old = shingle_hashes(old, 3)
    idx = incremental_dedup(
        new,
        old,
        existing_shingles=sh_old,
        existing_signatures=minhash_signatures(sh_old, 8),
    ).select("doc_id")
    a = sorted(r.doc_id for r in inline.collect())
    b = sorted(r.doc_id for r in idx.collect())
    assert a == b and len(a) > 0


def test_dedup_index_lifecycle(spark, tmp_path):
    """build -> dedup_against_index equals inline -> extend -> the next
    batch is cleaned against the extended corpus."""
    from mdio_python_spark.operators.dedup import incremental_dedup
    from mdio_python_spark.pipelines.dedup_index import (
        build_dedup_index,
        dedup_against_index,
        extend_dedup_index,
    )
    from mdio_python_spark.sources.tables import load_table

    idx = str(tmp_path / "dedup_index")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    build_dedup_index(old, idx)

    kept_idx = dedup_against_index(spark, new, idx).select("doc_id")
    kept_inline = incremental_dedup(new, old).select("doc_id")
    a = sorted(r.doc_id for r in kept_idx.collect())
    b = sorted(r.doc_id for r in kept_inline.collect())
    assert a == b and len(a) > 0

    # accept the batch, then replay the SAME batch: everything must drop
    kept_docs = new.join(kept_idx, "doc_id", "left_semi")
    extend_dedup_index(kept_docs, idx)
    replay = dedup_against_index(spark, kept_docs, idx)
    assert replay.count() == 0


def test_incremental_dedup_cap_keeps_new_side_in_degenerate_bucket(spark):
    """Regression (r4 review): a bucket dominated by EXISTING docs must
    still check the new docs in it — the cap is per side, not a prefix
    of the (side, id)-sorted array."""
    from mdio_python_spark.operators.dedup import incremental_dedup

    base = " ".join(f"w{i}" for i in range(40))
    # many existing near-identical docs (same text -> same bucket)
    existing = spark.createDataFrame(
        [(i * 2, base) for i in range(30)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(999, " ".join(["w0", "w1"] + [f"w{i}" for i in range(2, 38)] + ["x", "y"]))],
        "doc_id long, text string",
    )
    # tiny cap (8): prefix-slice would keep 8 existing docs and drop the
    # new doc from every bucket; per-side cap must still generate pairs
    kept = incremental_dedup(new, existing, max_bucket_size=8).collect()
    assert kept == []  # the near-dup IS caught and dropped


def test_size_bound_prefilter_output_identical(spark):
    """pair_overlap_counts(min_jaccard=t) must equal the unfiltered
    variant AFTER a jaccard >= t filter — the prefilter's provable
    no-op contract (J <= min/max sizes)."""
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),          # near-dup of 1
            (3, "a b c"),                     # tiny: size bound kills vs 1
            (4, "p q r s t u v w x y z a b c d e f g h i j k l m n"),
        ],
    )
    sh = dedup.shingle_hashes(df, n=3)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "doc_a long, doc_b long"
    )
    t = 0.5

    def final(ov):
        return sorted(
            (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
            for r in ov.collect()
            if r.n_common / (r.n_a + r.n_b - r.n_common) >= t
        )

    plain = final(dedup.pair_overlap_counts(pairs, sh))
    filtered = final(dedup.pair_overlap_counts(pairs, sh, min_jaccard=t))
    assert plain == filtered and plain  # non-empty: (1,2) survives


def test_minhash_agreement_filter_recall_and_drop(spark):
    """Identical docs agree on all 8 components (always kept); docs with
    disjoint shingle sets agree on ~none (dropped at min_agree=3); the
    filter preserves the (doc_a, doc_b) schema."""
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),           # identical to 1
            (3, "z y x w v u t s r q"),       # disjoint from 1
        ],
    )
    sh = dedup.shingle_hashes(df, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    kept = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_agreement_filter(
            pairs, sig, num_hashes=8, min_agree=3
        ).collect()
    }
    assert (1, 2) in kept
    assert (1, 3) not in kept


def test_minhash_agreement_counts_match_filter_semantics(spark):
    """The exposed agree COUNT is consistent with the filter: identical
    docs agree on all 8 components, disjoint docs on fewer than 3, and
    filtering counts >= min_agree reproduces the filter's kept set."""
    df = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),           # identical to 1
            (3, "z y x w v u t s r q"),       # disjoint from 1
        ],
    )
    sh = dedup.shingle_hashes(df, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    counts = {
        (r.doc_a, r.doc_b): r.agree
        for r in dedup.minhash_agreement_counts(pairs, sig, num_hashes=8).collect()
    }
    assert counts[(1, 2)] == 8
    assert counts[(1, 3)] < 3
    kept = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_agreement_filter(
            pairs, sig, num_hashes=8, min_agree=3
        ).collect()
    }
    assert kept == {p for p, a in counts.items() if a >= 3}


def test_shingle_sets_feeds_identical_signatures_and_jaccard(spark):
    """Round-10 set-array reshape pin: signatures derived from the
    per-doc set arrays (shingle_sets + minhash_signatures_from_sets)
    are bit-identical to the classic exploded-row minhash, and the
    arrays-based Jaccard verify returns the same doubles as the
    exploded-join verify for every candidate pair."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "entirely different text about sparks and queries here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "tiny"),  # < 3 tokens: no shingles at all
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = dedup.shingle_hashes(docs, n=3)
    sets = dedup.shingle_sets(hashed)
    sig_sets = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    sig_rows = dedup.minhash_signatures(hashed, num_hashes=8)
    assert sorted(map(tuple, sig_sets.collect())) == sorted(
        map(tuple, sig_rows.collect())
    )
    # doc 5 has no shingles -> absent from both
    assert not any(r[0] == 5 for r in sig_sets.collect())

    pairs = dedup.lsh_candidate_pairs(sig_sets, num_hashes=8, rows_per_band=2)
    via_sets = dedup.jaccard_pairs_arrays(pairs, None, sets=sets)
    via_rows = dedup.jaccard_pairs(pairs, hashed.distinct())
    got = {(r.doc_a, r.doc_b): r.jaccard for r in via_sets.collect()}
    ref = {(r.doc_a, r.doc_b): r.jaccard for r in via_rows.collect()}
    # arrays variant also emits zero-overlap pairs; on shared keys the
    # doubles are identical, and extras must all be exactly 0.0
    for k, v in ref.items():
        assert got[k] == v, k
    for k in set(got) - set(ref):
        assert got[k] == 0.0, k


def test_word_ngram_hash_arrays_edges(spark):
    """In-row gram-array builder: distinct counts per n match the
    exploded shingle path; docs shorter than n yield empty arrays;
    extra columns ride through."""
    rows = [
        (1, True, "a b c d e f g h i j k l m"),
        (2, False, "a b c"),          # exactly one 3-gram, no 4-gram
        (3, False, "a b"),            # too short for any leg
        (4, True, None),              # null text
        (5, False, "x x x x x x"),    # heavy duplication within doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, flag boolean, text string")
    out = dedup.word_ngram_hash_arrays(
        docs, (3, 4), extra_cols=("flag",)
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["flag"] is True and by_id[2]["flag"] is False
    # null text propagates as NULL arrays — downstream explode() drops
    # them, identical to the exploded path where NULL yields no rows
    assert by_id[4]["_g3"] is None and by_id[4]["_g4"] is None
    for n in (3, 4):
        exploded = dedup.word_shingles(docs, n, distinct=True)
        counts = {
            r["doc_id"]: r["c"]
            for r in exploded.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        for doc_id, r in by_id.items():
            got_n = 0 if r[f"_g{n}"] is None else len(r[f"_g{n}"])
            assert got_n == counts.get(doc_id, 0), (doc_id, n)
        # per-doc distinctness of the hash arrays themselves
        for r in out:
            arr = r[f"_g{n}"] or []
            assert len(arr) == len(set(arr))
