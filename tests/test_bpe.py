"""BPE operator tests: merge semantics (overlap, boundary anchoring,
multibyte symbols), driver fit vs an INDEPENDENT reference
implementation, declarative trainer vs driver fit, and the plan shape
that keeps training one-corpus-scan at 1000 executors.

DuckDB exact parity for the three declared queries runs in
test_oracle_parity.py.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from mdio_python_spark.operators import bpe
from mdio_python_spark.plans.registry import queries


# --- independent reference: Sennrich-style regex merge over space-joined
# symbol strings (different representation and scan mechanism than the
# production separator-encoded fold) -----------------------------------------


def _ref_get_stats(words):
    counts = {}
    for syms, n in words:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + n
    return counts


def _ref_merge(words, pair):
    bigram = re.escape(" ".join(pair))
    pat = re.compile(r"(?<!\S)" + bigram + r"(?!\S)")
    out = []
    for syms, n in words:
        joined = " ".join(syms)
        merged = pat.sub("".join(pair), joined)
        out.append((merged.split(" "), n))
    return out


def _ref_bpe(word_counts, n_merges):
    words = [(list(w) + [bpe.WORD_END], n) for w, n in word_counts]
    merges = []
    for _ in range(n_merges):
        counts = _ref_get_stats(words)
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        words = _ref_merge(words, best)
    return merges, words


def test_driver_fit_matches_independent_reference():
    wc = [("banana", 10), ("bandana", 6), ("ananas", 4), ("nab", 2)]
    ref_merges, _ = _ref_bpe(wc, 8)
    # bpe_fit consumes a DataFrame; build one inline via a local session
    from mdio_python_spark.session import get_spark

    spark = get_spark("bpe-test")
    df = spark.createDataFrame(wc, "word string, n long")
    assert bpe.bpe_fit(df, n_merges=8, max_words=100) == ref_merges


def test_merge_expr_overlap_and_boundaries(spark):
    """[a,a,a,a] -> [aa,aa]; [a,a,a] -> [aa,a]; a merge (a,b) must not
    fire inside the symbol 'xa' (boundary anchoring)."""
    def apply(syms, left, right):
        s = bpe.SEP + bpe.SEP2.join(syms) + bpe.SEP
        out = (
            spark.createDataFrame([(s,)], "sym string")
            .select(bpe.symbols(bpe.merge_expr(F.col("sym"), F.lit(left), F.lit(right))).alias("s"))
            .collect()[0]["s"]
        )
        return list(out)

    assert apply(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert apply(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert apply(["xa", "b"], "a", "b") == ["xa", "b"]
    assert apply(["a", "b", "a", "b"], "a", "b") == ["ab", "ab"]


def test_symbolize_multibyte(spark):
    """Codepoint symbolization: é and CJK count as single symbols."""
    df = spark.createDataFrame([("héllo",), ("你好",)], "word string")
    out = df.select(
        bpe.symbols(bpe.symbolize(F.col("word"))).alias("s"),
        bpe.sym_count(bpe.symbolize(F.col("word"))).alias("k"),
    ).collect()
    assert list(out[0]["s"]) == ["h", "é", "l", "l", "o", bpe.WORD_END]
    assert out[0]["k"] == 6
    assert list(out[1]["s"]) == ["你", "好", bpe.WORD_END]
    assert out[1]["k"] == 3


def test_declarative_trainer_matches_driver_fit(spark):
    """train_merges (distributed chain) and bpe_fit (driver loop on the
    full vocab) must learn the identical merge sequence."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    wc = bpe.word_counts(docs)
    merges_df, final = bpe.train_merges(wc, 6, scope="test.bpe")
    got = [
        (r["left"], r["right"])
        for r in merges_df.orderBy("step").collect()
    ]
    assert got == bpe.bpe_fit(wc, n_merges=6, max_words=10**9)
    # final vocab symbol counts shrink monotonically vs initial
    init = wc.select(bpe.sym_count(bpe.symbolize(F.col("word"))).alias("k"))
    assert (
        final.select(F.sum(bpe.sym_count(F.col("sym")))).collect()[0][0]
        < init.select(F.sum("k")).collect()[0][0]
    )


def test_segment_consistent_with_reference(spark):
    """bpe_segment's per-doc symbol counts must equal summing the
    independent reference segmentation over the doc's words."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(20)
    wc = bpe.word_counts(docs)
    merges = bpe.bpe_fit(wc, n_merges=12, max_words=10**9)
    out = {r["doc_id"]: r for r in bpe.bpe_segment(docs, merges).collect()}

    ref_vocab = [(r["word"], r["n"]) for r in wc.collect()]
    _, ref_words = _ref_bpe(ref_vocab, 0)
    # apply the fitted merges with the reference merger
    words = {w: list(w) + [bpe.WORD_END] for w, _ in ref_vocab}
    for pair in merges:
        tmp = _ref_merge([(s, 1) for s in words.values()], pair)
        words = dict(zip(words.keys(), (s for s, _ in tmp)))
    for row in docs.select("doc_id", "text").collect():
        toks = [t for t in row["text"].strip().lower().split() if t]
        exp_words = len(toks)
        exp_syms = sum(len(words[t]) for t in toks)
        assert out[row["doc_id"]]["n_words"] == exp_words
        assert out[row["doc_id"]]["n_bpe_tokens"] == exp_syms


def test_bpe_train_plan_shape(spark):
    """Trainer plan (round 11, kernel path at smoke scale): no joins, no
    windows, no exchanges downstream of the materialized word counts —
    the whole M-step chain is one MapInArrow over a single-task
    coalesce. The plan string prints the persisted word counts' own
    derivation under their InMemoryRelation; only the part above it is
    the trainer's. The distributed chain's shape is pinned separately by
    the kernel-vs-chain bit-equality test."""
    df = queries()["bpe_train_merges"](spark, SF_SMOKE)
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in full, full
    plan = full.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan


def test_train_merges_kernel_bit_equal_to_chain(spark, monkeypatch):
    """The single-task trainer kernel (round 11) == the distributed
    M-step chain, bit-for-bit on BOTH returned frames (merges AND the
    final vocab) over the real smoke corpus and a tie-heavy synthetic.
    The chain is forced via the module gate (the cc-limit convention)."""
    from mdio_python_spark.operators import bpe
    from mdio_python_spark.operators.caching import release_cached

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    crafted = spark.createDataFrame(
        [
            (1, "aa aa ab ba"),
            (2, "aa ab ab b a"),
            (3, "zz zz zz yy"),
            (4, ""),  # whitespace-only: tokens() gives [''], filtered
            (5, "aaaa"),  # in-word repeats exercise the replace scan
        ],
        "doc_id long, text string",
    )
    for df in (docs, crafted):
        wc = bpe.word_counts(df)
        monkeypatch.setattr(bpe, "_BPE_KERNEL_WORD_LIMIT", -1)
        m_old, f_old = bpe.train_merges(wc, 6, scope="test.bpe_pin_loop")
        want_m = sorted(tuple(r) for r in m_old.collect())
        want_f = sorted(tuple(r) for r in f_old.collect())
        release_cached(m_old)
        monkeypatch.setattr(bpe, "_BPE_KERNEL_WORD_LIMIT", 500_000)
        m_new, f_new = bpe.train_merges(wc, 6, scope="test.bpe_pin_kern")
        assert sorted(tuple(r) for r in m_new.collect()) == want_m
        assert sorted(tuple(r) for r in f_new.collect()) == want_f
        assert len(want_m) == 6 and len(want_f) > 0


def test_train_merges_kernel_empty_top_pair_edge(spark, monkeypatch):
    """When every word collapses to one symbol before the step budget is
    spent, the declarative chain's 0-row argmax crossJoin EMPTIES the
    vocab and every later step — the kernel must reproduce that edge,
    not 'helpfully' keep the vocab."""
    from mdio_python_spark.operators import bpe
    from mdio_python_spark.operators.caching import release_cached

    # single-char words: step 0 merges (c, </w>), after which every sym
    # is one symbol and step 1 has no pairs
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a")], "doc_id long, text string"
    )
    wc = bpe.word_counts(df)
    monkeypatch.setattr(bpe, "_BPE_KERNEL_WORD_LIMIT", -1)
    m_old, f_old = bpe.train_merges(wc, 4, scope="test.bpe_edge_loop")
    want_m = sorted(tuple(r) for r in m_old.collect())
    want_f = sorted(tuple(r) for r in f_old.collect())
    release_cached(m_old)
    monkeypatch.setattr(bpe, "_BPE_KERNEL_WORD_LIMIT", 500_000)
    m_new, f_new = bpe.train_merges(wc, 4, scope="test.bpe_edge_kern")
    assert sorted(tuple(r) for r in m_new.collect()) == want_m
    assert sorted(tuple(r) for r in f_new.collect()) == want_f


def test_train_merges_kernel_results_survive_rotation(spark):
    """Two kernel-path calls under one scope with different
    vocabularies: the second rotates the first's materialized word
    counts out of the cache, and the first result must still collect
    its rows (a released persist recomputes where a released
    localCheckpoint would raise)."""
    from mdio_python_spark.operators import bpe
    from mdio_python_spark.operators.caching import CACHE_ATTR

    first = spark.createDataFrame([(1, "aa ab ab ba")], "doc_id long, text string")
    other = spark.createDataFrame([(1, "zz zy yy")], "doc_id long, text string")
    m1, _ = bpe.train_merges(bpe.word_counts(first), 3, scope="test.bpe_rotate")
    want = sorted(tuple(r) for r in m1.collect())
    bpe.train_merges(bpe.word_counts(other), 3, scope="test.bpe_rotate")
    handles = getattr(m1, CACHE_ATTR, [])
    assert handles and not any(
        h.storageLevel.useMemory or h.storageLevel.useDisk for h in handles
    )
    assert sorted(tuple(r) for r in m1.collect()) == want and len(want) == 3
