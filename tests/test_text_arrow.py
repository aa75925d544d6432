"""Bit-equality gates for the Arrow winnowing kernel
(operators/text_arrow.py): the numpy XXH64 must match Spark's
``xxhash64`` bit-for-bit (it DETERMINES the fingerprint min-selection),
and the vectorized winnow must reproduce the declarative
explode/window/distinct DAG's exact (doc_id, n_kgrams, wmin) set —
including the non-ASCII scalar fallback.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_scalar_xxh64_matches_spark(spark):
    """Full any-length XXH64 vs F.xxhash64 across the length regimes
    (empty, <4, <8, 8..31 multi-chunk tails, >=32 stripe loop)."""
    from mdio_python_spark.operators.text_arrow import xxh64_bytes

    rng = random.Random(8)
    samples = [""]
    for n in [1, 3, 4, 7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64, 100]:
        samples.append("".join(chr(rng.randrange(32, 127)) for _ in range(n)))
    samples += ["héllo wörld — ünïcode 中文テスト", "é" * 40]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    expected = {
        r["s"]: r["h"]
        for r in df.select("s", F.xxhash64("s").alias("h")).collect()
    }
    for s in samples:
        assert xxh64_bytes(s.encode("utf-8")) == expected[s], repr(s)


def test_vectorized_xxh64_16_matches_spark(spark):
    import numpy as np

    from mdio_python_spark.operators.text_arrow import _xxh64_16_vec

    rng = random.Random(9)
    samples = [
        "".join(chr(rng.randrange(32, 127)) for _ in range(16))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    expected = [
        r["h"]
        for r in df.select("s", F.xxhash64("s").alias("h"))
        .orderBy("s")
        .collect()
    ]
    ordered = sorted(samples)
    bufs = np.frombuffer("".join(ordered).encode("ascii"), dtype=np.uint8)
    pos = np.arange(len(ordered), dtype=np.int64) * 16
    w1 = np.zeros(len(ordered), dtype=np.uint64)
    w2 = np.zeros(len(ordered), dtype=np.uint64)
    for j in range(8):
        w1 |= bufs[pos + j].astype(np.uint64) << np.uint64(8 * j)
        w2 |= bufs[pos + 8 + j].astype(np.uint64) << np.uint64(8 * j)
    got = _xxh64_16_vec(w1, w2)
    assert got.tolist() == expected


def _declarative_set(docs, k, w):
    from mdio_python_spark.operators import text

    return text.winnow_fingerprint_set(docs, k=k, w=w, internal_hash=True)


def test_winnow_arrow_bit_equal_sf(spark):
    from mdio_python_spark.operators import text_arrow

    for sf_dir in (SF_SMOKE, SF_CORRECT):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ref = _sorted_rows(_declarative_set(docs, 16, 8))
        got = _sorted_rows(
            text_arrow.winnow_fingerprint_set_arrow(docs, k=16, w=8, internal_hash=True)
        )
        assert len(got) == len(ref) > 0
        assert got == ref


def test_winnow_arrow_non_ascii_and_edges(spark):
    """Constructed corpus: non-ASCII docs (scalar fallback), docs at and
    below the w+k-1 length gate, leading/trailing spaces + tabs (trim
    strips SPACES only), uppercase, a NULL text, repeated content
    (distinct collapse), and an exact 23-char doc (single window)."""
    from mdio_python_spark.operators import text_arrow

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "   THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN   "),
        (3, "héllo wörld — this döc is defînitely nøt ascii at all, ünïcode"),
        (4, "short doc under gate"),  # 20 chars < 23: no fingerprints
        (5, "exactly twenty-three ch"),  # 23 chars: one window
        (6, "\tleading tab stays, spaces go   "),
        (7, None),
        (8, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),  # one distinct kgram
        (9, "中文字符串测试，需要走标量回退路径才能保证哈希一致性验证通过"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = _sorted_rows(_declarative_set(docs, 16, 8))
    got = _sorted_rows(
        text_arrow.winnow_fingerprint_set_arrow(docs, k=16, w=8, internal_hash=True)
    )
    assert got == ref
    assert not any(r[0] in (4, 7) for r in got)
    assert any(r[0] == 9 for r in got)


_EDGE_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "   THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN   "),
    (3, "héllo wörld — this döc is defînitely nøt ascii at all, ünïcode"),
    (4, "short doc under gate"),
    (5, "exactly twenty-three ch"),
    (6, "\tleading tab stays, spaces go   "),
    (7, None),
    (8, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
    (9, "中文字符串测试，需要走标量回退路径才能保证哈希一致性验证通过"),
]


def test_winnow_arrow_non16_k_uses_scalar_path(spark):
    """k != 16 has no 16-byte-specialized vector hash: the kernel must
    route EVERY doc (ASCII included) through the scalar fallback and
    still match the declarative DAG — previously the ASCII block
    mis-hashed k != 16 (ADVICE r8)."""
    from mdio_python_spark.operators import text_arrow

    docs = spark.createDataFrame(_EDGE_ROWS, "doc_id long, text string")
    for k, w in ((8, 4), (20, 8)):
        ref = _sorted_rows(_declarative_set(docs, k, w))
        got = _sorted_rows(
            text_arrow.winnow_fingerprint_set_arrow(docs, k=k, w=w, internal_hash=True)
        )
        assert got == ref and len(got) > 0, (k, w)


def test_vectorized_md5_hash64_16_matches_spark(spark):
    """The single-block vectorized MD5 hash64 vs Spark's
    conv(substr(md5(x),1,15),16,10) over random 16-byte ASCII inputs."""
    import numpy as np

    from mdio_python_spark.functions.scalars import hash64
    from mdio_python_spark.operators.text_arrow import _md5_hash64_16_vec

    rng = random.Random(10)
    samples = sorted(
        "".join(chr(rng.randrange(32, 127)) for _ in range(16))
        for _ in range(200)
    )
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    expected = [
        r["h"]
        for r in df.select("s", hash64(F.col("s")).alias("h"))
        .orderBy("s")
        .collect()
    ]
    buf = np.frombuffer("".join(samples).encode("ascii"), dtype=np.uint8)
    pos = np.arange(len(samples), dtype=np.int64) * 16
    words = []
    for wi in range(4):
        acc = np.zeros(len(samples), dtype=np.uint32)
        for j in range(4):
            acc |= buf[pos + 4 * wi + j].astype(np.uint32) << np.uint32(8 * j)
        words.append(acc)
    got = _md5_hash64_16_vec(words)
    assert got.tolist() == expected


def test_scalar_hash64_matches_spark(spark):
    """hash64_py (hashlib md5 fallback) vs Spark hash64 across lengths
    and non-ASCII input."""
    from mdio_python_spark.functions.scalars import hash64
    from mdio_python_spark.operators.text_arrow import hash64_py

    rng = random.Random(11)
    samples = [""]
    for n in [1, 5, 15, 16, 17, 40]:
        samples.append("".join(chr(rng.randrange(32, 127)) for _ in range(n)))
    samples += ["héllo wörld ünïcode 中文テスト"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    expected = {
        r["s"]: r["h"]
        for r in df.select("s", hash64(F.col("s")).alias("h")).collect()
    }
    for s in samples:
        assert hash64_py(s.encode("utf-8")) == expected[s], repr(s)


def _declarative_fingerprints(docs, k, w):
    from mdio_python_spark.operators import text

    return text.winnow_fingerprints(docs, k=k, w=w)


def test_winnow_fingerprints_arrow_bit_equal(spark):
    """The zero-shuffle md5-arm rollup (winnow_fingerprints_arrow) vs the
    declarative text.winnow_fingerprints — the PUBLISHED wmin/fp_xor
    contract — on both SF corpora and the constructed edge corpus."""
    from mdio_python_spark.operators import text_arrow

    edge = spark.createDataFrame(_EDGE_ROWS, "doc_id long, text string")
    corpora = [edge] + [
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        for sf_dir in (SF_SMOKE, SF_CORRECT)
    ]
    for docs in corpora:
        ref = _sorted_rows(_declarative_fingerprints(docs, 16, 8))
        got = _sorted_rows(
            text_arrow.winnow_fingerprints_arrow(docs, k=16, w=8)
        )
        assert got == ref and len(got) > 0


def test_winnow_arrow_default_hash_family_matches_declarative(spark):
    """ADVICE r9 pin: under DEFAULT args the Arrow twin and the
    declarative twin must select the SAME fingerprint hash family
    (md5/hash64, the published contract) — a default drift between the
    twins silently changes every fingerprint."""
    from mdio_python_spark.operators import text, text_arrow

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs for the long winter"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = _sorted_rows(text.winnow_fingerprint_set(docs, k=16, w=8))
    got = _sorted_rows(text_arrow.winnow_fingerprint_set_arrow(docs, k=16, w=8))
    assert got == ref and len(got) > 0


def test_variable_length_md5_hash64_matches_hashlib():
    """_md5_hash64_vec (block-grouped vectorized MD5) vs hashlib across
    every block-count regime incl. the 55/56 and 119/120 pad
    boundaries, empty input, and arbitrary (non-UTF8) bytes."""
    import hashlib

    import numpy as np

    from mdio_python_spark.operators.text_arrow import _md5_hash64_vec

    rng = random.Random(11)
    lengths = [0, 1, 7, 16, 54, 55, 56, 63, 64, 100, 119, 120, 200, 500]
    msgs = [
        bytes(rng.randrange(256) for _ in range(n))
        for n in lengths
        for _ in range(20)
    ]
    rng.shuffle(msgs)
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    got = _md5_hash64_vec(data, starts, lens)
    want = np.array(
        [int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs],
        dtype=np.int64,
    )
    assert (got == want).all()


def test_shingle_sets_arrow_bit_equal_declarative(spark):
    """shingle_sets_arrow == shingle_sets(shingle_hashes(...)) /
    the char equivalent — same rows (incl. docs dropped for having no
    shingles) on a corpus of edge cases: empty/whitespace-only text,
    tab/newline runs (trim strips spaces only), NULL text, short docs,
    non-ASCII BMP text, >55-byte shingles (2-block MD5)."""
    from mdio_python_spark.functions.scalars import hash64
    from mdio_python_spark.operators import dedup
    from mdio_python_spark.operators.text_arrow import shingle_sets_arrow

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "   "),
        (4, "a  b\t\tc   d"),
        (5, "\tleading tab and trailing\n"),
        (6, "one two"),
        (7, "single"),
        (8, "répété répété déjà vu déjà vu naïve café"),
        (9, None),
        (10, "x " * 300),
        (11, "longtoken" * 20 + " b c d e f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n, unit in [(3, "word"), (2, "word"), (8, "char"), (5, "char")]:
        if unit == "word":
            old = dedup.shingle_sets(dedup.shingle_hashes(docs, n=n))
        else:
            old = dedup.shingle_sets(
                dedup.char_shingles(docs, n=n).select(
                    "doc_id", hash64(F.col("shingle")).alias("sh")
                )
            )
        new = shingle_sets_arrow(docs, n=n, unit=unit)
        assert _sorted_rows(old) == _sorted_rows(new), (unit, n)


def test_shingle_sets_arrow_bit_equal_sf(spark):
    """Corpus-scale bit-equality at the smoke SF for both units (the
    word tables feed the whole LSH verify family; char feeds
    char_shingle_near_dup)."""
    from mdio_python_spark.functions.scalars import hash64
    from mdio_python_spark.operators import dedup
    from mdio_python_spark.operators.text_arrow import shingle_sets_arrow

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    old_w = dedup.shingle_sets(dedup.shingle_hashes(docs, n=3))
    new_w = shingle_sets_arrow(docs, n=3, unit="word")
    assert _sorted_rows(old_w) == _sorted_rows(new_w)
    old_c = dedup.shingle_sets(
        dedup.char_shingles(docs, n=8).select(
            "doc_id", hash64(F.col("shingle")).alias("sh")
        )
    )
    new_c = shingle_sets_arrow(docs, n=8, unit="char")
    assert _sorted_rows(old_c) == _sorted_rows(new_c)


def test_shingle_sets_arrow_minhashes_bit_equal(spark):
    """Kernel-computed mh_0..7 == dedup.minhash_signatures (exploded
    aggregate) == minhash_signatures_from_sets (interpreted transforms)
    on the smoke corpus, for both the sets+minhashes and the
    signatures-only (emit_sets=False) shapes."""
    from mdio_python_spark.operators import dedup
    from mdio_python_spark.operators.text_arrow import shingle_sets_arrow

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want = _sorted_rows(
        dedup.minhash_signatures(dedup.shingle_hashes(docs, n=3), num_hashes=8)
    )
    both = shingle_sets_arrow(docs, n=3, unit="word", minhashes=8)
    got_cols = _sorted_rows(
        both.select("doc_id", *[f"mh_{k}" for k in range(8)])
    )
    assert got_cols == want
    # from_sets must take the precomputed-column shortcut and agree
    got_detect = _sorted_rows(
        dedup.minhash_signatures_from_sets(both, num_hashes=8)
    )
    assert got_detect == want
    # transform path over the kernel's arrays also agrees
    got_transform = _sorted_rows(
        dedup.minhash_signatures_from_sets(
            both.select("doc_id", "_set"), num_hashes=8
        )
    )
    assert got_transform == want
    sig_only = shingle_sets_arrow(
        docs, n=3, unit="word", minhashes=8, emit_sets=False
    )
    assert "_set" not in sig_only.columns
    assert _sorted_rows(sig_only) == want


def test_simhash_arrow_bit_equal_declarative(spark):
    """simhash_arrow == dedup.simhash_declarative — same rows (incl.
    the [''] single-empty-token shape split gives whitespace-only text,
    and NULL-text docs dropped) on the edge-case corpus and the smoke
    corpus, at both published bit widths (16 for simhash_16 /
    simhash_bit_balance, 60 for simhash_hamming_pairs)."""
    from mdio_python_spark.operators import dedup
    from mdio_python_spark.operators.text_arrow import simhash_arrow

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "   "),
        (4, "a  b\t\tc   d"),
        (5, "\tleading tab and trailing\n"),
        (6, "one two one two one"),
        (7, "single"),
        (8, "répété répété déjà vu déjà vu naïve café"),
        (9, None),
        (10, "x " * 300),
        (11, "longtoken" * 20 + " b c d e f"),
    ]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    smoke = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for docs in (edge, smoke):
        for bits in (16, 60):
            want = _sorted_rows(dedup.simhash_declarative(docs, bits=bits))
            got = _sorted_rows(simhash_arrow(docs, bits=bits))
            assert got == want, bits


def test_gram_multiset_arrow_matches_explode_counts(spark):
    """gram_multiset_arrow (round 11): the summed (key, gram, c)
    partials == the explode path's occurrence counts, for every consumer
    shape — per-doc bigrams (bigram LM / DSIR / top_bigrams), per-lang
    3-grams (top_ngrams_by_lang), per-lang tokens with the empty filter
    (zipf), and per-source tokens WITHOUT it (vocab_diversity) — on the
    smoke corpus and a crafted unicode/empty/null batch."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators import dedup
    from mdio_python_spark.operators.text import tokens
    from mdio_python_spark.operators.text_arrow import gram_multiset_arrow

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    crafted = spark.createDataFrame(
        [
            (1, "a", "x  x  x y", "s1"),
            (2, "a", "héllo wörld héllo wörld héllo", "s1"),
            (3, "b", "", "s2"),  # whitespace-only -> [''] token
            (4, "b", None, "s2"),  # null text -> no rows
            (5, "a", "ONE one One", "s1"),  # lowering collapses
            (6, "c", "日本 語 日本 語 日本", "s3"),
        ],
        "doc_id long, lang string, text string, source string",
    )

    def counts_of(df):
        return sorted(tuple(r) for r in df.collect())

    for df in (docs, crafted):
        # per-doc bigram counts (exact, not just summed)
        old = (
            dedup.word_shingles(df, n=2, distinct=False)
            .groupBy("doc_id", "shingle")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new = gram_multiset_arrow(df, n=2, key_col="doc_id").withColumnRenamed(
            "gram", "shingle"
        )
        assert counts_of(new) == counts_of(old)
        # per-lang 3-gram totals (partials summed)
        old3 = (
            dedup.word_shingles(df, n=3, id_col="lang", distinct=False)
            .groupBy("lang", "shingle")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new3 = (
            gram_multiset_arrow(df, n=3, key_col="lang")
            .groupBy("lang", "gram")
            .agg(F.sum("c").alias("c"))
        )
        assert counts_of(new3) == counts_of(old3)
        # per-lang token counts, empty tokens dropped (the zipf shape)
        oldt = (
            df.select(
                "lang",
                F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("t"),
            )
            .where(F.col("t") != "")
            .groupBy("lang", "t")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        newt = (
            gram_multiset_arrow(
                df, n=1, key_col="lang", trim=True, drop_empty=True
            )
            .groupBy("lang", F.col("gram").alias("t"))
            .agg(F.sum("c").alias("c"))
        )
        assert counts_of(newt) == counts_of(oldt)
    # per-source token counts KEEPING empty tokens (vocab_diversity)
    olds = (
        crafted.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("t")
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    news = (
        gram_multiset_arrow(crafted, n=1, key_col="source")
        .groupBy("source", F.col("gram").alias("t"))
        .agg(F.sum("c").alias("c"))
    )
    assert counts_of(news) == counts_of(olds)
    # the empty token from doc 3 must be present (no silent drop)
    assert any(r[1] == "" for r in news.collect())


def test_doc_chunks_cut_by_doc_count_and_bytes():
    """The one doc chunker: at most ``max_docs`` docs and ``max_bytes``
    input bytes per slice (read from the offsets: string bytes, or the
    token bytes of a list<string> row), a doc larger than the budget
    alone, no doc split, zero-copy slices, nothing for an empty batch."""
    import pyarrow as pa

    from mdio_python_spark.operators.text_arrow import _doc_chunks

    def sizes(batch, max_docs, max_bytes):
        chunks = list(_doc_chunks(batch, max_docs, max_bytes))
        if chunks:
            assert pa.Table.from_batches(chunks).equals(
                pa.Table.from_batches([batch])
            )
        return [c.num_rows for c in chunks]

    # bytes per doc: 2, 0 (null), 0, 6 (non-ASCII), 50, 2, 2
    texts = ["ab", None, "", "héllo", "x" * 50, "cd", "ef"]
    batch = pa.RecordBatch.from_pydict({"doc_id": list(range(7)), "text": texts})
    assert sizes(batch, 256, 10**6) == [7]
    assert sizes(batch, 3, 10**6) == [3, 3, 1]
    assert sizes(batch, 256, 8) == [4, 1, 2]
    assert sizes(batch, 2, 8) == [2, 2, 1, 2]
    assert sizes(batch.slice(3, 4), 256, 8) == [1, 1, 2]
    assert sizes(batch.slice(0, 0), 256, 8) == []
    first = next(_doc_chunks(batch.slice(5, 2), 256, 8))
    assert first.column(1).buffers()[2].address == batch.column(1).buffers()[2].address
    # token arrays: bytes 4, 0 (null), 0 ([""]), 20, 1
    toks = pa.RecordBatch.from_pydict(
        {
            "doc_id": list(range(5)),
            "_in": [["ab", "cd"], None, [""], ["x" * 20], ["e"]],
        }
    )
    assert sizes(toks, 256, 4) == [3, 1, 1]
    assert sizes(toks.slice(2, 3), 256, 4) == [1, 1, 1]


_CHUNK_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, None),
    (3, "   "),
    (4, "\t \n"),
    (5, "héllo wörld — this döc is defînitely nøt ascii at all, ünïcode"),
    (6, "中文字符串测试，需要走标量回退路径才能保证哈希一致性验证通过"),
    (7, " ".join(f"w{i % 37}" for i in range(1200))),  # ~5 KB, over every budget
] + [
    (
        100 + i,
        " ".join(
            random.Random(i % 23).choice(
                ["data", "row", "scan", "join", "hash", "key", "part", "spark"]
            )
            for _ in range(8 + i % 17)
        ),
    )
    for i in range(40)
]


def test_text_kernels_match_twins_on_tiny_byte_budget(spark, monkeypatch):
    """All five text kernels with the per-doc byte allowance patched to 1
    byte — chunks of 256 / 1024 / 2048 bytes, so batches split mid-way
    and the ~5 KB doc is a chunk of its own — still equal their
    declarative twins or the explode path, on the edge corpus (null,
    whitespace-only, non-ASCII, one over-budget doc), on an all-null
    and on an empty frame. The gram kernel's per-chunk partials prove the workers cut
    the batch: more partial rows than with the real allowance, same
    sums."""
    from mdio_python_spark.operators import dedup, text, text_arrow
    from mdio_python_spark.functions.scalars import hash64

    one_batch = spark.createDataFrame(
        _CHUNK_ROWS, "doc_id long, text string"
    ).coalesce(1)

    def gram_partials(df):
        return text_arrow.gram_multiset_arrow(
            df.withColumn("grp", F.col("doc_id") % 2), n=1, key_col="grp", spread=False
        )

    full_chunk_rows = gram_partials(one_batch).count()
    monkeypatch.setattr(text_arrow, "DOC_BYTE_ALLOWANCE", 1)
    assert gram_partials(one_batch).count() > full_chunk_rows
    assert _sorted_rows(
        gram_partials(one_batch).groupBy("grp", "gram").agg(F.sum("c"))
    ) == _sorted_rows(
        one_batch.withColumn("grp", F.col("doc_id") % 2)
        .select("grp", F.explode(text.tokens(F.lower(F.col("text")))).alias("gram"))
        .groupBy("grp", "gram")
        .count()
    )

    # an all-null batch: Spark sends its token child with no offsets
    for docs in (
        one_batch,
        one_batch.where(F.col("text").isNull()),
        one_batch.where(F.lit(False)),
    ):
        assert _sorted_rows(
            text_arrow.winnow_fingerprint_set_arrow(docs)
        ) == _sorted_rows(text.winnow_fingerprint_set(docs))
        assert _sorted_rows(
            text_arrow.winnow_fingerprints_arrow(docs)
        ) == _sorted_rows(text.winnow_fingerprints(docs))
        assert _sorted_rows(
            text_arrow.simhash_arrow(docs, spread=False)
        ) == _sorted_rows(dedup.simhash_declarative(docs))
        assert _sorted_rows(
            text_arrow.shingle_sets_arrow(docs, n=3, spread=False)
        ) == _sorted_rows(dedup.shingle_sets(dedup.shingle_hashes(docs, n=3)))
        assert _sorted_rows(
            text_arrow.shingle_sets_arrow(docs, n=5, unit="char", spread=False)
        ) == _sorted_rows(
            dedup.shingle_sets(
                dedup.char_shingles(docs, n=5).select(
                    "doc_id", hash64(F.col("shingle")).alias("sh")
                )
            )
        )
        assert _sorted_rows(
            text_arrow.gram_multiset_arrow(docs, n=2, spread=False)
        ) == _sorted_rows(
            dedup.word_shingles(docs, n=2, distinct=False)
            .groupBy("doc_id", "shingle")
            .agg(F.count(F.lit(1)).alias("c"))
        )


def test_gram_multiset_offsets_raise_past_int32(monkeypatch):
    """A gram chunk whose offsets pass ``trace_arrow.MAX_OFFSET`` raises
    OffsetOverflowError instead of wrapping the int32 cast (patched
    limit: no 2 GiB allocation)."""
    import pyarrow as pa
    import pytest

    from mdio_python_spark.operators.text_arrow import _gram_counts
    from mdio_python_spark.sources import trace_arrow

    chunk = pa.RecordBatch.from_pydict(
        {"doc_id": [1, 2], "_in": [["a", "bb", "a", "bb"], ["ccc", "d"]]}
    )
    got = _gram_counts(chunk, 2, drop_empty=False)
    assert sorted(zip(*(c.to_pylist() for c in got.columns))) == [
        (1, "a bb", 2),
        (1, "bb a", 1),
        (2, "ccc d", 1),
    ]
    # gram bytes 4 + 4 + 4 + 5 = 17
    monkeypatch.setattr(trace_arrow, "MAX_OFFSET", 17)
    assert _gram_counts(chunk, 2, drop_empty=False).num_rows == 3
    monkeypatch.setattr(trace_arrow, "MAX_OFFSET", 16)
    with pytest.raises(trace_arrow.OffsetOverflowError):
        _gram_counts(chunk, 2, drop_empty=False)


def test_kernel_modules_hold_one_arrow_batch_form():
    """The text and vector kernels run on Arrow batches only: neither
    module imports pandas or calls a pandas map/apply."""
    import ast
    import inspect

    from mdio_python_spark.operators import text_arrow, vector_arrow

    for mod in (text_arrow, vector_arrow):
        tree = ast.parse(inspect.getsource(mod))
        imported = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                imported |= {a.name.split(".")[0] for a in node.names}
            elif isinstance(node, ast.ImportFrom):
                imported.add((node.module or "").split(".")[0])
        assert "pandas" not in imported, mod.__name__
        attrs = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
        assert not attrs & {"mapInPandas", "applyInPandas"}, mod.__name__
