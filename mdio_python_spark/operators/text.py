"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID heuristic,
quality scoring, token counting, document fingerprinting. All pure Column
expressions — JVM-side, codegen'd, no Python in the hot path; at 100 TB these
are embarrassingly parallel scans with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mdio_python_spark.functions.scalars import hash64

# ASCII-safe regexes: Java (Spark) and RE2 (DuckDB) agree on \w/\s for ASCII.
WORD_SPLIT = r"\s+"
BPE_ISH = r"\w+|[^\w\s]"
PUNCT = r"[^\w\s]"

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "una", "y"),
    "zh": ("的", "是", "在", "了", "和"),
}


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), WORD_SPLIT)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under a BPE-ish word/punct regex (regexp_count is
    JVM-side; same RE2-compatible pattern in the oracle)."""
    return F.regexp_count(text, F.lit(BPE_ISH)).cast("long")


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PUNCT)).cast("long")


def stopword_count(text: Column, stopwords: tuple[str, ...]) -> Column:
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords))).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, punct ratio, stopword ratio.

    Ratios are exact-count divisions (long/long in double) — deterministic
    across engines.
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    return df.withColumns(
        {
            "n_chars_computed": F.length(t).cast("long"),
            "n_tokens": n_tok,
            "n_bpe_tokens": bpe_ish_token_count(t),
            "punct_ratio": punct_count(t).cast("double") / F.length(t).cast("double"),
            "stopword_ratio": stopword_count(t, LANG_MARKERS["en"]).cast("double")
            / n_tok.cast("double"),
        }
    )


def _argmax_lang(scores: dict[str, Column]) -> Column:
    """CASE chain: lang wins iff strictly greater than every earlier
    (sorted) lang — earliest lang wins ties, matching the oracle."""
    langs = sorted(scores)
    pred = F.lit(langs[0])
    for i, lang in enumerate(langs[1:], start=1):
        earlier = [scores[m] for m in langs[:i]]
        beat_all = (
            scores[lang] > F.greatest(*earlier) if len(earlier) > 1 else scores[lang] > earlier[0]
        )
        pred = F.when(beat_all, F.lit(lang)).otherwise(pred)
    return pred


def language_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "pred_lang",
    keep_scores: bool = False,
) -> DataFrame:
    """Language-ID over a DataFrame, staged for one-pass evaluation:
    project tokens once -> project the 5 marker-hit counts -> argmax over
    plain column refs. Shuffle-free scan; each stage's outputs are computed
    exactly once per row (the naive nested-CASE form re-tokenizes per
    comparison, ~L^2 splits per row).

    ``keep_scores=True`` retains the per-language hit counts as
    ``s_<lang>`` columns (for margin/confidence QC downstream)."""
    toks = tokens(F.lower(F.col(text_col)))
    staged = df.withColumn("__toks", toks)
    def _hits(marks: tuple[str, ...]):
        return lambda t: t.isin(*marks)

    score_cols = {
        lang: F.size(F.filter(F.col("__toks"), _hits(marks))).cast("long")
        for lang, marks in LANG_MARKERS.items()
    }
    staged = staged.withColumns({f"__s_{lang}": c for lang, c in score_cols.items()})
    pred = _argmax_lang({lang: F.col(f"__s_{lang}") for lang in LANG_MARKERS})
    out = staged.withColumn(out_col, pred)
    if keep_scores:
        return out.withColumnsRenamed(
            {f"__s_{lang}": f"s_{lang}" for lang in LANG_MARKERS}
        ).drop("__toks")
    return out.drop("__toks", *[f"__s_{lang}" for lang in LANG_MARKERS])


# ASCII-safe, Java-regex + RE2 compatible PII patterns (no lookarounds)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before tokenization: emails, URLs, and phone-shaped numbers are
    counted and replaced with typed placeholders.

    Pure ``regexp_count``/``regexp_replace`` Column expressions (JVM-side,
    shuffle-free scan); the patterns avoid lookarounds so Java regex and
    RE2 (DuckDB oracle) agree. Replacement order is fixed
    (url -> email -> phone) so overlapping matches resolve identically in
    both engines.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(t, URL_RE, "[URL]")
    redacted = F.regexp_replace(redacted, EMAIL_RE, "[EMAIL]")
    redacted = F.regexp_replace(redacted, PHONE_RE, "[PHONE]")
    return df.withColumns(
        {
            "n_urls": F.regexp_count(t, F.lit(URL_RE)).cast("long"),
            "n_emails": F.regexp_count(t, F.lit(EMAIL_RE)).cast("long"),
            "n_phones": F.regexp_count(t, F.lit(PHONE_RE)).cast("long"),
            "redacted": redacted,
            "redacted_hash": F.md5(redacted),
        }
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 60-bit hash of whitespace-normalized lowercase
    text (rolling-hash analog; same md5-based hash in the oracle)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return hash64(normalized)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style document chunking: overlapping fixed-size token windows.

    Each doc yields windows starting every ``chunk_tokens - overlap``
    tokens; the tail window may be short. Pure array expressions
    (``sequence`` + ``posexplode`` + ``slice``): the only row expansion
    is the per-doc chunk list (~n_tokens/stride rows), JVM-side, no
    shuffle — at 100 TB this is a scan that emits a few rows per row,
    exactly how a chunking pass feeds an embedding/indexing stage.

    Output: (id, chunk_idx, chunk_start, n_chunk_tokens, chunk_hash) —
    the chunk text itself is hashed (shared ``hash64``) so downstream
    exact comparisons stay 8 bytes wide.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.lower(F.trim(F.col(text_col))))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.posexplode(starts)
    ).withColumnsRenamed({"pos": "chunk_idx", "col": "chunk_start"})
    chunk = F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        hash64(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def token_rarity(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-derived token-commonness score per document: the document
    frequency (how many docs contain the token) of each of the doc's
    DISTINCT tokens, rolled up as count / sum / min / mean. Low mean_df
    flags jargon/noise pages; min_df = 1 flags docs carrying
    corpus-unique tokens (OCR junk, serial numbers). The df table is the
    same vocabulary index lexical retrieval reuses.

    Scale shape: one (doc, token) distinct exchange; the df count is
    map-side combinable; the join back is token-co-partitioned; the
    per-doc rollup is combinable. Nothing corpus-sized is broadcast.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.trim(F.col(text_col))))).alias("token")
    ).distinct()
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(dfreq, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum("df").alias("sum_df"),
            F.min("df").alias("min_df"),
        )
        .withColumn(
            "mean_df",
            F.col("sum_df").cast("double")
            / F.col("n_distinct_tokens").cast("double"),
        )
    )


def build_vocab(
    df: DataFrame,
    vocab_size: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Frequency vocabulary: the ``vocab_size`` most frequent tokens,
    id = rank (0 = most frequent; ties break lexically). The counting is
    a combinable corpus aggregate; the top-V cut is a parallel
    ``orderBy().limit()`` (TakeOrdered — per-partition heaps + a
    driver-side merge of V-row prefixes, deterministic under the
    (n desc, token) total order), so even a web-scale distinct-token
    table never lands on one task; only the V surviving rows see the
    ranking window."""
    freq = (
        df.select(F.explode(tokens(F.lower(F.trim(F.col(text_col))))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    from mdio_python_spark.operators.ranking import constant_partition

    top = freq.orderBy(F.col("n").desc(), F.col("token")).limit(vocab_size)
    # deliberate single partition over the V surviving rows
    w = Window.partitionBy(constant_partition("token")).orderBy(
        F.col("n").desc(), F.col("token")
    )
    return top.select(
        "token",
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "n",
    )


def tokenize_ids(
    df: DataFrame,
    vocab: DataFrame,
    oov_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Map every document to its token-id sequence under ``vocab``
    (out-of-vocabulary -> ``oov_id``) — the tokenization pass that feeds
    sequence packing. Output: (id, n_tokens, n_oov, ids_hash) where
    ids_hash is the shared 60-bit hash of the space-joined id sequence,
    so the full sequence never crosses to the driver or the oracle
    comparison.

    Scale shape: posexplode -> BROADCAST vocab join (the vocab is
    vocab_size rows by construction) -> one (doc) combinable aggregate
    rebuilding order via sort_array(struct(pos, id)). One corpus
    exchange on the doc id; the join adds none.
    """
    from mdio_python_spark.functions.scalars import hash64

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.trim(F.col(text_col))))).alias(
            "pos", "token"
        ),
    )
    mapped = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    tid = F.coalesce(F.col("token_id"), F.lit(oov_id))
    return (
        mapped.select(id_col, "pos", tid.alias("tid"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("tid") == oov_id).cast("long")).alias("n_oov"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tid"))),
                    lambda s: s.getField("tid").cast("string"),
                ),
                " ",
            ).alias("_ids"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            hash64(F.col("_ids")).alias("ids_hash"),
        )
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document predictability under a corpus-trained bigram LM.

    The log-free analog of CCNet's KenLM perplexity filter (Wenzek et al.,
    LREC 2020): train conditional bigram probabilities p(w2|w1) =
    c(w1 w2) / c(w1·) on the corpus itself, then score each document by the
    count-weighted mean conditional probability of its bigrams. Low scores
    flag boilerplate-free but incoherent text (lorem-ipsum, OCR noise);
    suspiciously high scores flag templated/repetitive text. Means stay
    cross-engine exact by routing each probability through DECIMAL(18,8)
    before the sum (ratios are IEEE-divided identically in both engines;
    the per-value decimal cast can never tie, so rounding mode is moot).

    Scale: the per-doc bigram count table is built INSIDE the Arrow
    gram-multiset kernel (round 11, ``text_arrow.gram_multiset_arrow``
    — exact per-doc counts, since a doc never spans kernel chunks), so
    the token stream is never exploded and no corpus-sized exchange
    precedes the vocab-sized model tables; the corpus-side scoring join
    is (bigram)-co-partitioned. The per-doc count stage feeds both the
    model build and the scoring join — persisted per the
    persist-the-fork rule (AQE subtree reuse is not a contract). Every
    product stays inside DECIMAL(29,8): the bigint count is cast to
    DECIMAL(10,0) first, because decimal(18,8) * bigint overflows
    Spark's precision cap and silently drops to scale 7.
    """
    from mdio_python_spark.functions.determinism import dec
    from mdio_python_spark.operators.caching import own, persist
    from mdio_python_spark.operators.text_arrow import gram_multiset_arrow

    dbc = persist(
        gram_multiset_arrow(df, n=2, key_col=id_col, text_col=text_col)
        .withColumnRenamed("gram", "bigram")
    )
    bcnt = persist(
        dbc.groupBy("bigram").agg(F.sum("c").cast("bigint").alias("n_big"))
    )
    w1 = F.substring_index(F.col("bigram"), " ", 1)
    pcnt = bcnt.groupBy(w1.alias("w1")).agg(
        F.sum("n_big").cast("bigint").alias("n_pre")
    )
    cond = bcnt.join(pcnt, w1 == pcnt.w1).select(
        "bigram",
        (F.col("n_big").cast("double") / F.col("n_pre").cast("double")).alias("p"),
    )
    out = (
        dbc.join(cond, "bigram")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            (
                F.sum(dec("p", 8) * F.col("c").cast("decimal(10,0)")).cast("double")
                / F.sum("c").cast("bigint")
            ).alias("lm_score"),
        )
    )
    return own(out, "bigram_lm_scores", dbc, bcnt)


def vocab_diversity(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Lexical-diversity profile per group: token/type counts, type-token
    ratio, and the Simpson diversity index 1 - sum(p_i^2) — the
    transcendental-free stand-in for Shannon entropy (same ordering on
    concentration, but exactly computable cross-engine: the squared counts
    sum in DECIMAL(38,0), then two IEEE double ops). A collapsed-diversity
    group is the classic symptom of a scraper stuck on one template.

    Scale: two chained combinable groupBys (token stream -> per-group
    vocab counts -> one row per group); no joins, no windows. The squared
    counts go through DECIMAL(19,0)^2 so a 1e12-occurrence token at
    100 TB cannot overflow the bigint product. (Round 11
    measured-and-rejected: routing the n=1 token counts through the
    Arrow gram-multiset kernel was 0.18 -> 0.70 s at sf0.1 — single
    tokens are one codegen explode + a map-side-combined count, and the
    Python boundary cost exceeds the exchange it shrinks; the kernel
    stays on the n >= 2 gram consumers where it wins.)
    """
    tok = df.select(
        F.col(group_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    counts = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("c"))
    cdec = F.col("c").cast("decimal(19,0)")
    n_tok = F.sum("c").cast("bigint")
    sum_sq = F.sum((cdec * cdec).cast("decimal(38,0)")).cast("double")
    return counts.groupBy(group_col).agg(
        n_tok.alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (F.count(F.lit(1)).cast("double") / n_tok).alias("type_token_ratio"),
        (
            F.lit(1.0)
            - sum_sq / (F.sum("c").cast("double") * F.sum("c").cast("double"))
        ).alias("simpson_index"),
    )


def winnow_fingerprint_set(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    internal_hash: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram, slide
    a w-window over the hash sequence, select the minimum per window, and
    keep the distinct selections as the document's fingerprint set. The
    guarantee: any substring of length >= w + k - 1 shared by two
    documents yields at least one shared fingerprint, while only
    ~2/(w+1) of the k-gram hashes are stored — position-robust dup
    detection at a fraction of the full-shingle footprint.

    k IS the noise threshold (the paper's guarantee threshold t = w+k-1):
    matches shorter than k chars are invisible by design. The k=16
    default is entropy-tuned the way char_shingle_near_dup's banding was
    — at k=8 the min-selection biases toward globally-common English
    8-grams and 86% of ALL same-language doc pairs share >= 2
    fingerprints (measured: 108k pairs from 500 docs), while at k=16 the
    pair count tracks true duplication and stays FLAT from 500 to 5000
    docs (1032 vs 1026 measured) because chance 16-char collisions are
    ~nil.

    Selecting the min VALUE per window (not the min position) makes the
    fingerprint set tie-free and engine-agnostic — no rightmost-tie rule
    to replicate; consecutive-window dedup is subsumed by the per-doc
    distinct.

    Output: distinct (id, n_kgrams, wmin) fingerprint rows for every
    document with at least one full window (length >= w + k - 1 chars);
    :func:`winnow_fingerprints` rolls them up per document.

    Scale shape: one projection builds (id, pos, kgram-hash) rows
    (explode is scan-side, codegen'd; the hash runs once per position),
    ONE hash exchange on the id partitions the per-document window min
    (bounded by document length — embarrassingly parallel at corpus
    scale), and the same partitioning serves the distinct and the final
    combinable aggregate with no further shuffle.

    ``internal_hash=True`` swaps the md5-derived :func:`hash64` for
    Spark's codegen-native ``xxhash64`` — the biggest per-position cost
    in this DAG (the md5 digest + hex round-trip roughly doubles the
    scan stage). Unlike window_dup_stats' internal-key rule, winnowing's
    hash DETERMINES the min-selection, so the two modes produce
    DIFFERENT (equally valid) fingerprint sets; callers that publish
    ``wmin``/``fp_xor`` as a cross-corpus contract keep the md5 default,
    while pair-mining consumers (winnowing_dup_pairs) use the fast path
    — its oracle mirrors XXH64 bit-for-bit via
    ``functions.scalars.sql_xxhash64_ascii16`` (16-byte-ASCII
    k-grams; k=16 and the corpus is measured all-ASCII at every SF).
    """
    from pyspark.sql import Window

    t = F.lower(F.trim(F.col(text_col)))
    n_kg = F.length(t) - F.lit(k - 1)
    starts = F.sequence(F.lit(1), n_kg)
    kg = df.where(F.length(t) >= F.lit(w + k - 1)).select(
        F.col(id_col),
        n_kg.alias("n_kgrams"),
        t.alias("_t"),
        F.posexplode(starts).alias("_i", "pos"),
    )
    kgram = F.substr(F.col("_t"), F.col("pos"), F.lit(k))
    kg = kg.select(
        F.col(id_col),
        "n_kgrams",
        "pos",
        (F.xxhash64(kgram) if internal_hash else hash64(kgram)).alias("h"),
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    mins = kg.select(
        F.col(id_col),
        "n_kgrams",
        "pos",
        F.min("h").over(win).alias("wmin"),
    ).where(F.col("pos") <= F.col("n_kgrams") - F.lit(w - 1))
    return mins.select(id_col, "n_kgrams", "wmin").distinct()


def winnow_fingerprints(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document winnowing fingerprint summary over
    :func:`winnow_fingerprint_set`: (id, n_kgrams, n_fingerprints,
    fp_xor) — the fingerprint count plus the order-free XOR digest of
    the set, the 8-byte content summary two corpora can diff on. The
    final aggregate is combinable and reads the same doc_id partitioning
    the window min produced — no further shuffle."""
    sel = winnow_fingerprint_set(df, k, w, text_col, id_col)
    return sel.groupBy(id_col, "n_kgrams").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.expr("bit_xor(wmin)").alias("fp_xor"),
    )
