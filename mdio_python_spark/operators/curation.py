"""Corpus curation operators: eval-set decontamination, Gopher-style
repetition filters, deterministic stratified sampling.

Beyond-reference surface (BASELINE.json north star) — the filters a
training-data pipeline runs between dedup and tokenization:

- decontamination: flag training docs sharing long word n-grams with an
  evaluation split (the standard test-set-leak guard). The eval n-gram
  set is orders of magnitude smaller than the corpus, so it broadcasts;
  the corpus side is a scan + one map-side-combinable groupBy.
- repetition features: Gopher/C4-style per-doc repetition scores
  (duplicate-bigram fraction, top-bigram character mass) — two chained
  combinable groupBys on the same key, no joins.
- stratified sampling: per-stratum keep rates applied via a salted
  deterministic hash — a pure projection + filter, shuffle-free, and
  reproducible across runs/engines (no RNG state).

All hashing is the shared md5-based 60-bit ``hash64`` so DuckDB oracles
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mdio_python_spark.functions.scalars import hash64
from mdio_python_spark.operators.dedup import shingle_hashes, word_shingles


def split_hash(id_col: Column, salt: str, modulus: int) -> Column:
    """Deterministic bucket in [0, modulus) from a salted id hash."""
    return F.pmod(hash64(F.concat(F.lit(salt), id_col.cast("string"))), F.lit(modulus))


def eval_split_pred(
    id_col: str = "doc_id", modulus: int = 20, salt: str = "eval"
) -> Column:
    """True for rows in the held-out eval split (~1/modulus of the corpus)."""
    return split_hash(F.col(id_col), salt, modulus) == 0


def contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-train-doc overlap with the eval split's word ``n``-grams.

    Returns ``(id_col, n_ngrams, n_contaminated, contaminated)`` for every
    train doc with at least one ``n``-gram. ``contaminated`` is the
    conventional any-overlap decision (one shared 8-gram means the doc
    quotes eval material).

    Scale shape: the eval n-gram set is tiny relative to the corpus (an
    eval suite is ~1e6 grams) and broadcasts; the train side is one scan
    producing distinct (doc, gram-hash) pairs — the only exchange is the
    per-doc distinct/groupBy, and the grams cross the wire as 8-byte
    hashes, never strings.
    """
    eval_grams = (
        shingle_hashes(eval_docs, n, text_col, id_col)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train_grams = shingle_hashes(train, n, text_col, id_col, distinct=True)
    return (
        train_grams.join(F.broadcast(eval_grams), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("hit").alias("n_contaminated"),
        )
        .withColumn("contaminated", F.col("n_contaminated") > 0)
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition scores per document.

    - ``dup_bigram_frac``: fraction of bigram occurrences that are repeats
      of an earlier occurrence (1 - distinct/total).
    - ``top_bigram`` / ``top_bigram_count``: the most frequent bigram
      (ties broken by the lexicographically greater bigram, identically
      in the oracle).
    - ``top_bigram_char_frac``: character mass of the top bigram's
      occurrences over all bigram characters — the "fraction of
      characters in the most common 2-gram" filter.

    Two chained groupBys on ``(doc, bigram)`` then ``doc`` — both
    map-side combinable, the second reuses the first's hash partitioning
    (no extra exchange), and nothing joins back against the corpus.
    """
    bi = word_shingles(df, 2, text_col, id_col, distinct=False)
    counts = bi.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("c"))
    gram_chars = F.col("c") * F.length("shingle")
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.sum(gram_chars).alias("_total_gram_chars"),
        F.max(F.struct(F.col("c"), F.col("shingle"), gram_chars.alias("gc"))).alias(
            "_top"
        ),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        "n_distinct_bigrams",
        F.col("_top.shingle").alias("top_bigram"),
        F.col("_top.c").alias("top_bigram_count"),
        (
            (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("dup_bigram_frac"),
        (
            F.col("_top.gc").cast("double")
            / F.col("_total_gram_chars").cast("double")
        ).alias("top_bigram_char_frac"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample",
    precision: int = 10000,
) -> DataFrame:
    """Deterministic per-stratum downsampling (domain mixing).

    A row survives iff its salted id hash mod ``precision`` falls below
    ``rate * precision`` for its stratum — so reruns, retries, and other
    engines (the DuckDB oracle) select the *same* rows, unlike
    ``DataFrame.sample`` whose partition-seeded RNG changes under
    repartitioning. Pure projection + filter: shuffle-free, pushed past
    the scan by Catalyst, and the rate table is a literal CASE (strata
    counts are small; use a broadcast join if they ever are not).
    """
    bucket = split_hash(F.col(id_col), salt, precision)
    threshold = F.lit(int(round(default_rate * precision)))
    for key in sorted(rates, reverse=True):
        threshold = F.when(
            F.col(stratum_col) == key, F.lit(int(round(rates[key] * precision)))
        ).otherwise(threshold)
    return df.where(bucket < threshold)


def temperature_resample(
    df: DataFrame,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "temp",
    precision: int = 1_000_000,
) -> DataFrame:
    """Temperature-based source rebalancing at alpha = 0.5: keep counts
    proportional to ``sqrt(n_s)`` instead of ``n_s``, the standard
    up/down-weighting used when mixing training corpora of very different
    sizes (multilingual / multi-domain mixes).

    ``rate_s = sqrt(n_min / n_s)`` — the smallest stratum keeps
    everything, an s-times-larger stratum keeps ``1/sqrt(s)`` of its
    rows, so post-sample sizes are ``sqrt(n_min * n_s)``, i.e. proportional
    to ``n_s ** 0.5``. alpha is pinned to 0.5 because ``sqrt`` is
    IEEE-correctly-rounded in both the JVM and DuckDB — a general
    ``pow(x, alpha)`` is a transcendental the two engines may round
    differently, which would break exact cross-engine reproducibility
    (the property this operator exists to provide; see
    ``stratified_sample``). The keep decision itself is integer: a row
    survives iff its salted hash mod ``precision`` falls below
    ``floor(rate * precision)``.

    Scale shape: per-stratum counts are one combinable groupBy over a
    low-cardinality key (tiny result), broadcast back; the corpus side
    is a scan + broadcast-hash-join + filter, no corpus shuffle.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    n_min = counts.agg(F.min("_n").alias("_n_min"))
    rates = counts.join(F.broadcast(n_min)).select(
        stratum_col,
        F.floor(
            F.sqrt(F.col("_n_min") / F.col("_n")) * F.lit(precision)
        ).alias("_keep_below"),
    )
    bucket = split_hash(F.col(id_col), salt, precision)
    return (
        df.join(F.broadcast(rates), stratum_col)
        .where(bucket < F.col("_keep_below"))
        .drop("_keep_below")
    )


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment from a salted id hash.

    The split is a pure projection — reproducible across engines, retries
    and cluster sizes (unlike ``randomSplit``), stable under corpus growth
    (a document's split never changes when other rows are added), and
    filter-pushable: reading only the ``train`` partition of a 100 TB
    corpus is a scan-side predicate, no shuffle. Percent bounds are
    integers so the bucket comparison is exact in every engine.
    """
    bucket = split_hash(F.col(id_col), salt, 100)
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def dsir_importance_weights(
    df: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed n-gram importance weights (DSIR; Xie et al., NeurIPS 2023,
    "Data Selection for Language Models via Importance Resampling").

    Bigram features hash into ``n_buckets`` buckets; the target
    distribution is the deterministic held-out eval split
    (:func:`eval_split_pred`), the raw distribution is everything else.
    DSIR's log-likelihood-ratio weight is replaced by the count-weighted
    mean of add-one-smoothed bucket ratios (t+1)/(r+1) — a log-free proxy
    with the same ordering signal that stays exactly computable
    cross-engine (each ratio is one IEEE division; the mean routes
    through DECIMAL(18,8) x DECIMAL(10,0) products, see
    ``text.bigram_lm_scores`` for the precision rationale). Resample the
    corpus by this weight to tilt it toward the target domain.

    Scale: the per-(doc, bucket) count stage is built once and persisted
    (three consumers: target totals, raw totals, the scoring join — the
    persist-the-fork rule); bucket ratio tables are <= n_buckets rows and
    broadcast, so the corpus-side scoring join is shuffle-free. The
    bigrams come from the explode path: the Arrow gram-multiset kernel
    was measured no faster here on a 4-core host (1.29 s explode vs
    1.52 s kernel at sf0.001, a tie at sf0.01).
    """
    from mdio_python_spark.functions.determinism import dec
    from mdio_python_spark.operators.caching import own, persist

    bi = word_shingles(df, n=2, text_col=text_col, id_col=id_col, distinct=False)
    bucket = F.pmod(hash64(F.col("shingle")), F.lit(n_buckets)).alias("bucket")
    ge = persist(
        bi.select(id_col, bucket)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("is_eval", eval_split_pred(id_col=id_col))
    )
    t = ge.where("is_eval").groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("t_cnt")
    )
    r = ge.where(~F.col("is_eval")).groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("r_cnt")
    )
    ratios = t.join(r, "bucket", "full").select(
        "bucket",
        (
            (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("r_cnt"), F.lit(0)) + 1).cast("double")
        ).alias("ratio"),
    )
    out = (
        ge.where(~F.col("is_eval"))
        .join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            (
                F.sum(dec("ratio", 8) * F.col("c").cast("decimal(10,0)")).cast(
                    "double"
                )
                / F.sum("c").cast("bigint")
            ).alias("dsir_weight"),
        )
    )
    return own(out, "dsir_importance_weights", ge)
