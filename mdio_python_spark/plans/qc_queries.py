"""Dedup-gate QC queries (round 6): measure — don't model — the MinHash
agreement gate that round 6 wired into ``near_dup_jaccard``.

The gate (keep candidate pairs with >= 3 of 8 signature components
agreeing, see ``dedup.minhash_agreement_filter``) trades a binomially
small false-drop probability for skipping the exact shingle-intersection
verify on band-collision junk. These queries turn that trade from a
docstring claim into declared, oracle-paired tables over the corpus:

- ``minhash_gate_calibration``: per agreement level, how many candidate
  pairs land there and what their exact Jaccard actually is — the
  E[agree/K] = J estimator curve, measured.
- ``jaccard_bin_histogram``: the inverse view — per exact-Jaccard decile,
  how many pairs and what the estimator says about them.
- ``gate_false_drop_audit``: the one-row verdict — of all LSH candidates,
  how many the gate keeps, how many are true near-dups (J >= 0.5), and
  how many true near-dups the gate would drop (the measured recall cost;
  0 at every tested SF).
- ``soft_dedup_weights``: the keep-everything alternative to dropping —
  per-document training weight 1 / n_exact_dupes (the SoftDeDup shape:
  down-weight duplicated text instead of deleting it), one combinable
  hash-groupBy + one long-keyed join.

All four are pure additions registered AFTER every earlier module
(`registry._ensure_loaded`), so no pre-round-6 query's natural registry
position moves.

Scale notes: the three pair-based queries share the ``near_dup_jaccard``
plan shape — ONE persisted collect_set aggregation of the hashed shingle
scan (the round-10 set-array stage, ``llm_queries._word_shingle_sets``)
feeds signatures, set sizes, and both verify sides via array_intersect;
pairs are LSH-bounded (capped buckets) so nothing corpus-quadratic
exists; the agree-join moves 8 longs per doc. ``soft_dedup_weights`` is
one map-side-combinable groupBy on a 16-byte hash plus one join that
shuffles (doc_id, hash) longs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.functions.determinism import dsum, sql_dsum
from mdio_python_spark.operators import dedup
from mdio_python_spark.operators.caching import own
from mdio_python_spark.plans.llm_queries import (
    _BANDS_CTE,
    _SHINGLES_CTE,
    _SIGNATURES_CTE,
    _pair_jaccard_ctes,
)
from mdio_python_spark.plans.registry import register
from mdio_python_spark.sources.tables import load_table


# agree-count per candidate pair (mirror of dedup.minhash_agreement_counts)
_AGREE_CTE = f"""
  agree_pairs AS (
    SELECT p.doc_a, p.doc_b,
           CAST({" + ".join(
               f"(CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END)"
               for k in range(8)
           )} AS INTEGER) AS agree
    FROM candidate_pairs p
    JOIN signatures sa ON sa.doc_id = p.doc_a
    JOIN signatures sb ON sb.doc_id = p.doc_b
  )
"""

# agree LEFT JOIN exact jaccard: candidate pairs with zero common shingles
# (band_hash collisions between unrelated docs) never reach the
# intersection join in either engine — they re-enter here as jaccard 0.0
# so the calibration sees ALL candidates, not just overlapping ones
_JOINED_CTE = """
  joined AS (
    SELECT a.agree, COALESCE(pj.jaccard, CAST(0.0 AS DOUBLE)) AS jaccard
    FROM agree_pairs a
    LEFT JOIN pair_jaccard pj
      ON pj.doc_a = a.doc_a AND pj.doc_b = a.doc_b
  )
"""


def _gated_candidates(spark: SparkSession, sf_dir: str):
    """Shared Spark-side stage for the pair QC queries: the persisted
    per-doc shingle SET-ARRAY stage (round 10 — llm_queries.
    _word_shingle_sets: one collect_set aggregation feeds signatures AND
    the exact verify) -> LSH candidates -> (agree, exact jaccard). The
    array verify scores EVERY candidate (zero-overlap pairs come out at
    jaccard 0.0 directly), so the left join's coalesce is a no-op kept
    for shape stability."""
    from mdio_python_spark.plans.llm_queries import _word_shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    agree = dedup.minhash_agreement_counts(pairs, sig, num_hashes=8)
    exact = dedup.jaccard_pairs_arrays(pairs, None, sets=sets)
    joined = agree.join(exact, ["doc_a", "doc_b"], "left").select(
        "agree", F.coalesce("jaccard", F.lit(0.0)).alias("jaccard")
    )
    return joined, sets


@register(
    "minhash_gate_calibration",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_AGREE_CTE},
    {_pair_jaccard_ctes()}, {_JOINED_CTE}
    SELECT agree, COUNT(*) AS n_pairs,
           {sql_dsum("jaccard", 6)} / CAST(COUNT(*) AS DOUBLE) AS mean_jaccard,
           CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_05
    FROM joined GROUP BY agree
    """,
    eager=True,
)
def q_minhash_gate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration: per MinHash agreement level (0..8), the
    candidate-pair population, its exact mean Jaccard (order-independent
    decimal sum), and how many pairs pass the 0.5 near-dup threshold.
    Reading the table tells you exactly what min_agree=3 costs: every
    n_pass_05 below the cut is a real near-dup the gate drops."""
    joined, sets = _gated_candidates(spark, sf_dir)
    out = joined.groupBy("agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (dsum("jaccard", 6) / F.count(F.lit(1)).cast("double")).alias(
            "mean_jaccard"
        ),
        F.sum((F.col("jaccard") >= 0.5).cast("long")).alias("n_pass_05"),
    )
    return own(out, "minhash_gate_calibration", sets)


@register(
    "jaccard_bin_histogram",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_AGREE_CTE},
    {_pair_jaccard_ctes()}, {_JOINED_CTE}
    SELECT LEAST(CAST(FLOOR(jaccard * 10) AS INTEGER), 9) AS jaccard_bin,
           COUNT(*) AS n_pairs,
           CAST(SUM(agree) AS DOUBLE) / (8.0 * COUNT(*)) AS mean_estimate
    FROM joined GROUP BY 1
    """,
    eager=True,
)
def q_jaccard_bin_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse calibration view: per exact-Jaccard decile bin of the LSH
    candidate population, the pair count and the mean MinHash estimate
    (sum(agree)/8K — exact integer sum, one double divide). Bin 0 holds
    the band-collision junk the gate exists to discard; the estimate
    should track bin midpoints upward."""
    joined, sets = _gated_candidates(spark, sf_dir)
    out = joined.groupBy(
        F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)).alias(
            "jaccard_bin"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.sum("agree").cast("double")
            / (F.lit(8.0) * F.count(F.lit(1)).cast("double"))
        ).alias("mean_estimate"),
    )
    return own(out, "jaccard_bin_histogram", sets)


@register(
    "gate_false_drop_audit",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_AGREE_CTE},
    {_pair_jaccard_ctes()}, {_JOINED_CTE}
    SELECT COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN agree >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gated_kept,
           CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_pairs,
           CAST(SUM(CASE WHEN agree < 3 AND jaccard >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_drops
    FROM joined
    """,
    eager=True,
)
def q_gate_false_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row verdict on the near_dup_jaccard gate: candidate count,
    gate-kept count, true near-dup count (exact J >= 0.5), and the
    measured recall cost — true near-dups the agree >= 3 gate drops
    (n_false_drops; 0 at every tested SF, now continuously declared
    instead of a one-off measurement)."""
    joined, sets = _gated_candidates(spark, sf_dir)
    out = joined.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum((F.col("agree") >= 3).cast("long")).alias("n_gated_kept"),
        F.sum((F.col("jaccard") >= 0.5).cast("long")).alias("n_true_pairs"),
        F.sum(
            ((F.col("agree") < 3) & (F.col("jaccard") >= 0.5)).cast("long")
        ).alias("n_false_drops"),
    )
    return own(out, "gate_false_drop_audit", sets)


@register(
    "soft_dedup_weights",
    """
    SELECT doc_id,
           COUNT(*) OVER (PARTITION BY md5(text)) AS n_dupes,
           CAST(1.0 AS DOUBLE)
             / CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS DOUBLE)
             AS weight
    FROM documents
    """,
    eager=True,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-shaped alternative to dropping duplicates: every
    document keeps a training weight 1 / n_exact_dupes, so each distinct
    text contributes unit total mass regardless of copy count. Spark
    side is a map-side-combinable hash groupBy plus one join shuffling
    (doc_id, 16-byte hash) — no corpus window sort (the oracle's window
    is DuckDB's idiomatic spelling of the same per-group count)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    counts = docs.groupBy("text_hash").agg(F.count(F.lit(1)).alias("n_dupes"))
    return docs.join(counts, "text_hash").select(
        "doc_id",
        "n_dupes",
        (F.lit(1.0) / F.col("n_dupes").cast("double")).alias("weight"),
    )
