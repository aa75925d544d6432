"""Training-pipeline composition queries (round 6d, appended last):
two-stage ANN serving, embedding compression QC, data mixing, and a PII
rollup — the operations that sit BETWEEN the engine's primitives in a
real 100-TB data-curation deployment.

- ``pq_shortlist_rerank``: the deployed retrieval shape — a cheap
  IVF-PQ ADC shortlist (10 per query, from the committed fit-once model
  artifacts) re-ranked by exact cosine to top-3. ADC bounds what crosses
  the probe join (4 codes per candidate); the exact fold runs only on
  the tiny shortlist.
- ``int8_quant_error``: per-vector symmetric int8 quantization QC —
  scale, reconstruction MSE, max abs error, clipped-element count. The
  go/no-go table before shipping a 4x-smaller embedding store.
- ``token_budget_allocation``: data mixing — alpha=0.5 temperature
  shares over per-source token counts allocate a half-corpus training
  budget; epochs = allocation / available. sqrt keeps the share math
  IEEE-correctly-rounded in both engines (the temperature_resample
  rule); the share denominator is an order-independent decimal sum.
- ``pii_density_by_source``: per-source counts of URL/email/phone spans
  and affected-document share — which ingestion sources need redaction
  attention (same regex set as ``text_redaction``).

Registration order: imported after every earlier module
(`registry._ensure_loaded`), so no existing query's natural registry
position moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mdio_python_spark.functions.determinism import dec, sql_dsum
from mdio_python_spark.operators.caching import own, persist
from mdio_python_spark.plans.llm_queries import _IVF_COS, _TOKS, _ivfpq_serve_oracle
from mdio_python_spark.plans.registry import register
from mdio_python_spark.sources.tables import load_table


_SHORTLIST_K = 10
_RERANK_K = 3


def _rerank_oracle() -> str:
    """Two-stage oracle: the full IVF-PQ serve chain (artifact model,
    rank <= 10) as a nested-WITH shortlist, then exact-cosine re-rank —
    the cosine fold is the same left-fold spelling Spark's ``cosine``
    helper evaluates, so values are bit-equal."""
    cos = _IVF_COS.format(a="eq.embedding", b="ec.embedding")
    return f"""
    WITH shortlist AS (
      SELECT * FROM ({_ivfpq_serve_oracle(_SHORTLIST_K)}) s
    ),
    reranked AS (
      SELECT s.query_id, s.candidate_id, s.adc_dist, {cos} AS exact_cosine
      FROM shortlist s
      JOIN embeddings eq ON eq.vec_id = s.query_id
      JOIN embeddings ec ON ec.vec_id = s.candidate_id
    )
    SELECT query_id, candidate_id, adc_dist, exact_cosine, rerank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY exact_cosine DESC, candidate_id) AS INT) AS rerank
      FROM reranked
    ) WHERE rerank <= {_RERANK_K}
    """


def _fitted_shortlist(emb: DataFrame) -> DataFrame:
    """IVF-PQ ADC shortlist (rank <= 10 per query) from the committed
    fit-once model artifacts — the stage shared by the rerank query and
    the recall-gain QC."""
    from mdio_python_spark.operators.model_store import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from mdio_python_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        emb.where(F.col("vec_id") < 50), emb,
        k=_SHORTLIST_K, n_centroids=16, nprobe=4,
        centroids=load_ivf_centroids(),
        codebooks=load_pq_codebooks(),
    )


def _exact_rerank(short: DataFrame, emb: DataFrame) -> DataFrame:
    """Exact-cosine re-rank of a shortlist to top-3: the fold and its
    window run on |queries| x 10 rows; the broadcast shortlist join back
    to embeddings adds one corpus scan and no corpus shuffle."""
    from mdio_python_spark.operators.similarity import cosine

    qv = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cv = emb.select(
        F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("c_vec")
    )
    reranked = (
        # the shortlist (|queries| x 10 rows) is the build side against
        # the corpus-sized candidate scan — hint it explicitly so the
        # initial plan is already the broadcast join AQE would discover
        F.broadcast(short.join(F.broadcast(qv), "query_id"))
        .join(cv, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            "adc_dist",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("exact_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_cosine").desc(), F.col("candidate_id")
    )
    return (
        reranked.withColumn("rerank", F.row_number().over(w).cast("int"))
        .where(F.col("rerank") <= _RERANK_K)
        .select("query_id", "candidate_id", "adc_dist", "exact_cosine", "rerank")
    )


@register("pq_shortlist_rerank", _rerank_oracle(), eager=True)
def q_pq_shortlist_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval in its deployed shape: IVF-PQ ADC shortlist
    (10 per query) from the committed fit-once model artifacts, then
    exact-cosine re-rank to top-3. Scale design: the corpus-sized leg is
    the ADC stage (4 codes per candidate cross the probe join, never the
    vector); the exact fold and its window run on |queries| x 10 rows —
    the shortlist join back to embeddings broadcasts the tiny shortlist,
    so the rerank adds one corpus scan and no corpus shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _exact_rerank(_fitted_shortlist(emb), emb)


def _recall_gain_oracle() -> str:
    cos = _IVF_COS.format(a="q.embedding", b="e.embedding")
    return f"""
    WITH shortlist AS (
      SELECT * FROM ({_ivfpq_serve_oracle(_SHORTLIST_K)}) s
    ),
    reranked AS (
      SELECT query_id, candidate_id FROM (
        SELECT s.query_id, s.candidate_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY {_IVF_COS.format(a="eq.embedding", b="ec.embedding")}
                   DESC, s.candidate_id) AS rr
        FROM shortlist s
        JOIN embeddings eq ON eq.vec_id = s.query_id
        JOIN embeddings ec ON ec.vec_id = s.candidate_id
      ) WHERE rr <= {_RERANK_K}
    ),
    exact AS (
      SELECT q.vec_id AS query_id, e.vec_id AS candidate_id
      FROM embeddings q, embeddings e
      WHERE q.vec_id < 50 AND e.vec_id <> q.vec_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY {cos} DESC, e.vec_id) <= {_RERANK_K}
    ),
    hits AS (
      SELECT x.query_id,
             SUM(CASE WHEN a.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
               AS adc_hits,
             SUM(CASE WHEN r.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
               AS rerank_hits
      FROM exact x
      LEFT JOIN shortlist a ON a.query_id = x.query_id
        AND a.candidate_id = x.candidate_id AND a.rank <= {_RERANK_K}
      LEFT JOIN reranked r ON r.query_id = x.query_id
        AND r.candidate_id = x.candidate_id
      GROUP BY x.query_id
    )
    SELECT query_id,
           CAST(adc_hits AS DOUBLE) / {_RERANK_K}.0 AS recall_adc,
           CAST(rerank_hits AS DOUBLE) / {_RERANK_K}.0 AS recall_rerank
    FROM hits
    """


@register("rerank_recall_gain", _recall_gain_oracle(), eager=True)
def q_rerank_recall_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the exact re-rank earn its corpus scan? Per query: recall@3
    of the ADC-only top-3 vs the reranked top-3, both against the exact
    brute-force top-3. One shortlist computation (persisted — it is
    |queries| x 10 rows) serves the ADC leg, the rerank leg, and the
    comparison joins; the exact leg is the same broadcast-query corpus
    scan the recall QC family uses."""
    from mdio_python_spark.operators.vector_arrow import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    short = persist(_fitted_shortlist(emb))
    # round 10b: exact leg on the vectorized left-fold kernel
    # (bit-identical); eager=True — construction collects the query
    # sample (round-5 rule)
    exact = persist(
        cosine_topk_arrow(emb.where(F.col("vec_id") < 50), emb, k=_RERANK_K)
        .select("query_id", "candidate_id")
    )
    adc3 = short.where(F.col("rank") <= _RERANK_K).select(
        "query_id", "candidate_id", F.lit(1).alias("adc_hit")
    )
    rr3 = _exact_rerank(short, emb).select(
        "query_id", "candidate_id", F.lit(1).alias("rr_hit")
    )
    hits = (
        exact.join(adc3, ["query_id", "candidate_id"], "left")
        .join(rr3, ["query_id", "candidate_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("adc_hit", F.lit(0))).alias("adc_hits"),
            F.sum(F.coalesce("rr_hit", F.lit(0))).alias("rerank_hits"),
        )
    )
    out = hits.select(
        "query_id",
        (F.col("adc_hits").cast("double") / F.lit(float(_RERANK_K))).alias(
            "recall_adc"
        ),
        (F.col("rerank_hits").cast("double") / F.lit(float(_RERANK_K))).alias(
            "recall_rerank"
        ),
    )
    return own(out, "rerank_recall_gain", short, exact)


# int8 quantization: q_i = floor(v_i/scale + 0.5) clamped to [-127, 127],
# scale = max|v|/127 — every step an IEEE double op both engines evaluate
# identically; the error fold is the repo's standard left fold.
_Q8 = (
    "GREATEST(-127.0, LEAST(127.0, "
    "floor(CAST({v} AS DOUBLE) / sc + 0.5)))"
)


def _int8_oracle() -> str:
    q = _Q8.format(v="embedding[i]")
    err = f"(CAST(embedding[i] AS DOUBLE) - {q} * sc)"
    raw = "floor(abs(CAST(embedding[i] AS DOUBLE)) / sc + 0.5)"
    return f"""
    WITH scaled AS (
      SELECT vec_id, embedding,
             list_aggregate(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS sc
      FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN sc = 0 THEN CAST(0.0 AS DOUBLE) ELSE sc END AS quant_scale,
           CASE WHEN sc = 0 THEN CAST(0.0 AS DOUBLE) ELSE
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(embedding)),
                 i -> {err} * {err})), (x, y) -> x + y)
             / len(embedding) END AS mse,
           CASE WHEN sc = 0 THEN CAST(0.0 AS DOUBLE) ELSE
             list_aggregate(list_transform(generate_series(1, len(embedding)),
               i -> abs({err})), 'max') END AS max_abs_err,
           CASE WHEN sc = 0 THEN CAST(0 AS BIGINT) ELSE
             CAST(len(list_filter(generate_series(1, len(embedding)),
               i -> {raw} > 127.0)) AS BIGINT) END AS n_clipped
    FROM scaled
    """


@register("int8_quant_error", _int8_oracle())
def q_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization QC: scale = max|v|/127,
    q = round-half-up(v/scale) clamped to [-127, 127]; reports the
    reconstruction MSE, max abs error, and how many elements the clamp
    touched. Pure projection (zero shuffles, zero joins) — the shape of
    a full-corpus compression audit before shipping a 4x-smaller
    embedding store. Zero vectors (scale 0) quantize to themselves with
    zero error rather than dividing by zero.

    ``n_clipped`` is a clamp INVARIANT, not a distribution statistic:
    under max-abs scaling every |v|/scale <= 127 by construction, so
    floor(|v|/scale + 0.5) <= 127 and the column is provably 0 for every
    row (a 1-ULP division error cannot reach the 127.5 threshold). It is
    reported because the production variants of this audit swap in
    percentile-based scales (e.g. p99.9/127), where clipping is real —
    any nonzero value under max-abs scaling means the quantizer itself
    is broken (advisor r6: documented as expected-0 rather than
    parameterized, to keep the committed oracle and 3-SF sweep rows
    stable)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = lambda x: x.cast("double")  # noqa: E731
    sc = (
        F.array_max(F.transform("embedding", lambda x: F.abs(v(x)))) / F.lit(127.0)
    ).alias("sc")
    scaled = emb.select("vec_id", "embedding", sc)
    scv = F.col("sc")

    def q8(x):
        return F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(v(x) / scv + F.lit(0.5)).cast("double")),
        )

    def err(x):
        return v(x) - q8(x) * scv

    zero = scv == 0
    mse = (
        F.aggregate(
            F.transform("embedding", lambda x: err(x) * err(x)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        / F.size("embedding")
    )
    max_err = F.array_max(F.transform("embedding", lambda x: F.abs(err(x))))
    clipped = F.size(
        F.filter(
            "embedding",
            lambda x: F.floor(F.abs(v(x)) / scv + F.lit(0.5)).cast("double")
            > F.lit(127.0),
        )
    ).cast("long")
    return scaled.select(
        "vec_id",
        F.when(zero, F.lit(0.0)).otherwise(scv).alias("quant_scale"),
        F.when(zero, F.lit(0.0)).otherwise(mse).alias("mse"),
        F.when(zero, F.lit(0.0)).otherwise(max_err).alias("max_abs_err"),
        F.when(zero, F.lit(0).cast("long")).otherwise(clipped).alias("n_clipped"),
    )


_MIX_FRACTION = 0.5  # train on half the corpus' tokens


def _mixing_oracle() -> str:
    return f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT {sql_dsum("sqrt(CAST(n_tokens AS DOUBLE))", 8)} AS w_total,
             CAST(SUM(n_tokens) AS BIGINT) AS tok_total
      FROM counts
    )
    SELECT source, n_docs, n_tokens,
           sqrt(CAST(n_tokens AS DOUBLE)) / w_total AS token_share,
           CAST(floor(floor({_MIX_FRACTION} * CAST(tok_total AS DOUBLE))
                * (sqrt(CAST(n_tokens AS DOUBLE)) / w_total)) AS BIGINT)
             AS alloc_tokens,
           CAST(floor(floor({_MIX_FRACTION} * CAST(tok_total AS DOUBLE))
                * (sqrt(CAST(n_tokens AS DOUBLE)) / w_total)) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE) AS epochs
    FROM counts, tot
    """


@register("token_budget_allocation", _mixing_oracle())
def q_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: allocate a training token budget (half the corpus)
    across sources by alpha=0.5 temperature shares — small sources are
    up-weighted, large ones capped, epochs-per-source fall out as
    allocation / available. One combinable corpus agg to a
    sources-sized table; the share denominator is an order-independent
    decimal sum of sqrt weights (sqrt because alpha=0.5 stays
    IEEE-correctly-rounded cross-engine — the temperature_resample
    rule). The tiny per-source rollup is persisted before the total
    fork so the corpus DAG runs once (the asof_staleness_buckets
    rule)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    counts = persist(
        docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(toks)).alias("n_tokens"),
        )
    )
    w = F.sqrt(F.col("n_tokens").cast("double"))
    tot = counts.agg(
        F.sum(dec(w, 8)).cast("double").alias("w_total"),
        F.sum("n_tokens").alias("tok_total"),
    )
    budget = F.floor(F.lit(_MIX_FRACTION) * F.col("tok_total").cast("double"))
    share = w / F.col("w_total")
    alloc = F.floor(budget.cast("double") * share)
    out = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        alloc.cast("bigint").alias("alloc_tokens"),
        (alloc.cast("double") / F.col("n_tokens").cast("double")).alias("epochs"),
    )
    return own(out, "token_budget_allocation", counts)


def _pii_oracle() -> str:
    url = "len(regexp_extract_all(text, 'https?://[^\\s]+'))"
    email = (
        "len(regexp_extract_all(text,"
        " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))"
    )
    phone = (
        "len(regexp_extract_all(text, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b'))"
    )
    return f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM({url}) AS BIGINT) AS n_urls,
           CAST(SUM({email}) AS BIGINT) AS n_emails,
           CAST(SUM({phone}) AS BIGINT) AS n_phones,
           CAST(SUM(CASE WHEN {url} + {email} + {phone} > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           CAST(SUM({url} + {email} + {phone}) AS DOUBLE) * 1000.0
             / CAST(COUNT(*) AS DOUBLE) AS pii_per_kdoc
    FROM documents GROUP BY source
    """


@register("pii_density_by_source", _pii_oracle())
def q_pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction triage: per ingestion source, URL/email/phone span
    counts, affected-document count, and spans per thousand docs — which
    sources need PII attention (same regex set as ``text_redaction``).
    One combinable groupBy; regex counting happens in the scan stage."""
    from mdio_python_spark.operators.text import EMAIL_RE, PHONE_RE, URL_RE

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    url = F.regexp_count(t, F.lit(URL_RE)).cast("long")
    email = F.regexp_count(t, F.lit(EMAIL_RE)).cast("long")
    phone = F.regexp_count(t, F.lit(PHONE_RE)).cast("long")
    per_doc = docs.select(
        "source",
        url.alias("u"),
        email.alias("e"),
        phone.alias("p"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("u").alias("n_urls"),
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum(
            ((F.col("u") + F.col("e") + F.col("p")) > 0).cast("long")
        ).alias("n_docs_with_pii"),
        (
            F.sum(F.col("u") + F.col("e") + F.col("p")).cast("double")
            * F.lit(1000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("pii_per_kdoc"),
    )


# ---------------------------------------------------------------------------
# int8 quantization clip sweep (round 7, advisor r6 follow-through)
# ---------------------------------------------------------------------------

# int8_quant_error's per-vector max-abs scale makes n_clipped a provable
# invariant (always 0). This is the variant where the clamp CARRIES
# information: one GLOBAL scale per method — the exact max, p99.9, and
# p99 rank statistics of |v| over every embedding element — so the tail
# above each percentile genuinely clips, and the table answers the real
# deployment question: how much reconstruction error does a tighter
# (more resolution per bucket) scale buy, at what clip rate.


def _clip_sweep_oracle() -> str:
    # exact decimal MSE sum, via the source_centroid_cosine quantization
    # pattern: err quantizes to an integer IN DOUBLE SPACE first
    # (floor(err*1e9 + 0.5) — identical IEEE ops in both engines; a
    # direct double->DECIMAL(18,9) cast rounds differently in Spark's
    # BigDecimal vs DuckDB's multiply-and-round and drifted the sum's
    # 15th digit), then integer-exact decimal squares/sums, then two
    # IEEE ops (divide by n, unscale by 1e18) at the end.
    d9 = "CAST(floor(err * 1000000000.0 + 0.5) AS DECIMAL(19,0))"
    # NULL elements are filtered on BOTH sides (advisor r7): Spark's
    # repartitionByRange/sort ranks nulls first while DuckDB's ORDER BY
    # ranks them last, so an unfiltered stream would disagree on both n
    # and the value at rank ceil(q*n). The generated data has no nulls;
    # the filter makes the invariant independent of data shape.
    return f"""
    WITH el AS (
      SELECT v FROM (
        SELECT CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
      ) WHERE v IS NOT NULL
    ),
    nn AS (SELECT COUNT(*) AS n FROM el),
    ranked AS (
      SELECT abs(v) AS av, ROW_NUMBER() OVER (ORDER BY abs(v)) AS rn FROM el
    ),
    thr AS (
      SELECT 'maxabs' AS method, av / 127.0 AS s
      FROM ranked, nn WHERE rn = n
      UNION ALL
      SELECT 'p999', av / 127.0
      FROM ranked, nn WHERE rn = CAST(ceil(0.999 * n) AS BIGINT)
      UNION ALL
      SELECT 'p99', av / 127.0
      FROM ranked, nn WHERE rn = CAST(ceil(0.99 * n) AS BIGINT)
    ),
    erred AS (
      SELECT method, s, v,
             v - GREATEST(-127.0, LEAST(127.0, floor(v / s + 0.5))) * s AS err,
             CASE WHEN floor(v / s + 0.5) > 127.0
                    OR floor(v / s + 0.5) < -127.0 THEN 1 ELSE 0 END AS clip
      FROM el, thr WHERE s > 0
    )
    SELECT method, s AS quant_scale,
           CAST(COUNT(*) AS BIGINT) AS n_elements,
           CAST(SUM(clip) AS BIGINT) AS n_clipped,
           CAST(SUM(clip) AS DOUBLE) / COUNT(*) AS clip_rate,
           CAST(CAST(SUM(CAST({d9} * {d9} AS DECIMAL(38,0))) AS VARCHAR)
                AS DOUBLE) / COUNT(*) / 1e18 AS mse
    FROM erred GROUP BY method, s
    """


@register("int8_quant_clip_sweep", _clip_sweep_oracle(), eager=True)
def q_int8_quant_clip_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization under GLOBAL rank-statistic scales —
    exact max / p99.9 / p99 of |v| over all embedding elements — with
    the clip count, clip rate, and exact-decimal MSE per method. The
    companion to int8_quant_error (whose per-vector max-abs scale makes
    clipping impossible by construction; advisor r6): here the tail
    above each percentile genuinely clips, so the table carries the
    resolution-vs-saturation trade a quantized embedding store is
    actually tuned by.

    The kth order statistic is EXACT, not approximate: the element
    |v| stream gets a range-partitioned global ordinal
    (ranking.distributed_ordinal — no single-partition exchange, no
    global window) and the k-th row's value is collected as a plan
    literal; ties don't matter because the VALUE at rank k is unique
    under order-by-value. k = ceil(q * n) computed with the same IEEE
    double multiply in the Python driver and the DuckDB oracle. The
    audit pass is then ONE combinable aggregate over the exploded
    elements with all three scales as plan literals (one scan, zero
    joins); MSE sums quantize err to integers in double space
    (floor(err*1e9+0.5) — the source_centroid_cosine pattern) before the
    exact DECIMAL(38,0) square-sum, because a direct double->DECIMAL(18,9)
    cast rounds differently across engines (measured 15th-digit drift).

    eager=True: construction runs the count + ordinal jobs (corpus-
    scale), so the bench clock must start before the builder.

    Scale shape: explode -> one range exchange (ordinal) + one
    combinable agg; both linear in elements, no pairwise anything.
    Degenerate inputs (advisor r7): an EMPTY element stream (n = 0, so
    every rank target is 0 and no ordinal exists) and an all-zero corpus
    (s = 0 for every method) both short-circuit to an empty result with
    the output schema — mirroring the oracle, whose thr CTE matches no
    rank / fails WHERE s > 0. NULL elements are dropped before n is
    counted (oracle mirrored; engines disagree on null sort order)."""
    import math

    from mdio_python_spark.operators.ranking import distributed_ordinal

    emb = load_table(spark, sf_dir, "embeddings")
    el = (
        emb.select(F.explode("embedding").alias("v0"))
        .select(F.col("v0").cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    empty_schema = (
        "method string, quant_scale double, n_elements bigint, "
        "n_clipped bigint, clip_rate double, mse double"
    )
    n = el.count()
    if n == 0:
        return spark.createDataFrame([], empty_schema)
    ks = {
        "maxabs": n,
        "p999": int(math.ceil(0.999 * n)),
        "p99": int(math.ceil(0.99 * n)),
    }
    ordin = distributed_ordinal(
        el.select(F.abs("v").alias("av")), ["av"], scope="pipeline.clip_sweep"
    )
    by_k = {
        r["_ordinal"]: r["av"]
        for r in ordin.where(
            F.col("_ordinal").isin([int(k) for k in ks.values()])
        ).collect()
    }
    scales = {m: by_k[k] / 127.0 for m, k in ks.items() if k in by_k}
    scales = {m: s for m, s in scales.items() if s > 0}
    if not scales:
        return spark.createDataFrame([], empty_schema)

    aggs = [F.count(F.lit(1)).alias("n_el")]
    for m, s in scales.items():
        sc = F.lit(float(s))
        q_unc = F.floor(F.col("v") / sc + F.lit(0.5)).cast("double")
        q = F.greatest(F.lit(-127.0), F.least(F.lit(127.0), q_unc))
        err = F.col("v") - q * sc
        clip = ((q_unc > F.lit(127.0)) | (q_unc < F.lit(-127.0))).cast("long")
        d9 = F.floor(err * F.lit(1e9) + F.lit(0.5)).cast("decimal(19,0)")
        aggs.append(F.sum(clip).alias(f"nc_{m}"))
        aggs.append(F.sum((d9 * d9).cast("decimal(38,0)")).alias(f"sq_{m}"))
    row = el.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(m).alias("method"),
                F.lit(float(s)).alias("quant_scale"),
                F.col(f"nc_{m}").cast("bigint").alias("n_clipped"),
                F.col(f"sq_{m}").alias("_sq"),
            )
            for m, s in scales.items()
        ]
    )
    return row.select(F.col("n_el"), F.explode(entries).alias("e")).select(
        F.col("e.method").alias("method"),
        F.col("e.quant_scale").alias("quant_scale"),
        F.col("n_el").cast("bigint").alias("n_elements"),
        F.col("e.n_clipped").alias("n_clipped"),
        (F.col("e.n_clipped").cast("double") / F.col("n_el")).alias("clip_rate"),
        (F.col("e._sq").cast("double") / F.col("n_el") / F.lit(1e18)).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Multiprobe kNN graph (round 8, VERDICT r7 item 1)
# ---------------------------------------------------------------------------


def _multiprobe_hubness_oracle(nprobe: int = 4, cap: int = 1024, k: int = 10) -> str:
    """Hubness oracle for the FIT-ONCE multiprobe graph: artifact
    centroids (read_parquet, the fitted-family convention), top-1-cell
    membership with the ascending-id cap, top-``nprobe`` probe cells per
    query, exact fold-cosine rerank, in-degree distribution over ALL
    vectors (zero-norm rows count as in-degree 0)."""
    from mdio_python_spark.plans.llm_queries import _DOT, _artifact_cent_cte

    cos_cent = _IVF_COS.format(a="v.embedding", b="cent_vec")
    cos_pair = _IVF_COS.format(a="p.q_vec", b="a.embedding")
    return f"""
    WITH {_artifact_cent_cte()},
    live AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_DOT.format(a="embedding", b="embedding")} > 0
    ),
    members AS (
      SELECT vec_id, embedding, cell,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
      FROM (
        SELECT v.vec_id, v.embedding, CAST(cid AS BIGINT) AS cell
        FROM live v, cent
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY v.vec_id ORDER BY {cos_cent} DESC, cid) = 1
      )
    ),
    probes AS (
      SELECT v.vec_id AS query_id, v.embedding AS q_vec,
             CAST(cid AS BIGINT) AS cell
      FROM live v, cent
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY v.vec_id ORDER BY {cos_cent} DESC, cid) <= {nprobe}
    ),
    topk AS (
      SELECT query_id, candidate_id FROM (
        SELECT p.query_id, a.vec_id AS candidate_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {cos_pair} DESC, a.vec_id) AS rnk
        FROM probes p JOIN members a
          ON a.cell = p.cell AND a.vec_id <> p.query_id AND a.rn <= {cap}
      ) WHERE rnk <= {k}
    ),
    indeg AS (SELECT candidate_id, COUNT(*) AS n FROM topk GROUP BY candidate_id),
    deg AS (
      SELECT e.vec_id, COALESCE(i.n, 0) AS in_degree
      FROM embeddings e LEFT JOIN indeg i ON i.candidate_id = e.vec_id
    )
    SELECT CAST(in_degree AS BIGINT) AS in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM deg GROUP BY in_degree
    """


@register("knn_graph_hubness_multiprobe", _multiprobe_hubness_oracle())
def q_knn_graph_hubness_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness QC of the kNN graph under the FIT-ONCE/FIXED-INDEX
    deployment shape (VERDICT r7 item 1): candidates come from each
    point's top-4 fitted-IVF cells (model_store artifact centroids,
    nobody refits per run) with exact-cosine rerank and the ascending-id
    hot-cell cap. The complexity contrast with knn_graph_hubness_scaled
    is the point: a FIXED index makes assignment (n x kc) and candidate
    cost (n x nprobe x cap, once cells fill past the cap) both LINEAR
    in the corpus — the flat-curve/bounded-recall end of the trade,
    where the sqrt(n) config re-sizes the index and pays ~n^1.5 for
    recall that grows with the corpus. Both rows sit in the stress set
    so the curves are measured side by side.

    Executes on the Arrow kernels (vector_arrow.knn_graph_multiprobe_arrow,
    cogrouped per cell + one WindowGroupLimit merge of the <= nprobe*k
    cell-local candidates); gated by the DuckDB oracle here at 3 SFs and
    the pure-Python fold reference in tests/test_vector_arrow.py."""
    from mdio_python_spark.operators import vector_arrow
    from mdio_python_spark.operators.model_store import load_ivf_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    g = vector_arrow.knn_graph_multiprobe_arrow(
        emb, k=10, nprobe=4, centroids=load_ivf_centroids()
    )
    indeg = g.groupBy("candidate_id").agg(F.count(F.lit(1)).alias("_n"))
    deg = (
        emb.select("vec_id")
        .join(indeg.withColumnRenamed("candidate_id", "vec_id"), "vec_id", "left")
        .select(
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("in_degree")
        )
    )
    return deg.groupBy("in_degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )


# ---------------------------------------------------------------------------
# Multi-file ingest over the merged store (round 8, VERDICT r7 item 7)
# ---------------------------------------------------------------------------

# Per-inline rollup of a TWO-FILE merged store where the cube geometry
# derives from the nation x region dims and samples are exact small
# integers ((il*31 + xl*7 + i) % 97 — representable in float32, summed
# exactly in double), so DuckDB can recompute the merged-store content
# from the same tables without ever seeing a SEG-Y byte.
_MULTIFILE_ORACLE = """
SELECT CAST(n.n_nationkey + 1 AS BIGINT) AS inline,
       CAST(CASE WHEN n.n_nationkey + 1 <= 12 THEN 0 ELSE 1 END AS INTEGER)
         AS source_file,
       CAST(COUNT(DISTINCT r.r_regionkey) AS BIGINT) AS n_traces,
       CAST(SUM(((n.n_nationkey + 1) * 31 + (r.r_regionkey + 1) * 7 + g.i) % 97)
            AS DOUBLE) AS sample_sum
FROM nation n
CROSS JOIN region r
CROSS JOIN generate_series(0, 7) g(i)
GROUP BY n.n_nationkey
"""


@register("multifile_ingest_grid", _MULTIFILE_ORACLE, bench=False)
def q_multifile_ingest_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file SEG-Y ingest end-to-end, ORACLE-PAIRED: two slabs of
    one survey (inlines 1-12 / 13-25, crosslines from region) are
    written as separate SEG-Y files, merged into ONE store by
    ``segy_to_store(paths=[...])`` (per-file S1 validation, prefix-sum
    global ordinals, source_file provenance), and the merged store is
    rolled up per inline. Because the cube's geometry and samples are
    pure integer arithmetic over nation x region, DuckDB recomputes the
    identical table from the dims alone — the ingest/merge machinery is
    the thing under test. bench=False: fixed 25x5 geometry at every sf
    (the dims don't scale), like the other pipeline-roundtrip smokes.
    Byte-level per-file roundtrips are pinned by
    tests/test_multifile_ingest.py."""
    import os
    import tempfile

    from mdio_python_spark.pipelines.ingest import segy_to_store
    from mdio_python_spark.schemas import default_registry
    from mdio_python_spark.sources import segy
    from mdio_python_spark.sources.store import open_store

    ns = 8
    nation = load_table(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 1).cast("long").alias("inline")
    )
    region = load_table(spark, sf_dir, "region").select(
        (F.col("r_regionkey") + 1).cast("long").alias("crossline")
    )
    samples = F.transform(
        F.sequence(F.lit(0), F.lit(ns - 1)),
        lambda i: (
            (F.col("inline") * 31 + F.col("crossline") * 7 + i) % 97
        ).cast("float"),
    )
    cube = nation.crossJoin(region).withColumns(
        {
            "cdp_x": F.lit(700000) + F.col("inline") * 100 + F.col("crossline") * 3,
            "cdp_y": F.lit(900000) + F.col("crossline") * 100 - F.col("inline") * 2,
            "samples": samples,
        }
    )
    tmp = tempfile.mkdtemp(prefix="multifile-ingest-")
    paths = [os.path.join(tmp, "slab_a.sgy"), os.path.join(tmp, "slab_b.sgy")]
    spec = segy.SegyWriteSpec(
        samples_per_trace=ns, sample_interval=2000, data_format=5
    )
    for path, pred in zip(
        paths, [F.col("inline") <= 12, F.col("inline") > 12]
    ):
        segy.write_segy(
            cube.where(pred),
            path,
            order_by=["inline", "crossline"],
            write_spec=spec,
            header_fields=["inline", "crossline", "cdp_x", "cdp_y"],
        )
    store_path = os.path.join(tmp, "store")
    segy_to_store(
        spark, paths, store_path, default_registry().get("PostStack3DTime")
    )
    st = open_store(spark, store_path)
    return (
        st.traces.select(
            "inline", "source_file", F.explode("samples").alias("amp")
        )
        .groupBy("inline")
        .agg(
            F.min("source_file").cast("int").alias("source_file"),
            (F.count(F.lit(1)) / F.lit(ns)).cast("bigint").alias("n_traces"),
            F.sum(F.col("amp").cast("double")).alias("sample_sum"),
        )
        .select("inline", "source_file", "n_traces", "sample_sum")
    )
