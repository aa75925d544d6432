"""Summary statistics (A1) — the reference's statsV1.

Reference semantics (``src/mdio/segy/_workers.py:179-194``): statistics are
computed over **nonzero** samples only; partials (count/min/max/sum/
sumSquares) are merged on the driver (``src/mdio/segy/blocked_io.py:41-51``).

Spark gives partial+final aggregation automatically; one ``df.agg`` is the
whole operator, and it scales to any cluster width with a single reduce.
Derived mean/std are computed from the exact sums (see
``functions.determinism``) so results are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mdio_python_spark.functions.determinism import dsum, dsum_sq


def summary_statistics(
    df: DataFrame,
    value_col: str,
    nonzero_only: bool = True,
    scale: int = 4,
) -> DataFrame:
    """One-row DataFrame: count / min / max / sum / sum_squares / mean / std.

    ``nonzero_only=True`` reproduces the reference's zero-masking.
    """
    col = F.col(value_col)
    if nonzero_only:
        df = df.where(col != 0)
    agg = df.agg(
        F.count(col).alias("count"),
        F.min(col).cast("double").alias("min"),
        F.max(col).cast("double").alias("max"),
        dsum(col, scale).alias("sum"),
        dsum_sq(col, scale).alias("sum_squares"),
    )
    # mean/std from exact sums: identical IEEE double ops in any engine.
    n = F.col("count").cast("double")
    mean = F.col("sum") / n
    var = (F.col("sum_squares") - (F.col("sum") * F.col("sum")) / n) / (n - F.lit(1.0))
    return agg.select(
        "count",
        "min",
        "max",
        "sum",
        "sum_squares",
        mean.alias("mean"),
        F.sqrt(var).alias("std"),
    )


def grid_sparsity(df: DataFrame, dims: list[str]) -> DataFrame:
    """Grid sparsity QC (A6): cells(grid) / live traces.

    Reference: ``src/mdio/ingestion/grid_qc.py:19-69`` (warn > 2.0,
    error > 10.0). Returns the ratio plus its inputs; thresholding is a
    driver-side policy decision, as in the reference.
    """
    cells: Column = F.lit(1).cast("long")
    aggs = [F.count_distinct(F.col(d)).alias(f"card_{d}") for d in dims]
    out = df.agg(*aggs, F.count(F.lit(1)).alias("num_traces"))
    for d in dims:
        cells = cells * F.col(f"card_{d}")
    return out.select(
        *[f"card_{d}" for d in dims],
        "num_traces",
        cells.alias("grid_cells"),
        (cells.cast("double") / F.col("num_traces")).alias("sparsity_ratio"),
    )


def exact_group_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    id_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact per-group discrete quantiles: the element at rank
    ``ceil(q * n)`` under the total order ``(value, id)``.

    Discrete (lower) quantiles are chosen over interpolating percentiles
    deliberately: the rank is pure integer arithmetic, so the result is an
    actual corpus value and bit-identical across engines — interpolation
    formulas differ subtly between implementations (see
    ``plans/llm_queries.py::dataset_card_stats`` for the same policy on
    medians).

    Scale shape (round 5): the rank comes from
    ``ranking.group_ranked`` — a range-partitioned two-phase ordinal
    over (keys, value, id) — NOT a ``row_number`` window partitioned by
    the group keys alone, which would squeeze the whole corpus through
    |groups| tasks (|lang| ≈ 5 partitions regardless of cluster size).
    The only non-map work is the range shuffle plus two combinable
    aggregates; the per-group (start, size) table broadcasts back.
    """
    from fractions import Fraction

    from mdio_python_spark.operators.caching import CACHE_ATTR, attach_cached
    from mdio_python_spark.operators.ranking import group_ranked

    joined = group_ranked(
        df.select(*keys, value_col, id_col),
        keys,
        [value_col, id_col],
        rank_col="_rn",
        count_col="_n",
        scope="stats.exact_group_quantiles",
    )
    aggs = [F.max("_n").alias("n_rows")]
    for q in qs:
        # limit_denominator keeps num*n inside int64 for any realistic
        # group size — a raw float ratio (0.9 -> 8106479329266893/2^53)
        # would overflow the rank arithmetic at _n >= ~1139
        frac = Fraction(q).limit_denominator(1_000_000)
        num, den = frac.numerator, frac.denominator
        # ceil(q*n) = (num*n + den - 1) div den, exactly, in integers
        rank = F.expr(f"({num} * _n + {den} - 1) div {den}")
        aggs.append(
            F.max(F.when(F.col("_rn") == rank, F.col(value_col))).alias(
                f"p{round(q * 100)}"
            )
        )
    out = joined.groupBy(*keys).agg(*aggs)
    return attach_cached(out, *getattr(joined, CACHE_ATTR, []))


# HyperLogLog constants: m registers, hash64 gives 60 bits -> 8-bit
# bucket + 52-bit register stream; contributions are scaled by 2^53 so
# the harmonic-mean denominator sums EXACTLY in int64 (order-free).
HLL_M = 256
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_HLL_POW = 9007199254740992.0  # 2^53


def _hll_lc_table() -> list[float]:
    """Small-range (linear counting) correction values ``ln(m / n_zero)``
    for n_zero = 1..m, precomputed in Python and baked as plan literals in
    BOTH engines — ``ln`` is a transcendental whose last-ulp rounding the
    JVM and DuckDB need not agree on, so it must never be evaluated
    engine-side in a declared query (same policy as the PQ ADC tables)."""
    import math

    return [math.log(HLL_M / nz) for nz in range(1, HLL_M + 1)]


def hll_distinct(
    df: DataFrame, keys: list[str], col: str, salt: str = "hll"
) -> DataFrame:
    """Deterministic HyperLogLog distinct-count estimate per group
    (Flajolet et al. 2007, raw estimator, m=256 -> ~6.5% typical error).

    Engineered for exactness-of-the-estimate across engines, which
    stock HLL implementations can't give: the register update is
    ``max`` (order-free), the register position comes from integer bit
    arithmetic (``53 - bitlen(h / 256)`` via the ``bin()`` string — no
    transcendental log), and each register's harmonic contribution
    ``2^-reg`` is summed as the exact integer ``1 << (53 - reg)`` so
    partial-agg order cannot perturb the double result. Only the final
    ``alpha * m^2 / denom`` runs in floating point — three IEEE ops both
    engines evaluate identically. The small-range (linear counting)
    correction applies through a precomputed literal ``ln`` table
    (:func:`_hll_lc_table`) — transcendentals never evaluate engine-side.

    Scale shape: one combinable groupBy (keys, bucket) -> max register
    (the sketch: m small ints per group), then a tiny per-key rollup —
    no distinct, no sort, no window. THE way to count distincts at
    100 TB when exact is too expensive.

    NULL values of ``col`` are filtered out first — COUNT(DISTINCT)
    semantics ignore NULL, and an unfiltered NULL would otherwise add a
    NULL-bucket register row that inflates ``_n_present`` (deflating
    ``n_zero``) and perturbs the estimate.
    """
    regs = (
        df.where(F.col(col).isNotNull())
        .select(*keys, *hll_register_exprs(col, salt))
        .groupBy(*keys, "_bucket")
        .agg(F.max("_rho").alias("_reg"))
    )
    return hll_finalize(regs, keys)


def hll_register_exprs(col: str, salt: str = "hll") -> tuple[Column, Column]:
    """The sketch's scan-stage projections: ``(_bucket, _rho)`` for one
    value. Split out so streaming jobs can run the (keys, bucket) -> max
    register aggregate incrementally (max is a streaming-safe agg) and
    finalize with :func:`hll_finalize` on the materialized result."""
    from mdio_python_spark.functions.scalars import hash64

    h = hash64(F.concat(F.lit(salt), F.col(col).cast("string")))
    # top 52 bits via bit shift — h can exceed 2^53, so a double-typed
    # division would lose low bits; h >= 0 makes >> equal to // 256
    w = F.shiftright(h, 8)
    rho = F.when(w == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(w))
    )
    return F.pmod(h, F.lit(HLL_M)).alias("_bucket"), rho.alias("_rho")


def hll_finalize(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Estimate from materialized registers ``(keys..., _bucket, _reg)``
    (output of a batch or streaming max-register aggregate)."""
    per_key = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n_present"),
        # shiftleft with a column bit count only exists as the SQL builtin
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - _reg)")).alias("_s"),
    )
    n_zero = F.lit(HLL_M) - F.col("_n_present")
    denom = n_zero.cast("double") + (
        F.col("_s").cast("double") / F.lit(_HLL_POW)
    )
    raw = F.lit(_HLL_ALPHA * HLL_M * HLL_M) / denom
    lc = F.lit(float(HLL_M)) * F.element_at(
        F.array(*[F.lit(v) for v in _hll_lc_table()]), n_zero.cast("int")
    )
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (n_zero > 0), lc).otherwise(raw)
    return per_key.select(*keys, est.alias("hll_estimate"))


def sql_hll_distinct(
    table: str, keys: list[str], col: str, salt: str = "hll"
) -> str:
    """DuckDB twin of :func:`hll_distinct` (same integer register math,
    same three final IEEE ops). Returns a full SELECT."""
    from mdio_python_spark.functions.scalars import sql_hash64

    k = ", ".join(keys)
    h = sql_hash64(f"'{salt}' || CAST({col} AS VARCHAR)")
    return f"""
    WITH rho AS (
      SELECT {k}, {h} % {HLL_M} AS bucket,
             CASE WHEN {h} // {HLL_M} = 0 THEN 53
                  ELSE 53 - length(bin({h} // {HLL_M})) END AS rho
      FROM {table} WHERE {col} IS NOT NULL
    ),
    regs AS (
      SELECT {k}, bucket, MAX(rho) AS reg FROM rho GROUP BY {k}, bucket
    ),
    per_key AS (
      SELECT {k}, COUNT(*) AS n_present,
             CAST(SUM(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS s
      FROM regs GROUP BY {k}
    ),
    scored AS (
      SELECT {k}, {HLL_M} - n_present AS n_zero,
             CAST('{_HLL_ALPHA * HLL_M * HLL_M!r}' AS DOUBLE)
               / (CAST({HLL_M} - n_present AS DOUBLE)
                  + CAST(s AS DOUBLE) / {_HLL_POW!r}) AS raw
      FROM per_key
    )
    SELECT {k},
           CASE WHEN raw <= {2.5 * HLL_M!r} AND n_zero > 0
                THEN CAST('{float(HLL_M)!r}' AS DOUBLE) * ({_sql_lc_lookup()})
                ELSE raw END AS hll_estimate
    FROM scored
    """


def _sql_lc_lookup() -> str:
    """DuckDB list literal lookup matching the Spark element_at: every
    value goes through a VARCHAR cast so the literal parses as a
    correctly-rounded DOUBLE (bare decimal literals parse as DECIMAL)."""
    vals = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in _hll_lc_table())
    return f"list_extract([{vals}], n_zero)"


# Count-min sketch: d independent hash rows x w buckets of exact int64
# counts. Like hll_distinct, engineered so the ESTIMATE is deterministic
# and oracle-expressible: counts are integers, the estimate is an integer
# min — no floating point anywhere.
CMS_D = 4
CMS_W = 1024


def _cms_buckets(col: str, salt: str):
    """The d bucket projections an item hashes to (shared by build and
    lookup so the two sides can never drift)."""
    from mdio_python_spark.functions.scalars import hash64

    return F.array(
        *[
            F.pmod(
                hash64(F.concat(F.lit(f"{salt}{r}"), F.col(col).cast("string"))),
                F.lit(CMS_W),
            )
            for r in range(CMS_D)
        ]
    )


def countmin_cells(
    df: DataFrame, col: str, salt: str = "cms"
) -> DataFrame:
    """Build the count-min table: one row per (hash row, bucket) with its
    exact collision count (Cormode & Muthukrishnan 2005).

    Scale shape: the only corpus-sized work is the d-way posexplode into
    (r, bucket) pairs feeding ONE combinable groupBy that collapses to at
    most d*w cells (4096 here) — constant-size output no matter the
    corpus, the property that makes the sketch mergeable across
    partitions, days, or clusters by plain cell-wise addition."""
    cells = df.select(F.posexplode(_cms_buckets(col, salt)).alias("r", "bucket"))
    return cells.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cell_count"))


def countmin_lookup(
    items: DataFrame, cells: DataFrame, col: str, salt: str = "cms"
) -> DataFrame:
    """Point-query the sketch: estimate = min over the d cells an item
    hashes to. The cell table is <= d*w rows, so it broadcasts; the
    estimate is an integer min — never under the true count (one-sided
    error <= e/w * stream_length with prob 1 - e^-d).

    The probe side LEFT-joins the cells: an item hashing to a cell the
    stream never touched has a true count of 0 in that cell, so its
    estimate is 0 — an inner join would silently drop unseen items from
    the output (and overstate items with only SOME cells absent)."""
    probes = items.select(
        col, F.posexplode(_cms_buckets(col, salt)).alias("r", "bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"], "left")
        .groupBy(col)
        .agg(
            F.min(
                F.coalesce(F.col("cell_count"), F.lit(0).cast("long"))
            ).alias("cms_estimate")
        )
    )


def sql_countmin_ctes(
    stream_sql: str, items_cte: str, col: str, salt: str = "cms"
) -> str:
    """DuckDB CTE chain matching countmin_cells + countmin_lookup.
    ``stream_sql`` must select a ``{col}`` column (the token stream);
    ``items_cte`` names a CTE with the items to estimate. Emits CTEs
    ``cms_cells`` and ``cms_est(col, cms_estimate)``."""
    from mdio_python_spark.functions.scalars import sql_hash64

    def bucket(r: int, src: str) -> str:
        expr = f"'{salt}{r}' || CAST({src} AS VARCHAR)"
        return f"{sql_hash64(expr)} % {CMS_W}"

    probe_rows = " UNION ALL ".join(
        f"SELECT {col}, {r} AS r, {bucket(r, col)} AS bucket FROM {items_cte}"
        for r in range(CMS_D)
    )
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, {bucket(r, col)} AS bucket FROM ({stream_sql})"
        for r in range(CMS_D)
    )
    return f"""
    cms_cells AS (
      SELECT r, bucket, COUNT(*) AS cell_count
      FROM ({cell_rows}) GROUP BY r, bucket
    ),
    cms_probes AS ({probe_rows}),
    cms_est AS (
      SELECT p.{col}, CAST(MIN(COALESCE(c.cell_count, 0)) AS BIGINT)
               AS cms_estimate
      FROM cms_probes p
      LEFT JOIN cms_cells c ON c.r = p.r AND c.bucket = p.bucket
      GROUP BY p.{col}
    )"""


def table_digest(
    df: DataFrame, cols: list[str], n_buckets: int = 64, salt: str = "dig"
) -> DataFrame:
    """Bucketed content digest for cheap table reconciliation: rows hash
    to one of ``n_buckets`` buckets; each bucket reports its row count
    and the XOR of its row hashes. Two table versions (a replica, a
    migration output, yesterday's snapshot) compare by diffing
    ``n_buckets`` tiny rows — mismatched buckets localize WHERE the
    tables diverge without moving any data, and XOR is order- and
    partitioning-free (the anti-entropy pattern of Merkle-tree repair,
    flattened to one level).

    Scale shape: pure projection + one combinable groupBy to a
    constant-size result; the only caveat is XOR's blindness to
    duplicate-row pairs, which the per-bucket count covers for the
    common cases.

    Each column value is md5-hashed BEFORE the '|' join: raw
    concatenation would make ('a|b','c') and ('a','b|c') — or a literal
    NULL-sentinel string — collide invisibly. md5 digests are fixed
    32-hex-char tokens, so the joined string decomposes unambiguously;
    NULL maps to 'N', which no md5 digest can equal."""
    from mdio_python_spark.functions.scalars import hash64

    parts = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("N")) for c in cols
    ]
    row_hash = hash64(F.concat_ws("|", F.lit(salt), *parts))
    return (
        df.select(
            F.pmod(row_hash, F.lit(n_buckets)).alias("bucket"),
            row_hash.alias("_h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_h)").alias("xor_digest"),
        )
    )


# Bloom filter: d hash rows over an m-bit array stored as int64 words
# via bit_or — mergeable across partitions/days/clusters by plain
# word-wise OR, all-integer, oracle-expressible. 63 bits per word (not
# 64): DuckDB's checked `<<` rejects 1 << 63, and losing 1/64 of the
# address space costs nothing.
BLOOM_D = 3
BLOOM_WORD_BITS = 63
BLOOM_WORDS = 1024
BLOOM_M = BLOOM_WORD_BITS * BLOOM_WORDS


def _bloom_positions(col: str, salt: str):
    from mdio_python_spark.functions.scalars import hash64

    return F.array(
        *[
            F.pmod(
                hash64(F.concat(F.lit(f"{salt}{r}"), F.col(col).cast("string"))),
                F.lit(BLOOM_M),
            )
            for r in range(BLOOM_D)
        ]
    )


def bloom_build(df: DataFrame, col: str, salt: str = "bloom") -> DataFrame:
    """Build the filter: one combinable groupBy collapsing the corpus to
    at most ``BLOOM_WORDS`` (word_idx, word_bits) rows (Bloom 1970).
    Like the HLL/CMS/digest family, the state is pure integers under an
    order-free reduction (bit_or), so the filter — and every probe
    against it — is bit-identical across engines and cluster sizes."""
    pos = df.select(F.explode(_bloom_positions(col, salt)).alias("pos"))
    return (
        pos.select(
            F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(_mask)").alias("word_bits"))
    )


def bloom_probe(
    items: DataFrame, words: DataFrame, col: str, salt: str = "bloom"
) -> DataFrame:
    """Membership query: ``maybe_present = 1`` iff ALL d bits are set
    (no false negatives; false-positive rate ~ fill^d). Items hashing to
    words NO build item touched are definite negatives — LEFT join +
    coalesce(0), the same absent-cell contract as ``countmin_lookup``.
    The word table broadcasts (<= 8 KiB of payload)."""
    probes = items.select(
        col, F.explode(_bloom_positions(col, salt)).alias("pos")
    ).select(
        col,
        F.expr(f"pos div {BLOOM_WORD_BITS}").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD_BITS} AS INT))"
        ).alias("_mask"),
    )
    hit = (
        F.coalesce(F.col("word_bits"), F.lit(0)).bitwiseAND(F.col("_mask"))
        != 0
    ).cast("int")
    return (
        probes.join(F.broadcast(words), "word_idx", "left")
        .groupBy(col)
        .agg(F.min(hit).alias("maybe_present"))
    )


def sql_bloom_ctes(build_sql: str, items_cte: str, col: str, salt: str = "bloom") -> str:
    """DuckDB CTE chain matching bloom_build + bloom_probe. ``build_sql``
    must select a ``{col}`` column; ``items_cte`` names the probe CTE.
    Emits ``bloom_words`` and ``bloom_probe(col, maybe_present)``."""
    from mdio_python_spark.functions.scalars import sql_hash64

    def pos(r: int, src: str) -> str:
        expr = f"'{salt}{r}' || CAST({src} AS VARCHAR)"
        return f"{sql_hash64(expr)} % {BLOOM_M}"

    build_rows = " UNION ALL ".join(
        f"SELECT {pos(r, col)} AS pos FROM ({build_sql})"
        for r in range(BLOOM_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT {col}, {pos(r, col)} AS pos FROM {items_cte}"
        for r in range(BLOOM_D)
    )
    return f"""
    bloom_words AS (
      SELECT pos // {BLOOM_WORD_BITS} AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INT))
               AS word_bits
      FROM ({build_rows}) GROUP BY word_idx
    ),
    bloom_probes AS ({probe_rows}),
    bloom_probe AS (
      SELECT p.{col},
             MIN(CASE WHEN COALESCE(w.word_bits, 0)
                           & (CAST(1 AS BIGINT)
                              << CAST(p.pos % {BLOOM_WORD_BITS} AS INT)) <> 0
                      THEN 1 ELSE 0 END) AS maybe_present
      FROM bloom_probes p
      LEFT JOIN bloom_words w ON w.word_idx = p.pos // {BLOOM_WORD_BITS}
      GROUP BY p.{col}
    )"""


def histogram_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bin_width: int = 64,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Fixed-bin histogram quantile sketch — the registered SCALE path
    beside :func:`exact_group_quantiles` (the exact audit form): one
    combinable groupBy collapses the corpus to |bins| rows per group;
    the quantile is reported as its bin's FLOOR, a guaranteed lower
    bound within ``bin_width`` of the exact discrete quantile. The only
    window runs over the tiny histogram (|bins| = value_range /
    bin_width rows per group — bounded by the value domain, NOT the
    corpus). All-integer, so bit-identical cross-engine at any scale.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    bin_col = F.expr(f"{value_col} div {bin_width}").alias("_bin")
    hist = df.groupBy(*keys, bin_col).agg(F.count(F.lit(1)).alias("_bn"))
    w = (
        Window.partitionBy(*keys)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("_cum", F.sum("_bn").over(w))
    totals = hist.groupBy(*keys).agg(F.sum("_bn").alias("_n"))
    joined = cum.join(F.broadcast(totals), list(keys))
    aggs = [F.max("_n").alias("n_rows")]
    for q in qs:
        frac = Fraction(q).limit_denominator(1_000_000)
        num, den = frac.numerator, frac.denominator
        rank = F.expr(f"({num} * _n + {den} - 1) div {den}")
        aggs.append(
            (
                F.min(F.when(F.col("_cum") >= rank, F.col("_bin")))
                * F.lit(bin_width)
            ).alias(f"p{round(q * 100)}_lb")
        )
    return joined.groupBy(*keys).agg(*aggs)


def sql_histogram_quantiles(
    table: str,
    keys: list[str],
    value_col: str,
    bin_width: int = 64,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` (full SELECT)."""
    from fractions import Fraction

    k = ", ".join(keys)
    q_cols = []
    for q in qs:
        frac = Fraction(q).limit_denominator(1_000_000)
        num, den = frac.numerator, frac.denominator
        q_cols.append(
            f"CAST(MIN(CASE WHEN _cum >= ({num} * _n + {den} - 1) // {den} "
            f"THEN _bin END) * {bin_width} AS BIGINT) AS p{round(q * 100)}_lb"
        )
    return f"""
    WITH hist AS (
      SELECT {k}, {value_col} // {bin_width} AS _bin, COUNT(*) AS _bn
      FROM {table} GROUP BY {k}, _bin
    ),
    cum AS (
      SELECT {k}, _bin, _bn,
             SUM(_bn) OVER (PARTITION BY {k} ORDER BY _bin
                            ROWS UNBOUNDED PRECEDING) AS _cum
      FROM hist
    ),
    totals AS (SELECT {k}, SUM(_bn) AS _n FROM hist GROUP BY {k})
    SELECT {k}, CAST(MAX(_n) AS BIGINT) AS n_rows, {", ".join(q_cols)}
    FROM cum JOIN totals USING ({k})
    GROUP BY {k}
    """


def sql_table_digest(
    table: str, cols: list[str], n_buckets: int = 64, salt: str = "dig"
) -> str:
    """DuckDB twin of :func:`table_digest`."""
    from mdio_python_spark.functions.scalars import sql_hash64

    parts = ", ".join(
        f"COALESCE(md5(CAST({c} AS VARCHAR)), 'N')" for c in cols
    )
    h = sql_hash64(f"concat_ws('|', '{salt}', {parts})")
    return f"""
    SELECT {h} % {n_buckets} AS bucket, COUNT(*) AS n_rows,
           bit_xor({h}) AS xor_digest
    FROM {table} GROUP BY bucket
    """
