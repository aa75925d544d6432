"""Declared-query registry: every implemented operator from SURVEY §2 gets a
(name -> Spark DataFrame builder, name -> DuckDB oracle SQL) pair here.

Conventions (driver contract, see /root/repo/__spark_entry__.py):
- each builder takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased identically in Spark and oracle SQL;
- float aggregates use exact-decimal determinism (functions.determinism);
- window functions always order by a total order (unique key tie-break);
- no raw TIMESTAMP columns in outputs (ns/us precision differs across
  engines) — we emit formatted strings or epoch numbers instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.plans.registry import register

from mdio_python_spark.functions.determinism import dec, dsum, sql_dsum, sql_dsum_sq
from mdio_python_spark.functions.scalars import apply_coordinate_scalar
from mdio_python_spark.operators import geometry, grid, index_transforms, stats
from mdio_python_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# A1 — summary statistics (statsV1, nonzero-masked)
# ---------------------------------------------------------------------------


@register(
    "summary_stats_nonzero",
    f"""
    WITH s AS (
      SELECT COUNT(l_extendedprice) AS count,
             CAST(MIN(l_extendedprice) AS DOUBLE) AS min,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS max,
             {sql_dsum("l_extendedprice")} AS sum,
             {sql_dsum_sq("l_extendedprice")} AS sum_squares
      FROM lineitem WHERE l_extendedprice <> 0
    )
    SELECT count, min, max, sum, sum_squares,
           sum / CAST(count AS DOUBLE) AS mean,
           sqrt((sum_squares - (sum * sum) / CAST(count AS DOUBLE))
                / (CAST(count AS DOUBLE) - 1.0)) AS std
    FROM s
    """,
)
def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (``src/mdio/segy/_workers.py:179-194``): nonzero-only stats with
    automatic partial/final aggregation."""
    return stats.summary_statistics(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", nonzero_only=True
    )


# ---------------------------------------------------------------------------
# TPC-H-style pricing summary (A1 + groupBy; the flagship query)
# ---------------------------------------------------------------------------

_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum("l_quantity")} AS sum_qty,
       {sql_dsum("l_extendedprice")} AS sum_base_price,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       COUNT(*) AS count_order,
       {sql_dsum("l_quantity")} / CAST(COUNT(*) AS DOUBLE) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", _PRICING_ORACLE)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(dec(disc_price)).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty", F.col("sum_qty") / F.col("count_order").cast("double")
        )
    )


# ---------------------------------------------------------------------------
# A2 — sorted distinct dim values (dim table build)
# ---------------------------------------------------------------------------


@register(
    "dim_distinct_values",
    """
    SELECT o_orderpriority,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority) - 1 AS BIGINT)
             AS o_orderpriority_idx
    FROM (SELECT DISTINCT o_orderpriority FROM orders)
    """,
)
def q_dim_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (``index_strategies.py:83-90``): np.unique -> distinct+sort."""
    return grid.dim_values(load_table(spark, sf_dir, "orders"), "o_orderpriority")


# ---------------------------------------------------------------------------
# J1 — grid cell assignment via broadcast dim joins
# ---------------------------------------------------------------------------


@register(
    "grid_assign_cells",
    """
    SELECT c_custkey, c_nationkey, c_mktsegment,
           CAST(DENSE_RANK() OVER (ORDER BY c_nationkey) - 1 AS BIGINT)
             AS c_nationkey_idx,
           CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT)
             AS c_mktsegment_idx
    FROM customer
    """,
)
def q_assign_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (``core/grid.py:95-146``): trace->cell via broadcast dim tables —
    zero shuffle of the big table (a dense_rank window would global-sort)."""
    cust = load_table(spark, sf_dir, "customer")
    return grid.assign_cells(cust, ["c_nationkey", "c_mktsegment"]).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "c_nationkey_idx",
        "c_mktsegment_idx",
    )


@register(
    "chunk_keys",
    """
    SELECT c_custkey,
           CAST(FLOOR((DENSE_RANK() OVER (ORDER BY c_nationkey) - 1) / 8.0)
                AS BIGINT) AS c_nationkey_chunk,
           CAST(FLOOR((DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1) / 2.0)
                AS BIGINT) AS c_mktsegment_chunk
    FROM customer
    """,
)
def q_chunk_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 analog: chunk-key assignment ``floor(dim_idx/chunk)`` — the
    store partition columns (template chunk shapes, ``builder/templates/*``)."""
    cust = load_table(spark, sf_dir, "customer")
    cells = grid.assign_cells(cust, ["c_nationkey", "c_mktsegment"])
    return grid.chunk_keys(cells, ["c_nationkey", "c_mktsegment"], [8, 2]).select(
        "c_custkey", "c_nationkey_chunk", "c_mktsegment_chunk"
    )


# ---------------------------------------------------------------------------
# J2 — coordinate gather (dedup-aggregate)
# ---------------------------------------------------------------------------


@register(
    "coordinate_gather",
    """
    SELECT o_custkey, MIN(o_totalprice) AS o_totalprice
    FROM orders GROUP BY o_custkey
    """,
)
def q_coordinate_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (``ingestion/coordinates.py:29-77``): reduce coords onto dims."""
    return grid.coordinate_gather(
        load_table(spark, sf_dir, "orders"), ["o_custkey"], ["o_totalprice"]
    )


# ---------------------------------------------------------------------------
# A3/A4 — geometry detectors
# ---------------------------------------------------------------------------


@register(
    "geometry_channel_ranges",
    """
    SELECT l_suppkey, MIN(l_partkey) AS chan_min, MAX(l_partkey) AS chan_max
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
)
def q_channel_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (``header_analysis.py:82-139``) on the driver tables: suppkey as
    cable, partkey as channel."""
    return geometry.channel_ranges(
        load_table(spark, sf_dir, "lineitem"),
        cable_col="l_suppkey",
        channel_col="l_partkey",
    )


@register(
    "geometry_gun_analysis",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(DISTINCT l_orderkey) AS n_shots,
           COUNT(DISTINCT CAST(FLOOR(l_orderkey / 7) AS BIGINT)) AS n_wrapped_shots
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_gun_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (``header_analysis.py:142-191``): per (line,gun) distinct-shot
    analysis driving the Type-A/Type-B decision."""
    return geometry.gun_analysis(
        load_table(spark, sf_dir, "lineitem"),
        line_col="l_returnflag",
        gun_col="l_linestatus",
        shot_col="l_orderkey",
        num_guns=7,
    )


@register(
    "geometry_line_gun_analysis",
    """
    WITH lg AS (
      SELECT l_returnflag, COUNT(DISTINCT l_linestatus) AS num_guns
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, l.l_linestatus, lg.num_guns,
           COUNT(DISTINCT l.l_orderkey) AS n_shots,
           COUNT(DISTINCT CAST(FLOOR(l.l_orderkey / lg.num_guns) AS BIGINT))
             AS n_mod_shots
    FROM lineitem l JOIN lg ON l.l_returnflag = lg.l_returnflag
    GROUP BY l.l_returnflag, l.l_linestatus, lg.num_guns
    ORDER BY l.l_returnflag, l.l_linestatus
    """,
)
def q_line_gun_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 with per-line gun counts (``header_analysis.py:142-191``) — the
    exact aggregate driving the ingest pipeline's Type-A/B AutoShotWrap
    decision: num_guns derived per line (returnflag as line, linestatus as
    gun), broadcast back into the per-(line, gun) distinct-shot agg."""
    return geometry.gun_geometry_analysis(
        load_table(spark, sf_dir, "lineitem"),
        line_col="l_returnflag",
        gun_col="l_linestatus",
        shot_col="l_orderkey",
    )


# ---------------------------------------------------------------------------
# A6/A7 — grid QC
# ---------------------------------------------------------------------------


@register(
    "grid_sparsity_qc",
    """
    SELECT COUNT(DISTINCT l_partkey) AS card_l_partkey,
           COUNT(DISTINCT l_suppkey) AS card_l_suppkey,
           COUNT(*) AS num_traces,
           COUNT(DISTINCT l_partkey) * COUNT(DISTINCT l_suppkey) AS grid_cells,
           CAST(COUNT(DISTINCT l_partkey) * COUNT(DISTINCT l_suppkey) AS DOUBLE)
             / COUNT(*) AS sparsity_ratio
    FROM lineitem
    """,
)
def q_sparsity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (``ingestion/grid_qc.py:19-69``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats.grid_sparsity(li, ["l_partkey", "l_suppkey"])


@register(
    "duplicate_detection",
    """
    SELECT l_partkey, l_suppkey, COUNT(*) AS n_traces
    FROM lineitem GROUP BY l_partkey, l_suppkey HAVING COUNT(*) > 1
    """,
)
def q_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (``ingestion/segy/pipeline.py:89-114``): duplicate dim tuples with
    the offending keys (richer than the reference's count mismatch)."""
    li = load_table(spark, sf_dir, "lineitem")
    return grid.duplicate_cells(li, ["l_partkey", "l_suppkey"])


# ---------------------------------------------------------------------------
# W2–W6 — index strategies
# ---------------------------------------------------------------------------


@register(
    "channel_wrap",
    """
    SELECT l_orderkey, l_linenumber, l_suppkey,
           l_partkey - MIN(l_partkey) OVER (PARTITION BY l_suppkey) + 1
             AS channel
    FROM lineitem
    """,
)
def q_channel_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 AutoChannelWrap (``index_strategies.py:206-233``)."""
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "channel")
    out = index_transforms.wrap_channels(li, cable_col="l_suppkey", channel_col="channel")
    return out.select("l_orderkey", "l_linenumber", "l_suppkey", "channel")


@register(
    "shot_index_dense",
    """
    SELECT o_orderkey, o_custkey,
           CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) - 1
                AS BIGINT) AS shot_index
    FROM orders
    """,
)
def q_shot_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 Type A — CalculateShotIndex via dense_rank
    (``index_strategies.py:267-299``)."""
    out = index_transforms.shot_index_dense(
        load_table(spark, sf_dir, "orders"), ["o_custkey"], shot_col="o_orderdate"
    )
    return out.select("o_orderkey", "o_custkey", "shot_index")


@register(
    "shot_index_floor",
    """
    SELECT event_id, user_id,
           CAST(FLOOR(event_id / 4)
                - MIN(FLOOR(event_id / 4)) OVER (PARTITION BY user_id)
                AS BIGINT) AS shot_index
    FROM events
    """,
)
def q_shot_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 Type B — AutoShotWrap floor-div variant
    (``index_strategies.py:236-265``)."""
    out = index_transforms.shot_index_floor(
        load_table(spark, sf_dir, "events"),
        ["user_id"],
        shot_col="event_id",
        num_guns=4,
    )
    return out.select("event_id", "user_id", "shot_index")


@register(
    "component_synthesis",
    "SELECT s_suppkey, s_name, CAST(1 AS INT) AS component FROM supplier",
)
def q_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 ComponentSynthesis (``index_strategies.py:302-328``)."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return index_transforms.synthesize_component(sup)


@register(
    "duplicate_ordinal",
    """
    SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag,
           ROW_NUMBER() OVER (PARTITION BY l_suppkey, l_returnflag
                              ORDER BY l_orderkey, l_linenumber) AS trace
    FROM lineitem
    """,
)
def q_dup_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 HasDuplicates (``index_strategies.py:116-165``): row_number
    replaces the reference's nested dict tree."""
    out = index_transforms.duplicate_ordinal(
        load_table(spark, sf_dir, "lineitem"),
        dim_cols=["l_suppkey", "l_returnflag"],
        order_cols=["l_orderkey", "l_linenumber"],
    )
    return out.select("l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag", "trace")


@register(
    "nonbinned_collapse",
    """
    SELECT l_returnflag, l_linestatus, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                              ORDER BY l_orderkey, l_linenumber, l_quantity) AS trace
    FROM lineitem
    """,
)
def q_nonbinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 NonBinned (``index_strategies.py:168-203``): collapsed dims become
    per-trace coordinates (here l_quantity rides along).

    (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
    ordering tie-break includes every output-visible column — otherwise
    row_number assignment across ties is engine-dependent.
    """
    out = index_transforms.nonbinned_collapse(
        load_table(spark, sf_dir, "lineitem"),
        kept_dims=["l_returnflag", "l_linestatus"],
        order_cols=["l_orderkey", "l_linenumber", "l_quantity"],
    )
    return out.select("l_returnflag", "l_linestatus", "l_quantity", "trace")


# ---------------------------------------------------------------------------
# F1/F2 — scalar functions
# ---------------------------------------------------------------------------


@register(
    "coordinate_scalar_apply",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey % 2 = 0 THEN -100 ELSE 10 END AS coordinate_scalar,
           CASE WHEN c_custkey % 2 = 0
                THEN CAST(c_acctbal / 100 AS DOUBLE)
                ELSE CAST(c_acctbal * 10 AS DOUBLE) END AS cdp_x
    FROM customer
    """,
)
def q_coord_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (``src/mdio/segy/scalar.py:20-59``): negative => divide,
    positive => multiply."""
    cust = load_table(spark, sf_dir, "customer")
    scalar = F.when(F.col("c_custkey") % 2 == 0, F.lit(-100)).otherwise(F.lit(10))
    return cust.select(
        "c_custkey",
        scalar.alias("coordinate_scalar"),
        apply_coordinate_scalar(F.col("c_acctbal"), scalar).alias("cdp_x"),
    )


@register(
    "sample_label_normalize",
    """
    SELECT DISTINCT CAST(FLOOR(l_quantity * 1000) AS BIGINT) AS label_us,
           CAST(FLOOR(l_quantity * 1000) AS BIGINT) / 1000.0 AS label_ms
    FROM lineitem
    """,
)
def q_label_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (``ingestion/segy/reader.py:85-87``): /1000 normalization.

    Distinct on the RAW column first (map-side-combinable over a tiny key
    domain), then derive both labels — measured 1.55s -> 0.61s at sf0.1
    vs deduping the two derived columns."""
    li = load_table(spark, sf_dir, "lineitem")
    label_us = F.floor(F.col("l_quantity") * 1000).cast("long")
    return (
        li.select("l_quantity")
        .distinct()
        .select(
            label_us.alias("label_us"),
            (label_us / F.lit(1000.0)).cast("double").alias("label_ms"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# P2/P3 — masks, bounding box
# ---------------------------------------------------------------------------


@register(
    "live_mask_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def q_live_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (``converters/mdio.py:103-130``): selection mask as a semi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    mask = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return grid.live_filter(li, mask, ["l_orderkey"]).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "bounding_box_prune",
    """
    SELECT MIN(o_custkey) AS o_custkey_min, MAX(o_custkey) AS o_custkey_max,
           MIN(o_totalprice) AS o_totalprice_min,
           MAX(o_totalprice) AS o_totalprice_max
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (``converters/mdio.py:115-126``): live-extent bounding box that
    drives partition pruning before export."""
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return grid.bounding_box(sel, ["o_custkey", "o_totalprice"])


# ---------------------------------------------------------------------------
# K3 — ordered export (the flatten leg)
# ---------------------------------------------------------------------------


@register(
    "ordered_export",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT)
             AS export_ordinal
    FROM lineitem
    """,
)
def q_ordered_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 (``segy/blocked_io.py:214-302``): global trace order; physically a
    repartitionByRange in the SEG-Y writer, logically this row_number."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return grid.ordered_export(li, ["l_orderkey", "l_linenumber"])


# ---------------------------------------------------------------------------
# Multi-way joins (the query surface Spark gives for free; SURVEY §2.4)
# ---------------------------------------------------------------------------

_REVENUE_ORACLE = f"""
SELECT n_name,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('AMERICA', 'ASIA')
GROUP BY n_name
"""


@register("revenue_by_nation", _REVENUE_ORACLE)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: lineitem ⨝ orders ⨝ customer ⨝ nation ⨝ region. Dims are
    broadcast (nation/region/customer tiny vs lineitem); only the
    lineitem⨝orders join shuffles, on the natural key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec(disc_price)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group — window + filter (SURVEY §2.7: reference has no
    top-k; Spark idiom)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Events: time-bucketed aggregation (batch form of the streaming surface)
# ---------------------------------------------------------------------------

_EVENTS_HOURLY_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", 6)} AS total_value
FROM events
GROUP BY 1, 2
"""


@register("events_hourly", _EVENTS_HOURLY_ORACLE)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg (batch twin of streaming.events); hour emitted as
    a string to dodge ns-vs-us timestamp hashing."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Anti-join & analytic lag (Spark-free surface the reference lacks; §2.4/§2.6)
# ---------------------------------------------------------------------------


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders. The customer side streams; the
    orders keys build the hash side — with AQE this plans as a broadcast
    anti join when the distinct key set is small."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "customer_order_gaps",
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                CAST(lag(o_orderdate) OVER w AS DATE),
                CAST(o_orderdate AS DATE)) AS INT) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    QUALIFY gap_days IS NOT NULL
    """,
)
def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: days between consecutive orders per customer —
    one shuffle on the partition key, total order via the orderkey
    tie-break. Gap emitted as INT days (no raw timestamps in output)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(d, F.lag(d).over(w)).cast("int").alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )


@register(
    "events_sessions",
    f"""
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_ns(ts) // 1000000000 AS sec
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, value, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, value, sec,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           {sql_dsum("value", 6)} AS total_value,
           MAX(sec) - MIN(sec) AS duration_s
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (batch twin of streaming.events.sessionized): 30-min
    inactivity gap splits sessions. lag + running-sum over one
    (user_id)-partitioned window — a single shuffle on the session key;
    gap logic on integer epoch seconds so both engines agree exactly."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.col("ts").cast("long").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("total_value"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
    )


@register(
    "strided_slice_stats",
    f"""
    WITH s AS (
      SELECT COUNT(l_extendedprice) AS count,
             CAST(MIN(l_extendedprice) AS DOUBLE) AS min,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS max,
             {sql_dsum("l_extendedprice")} AS sum,
             {sql_dsum_sq("l_extendedprice")} AS sum_squares
      FROM lineitem WHERE l_orderkey % 75 = 0 AND l_extendedprice <> 0
    )
    SELECT count, min, max, sum, sum_squares,
           sum / CAST(count AS DOUBLE) AS mean,
           sqrt((sum_squares - (sum * sum) / CAST(count AS DOUBLE))
                / (CAST(count AS DOUBLE) - 1.0)) AS std
    FROM s
    """,
)
def q_strided_slice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's interactive query pattern (SURVEY §3.2,
    ``test_segy_roundtrip_teapot.py:264-283``: strided slice -> mean/std):
    a modulus predicate plus one agg — the stride prunes at the scan."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 75 == 0)
    return stats.summary_statistics(li, "l_extendedprice", nonzero_only=True)


@register(
    "revenue_rollup",
    f"""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice")} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.5: absent from the reference, free in
    Spark): hierarchy totals in one pass — the Expand operator multiplies
    rows by grouping-set count before the single shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Temporal joins: as-of attribution, bounded range join, gap fill
# (operators/temporal.py; beyond-reference — the reference has no event model)
# ---------------------------------------------------------------------------

_EVENTS_US = "SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events"


@register(
    "user_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cweek
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aweek
      FROM events
    )
    SELECT CAST(datediff('day', DATE '1970-01-01', f.cweek) AS BIGINT)
             AS cohort_day,
           CAST(floor(datediff('day', f.cweek, a.aweek) / 7) AS BIGINT)
             AS weeks_since,
           COUNT(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-activity ISO week, one
    row per (cohort, weeks-since) with the count still active. The
    corpus-sized work is two combinable aggregates (per-user min, distinct
    user-week); the join runs on the per-user table, not raw events.
    Weeks cross as integer epoch-day offsets — no raw timestamps in the
    output (driver-hash convention)."""
    ev = load_table(spark, sf_dir, "events")
    wk = lambda c: F.to_date(F.date_trunc("week", c))  # noqa: E731
    first = ev.groupBy("user_id").agg(wk(F.min("ts")).alias("cweek"))
    act = ev.select("user_id", wk(F.col("ts")).alias("aweek")).distinct()
    epoch = F.lit("1970-01-01").cast("date")
    return (
        act.join(first, "user_id")
        .groupBy(
            F.datediff(F.col("cweek"), epoch).cast("long").alias("cohort_day"),
            F.floor(F.datediff(F.col("aweek"), F.col("cweek")) / 7)
            .cast("long")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "event_funnel_conversion",
    f"""
    WITH e AS ({_EVENTS_US}),
    v AS (SELECT user_id, MIN(us) AS v_us FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(us) AS c_us FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > v_us GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > c_us GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_viewers,
           (SELECT COUNT(*) FROM c) AS n_click_after_view,
           (SELECT COUNT(*) FROM p) AS n_converted,
           CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM v) AS DOUBLE) AS click_rate,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM v) AS DOUBLE) AS conversion_rate
    """,
)
def q_event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first view -> first later click -> first later
    purchase per user, rolled to corpus counts + rates. Three stage
    aggregates, each consuming the PREVIOUS stage's per-user table (never
    events x events); stage tables are user-level so the joins AQE to
    broadcast at any corpus size; final combine is three 1-row frames."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewers"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_converted"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_viewers",
            "n_click_after_view",
            "n_converted",
            (
                F.col("n_click_after_view").cast("double")
                / F.col("n_viewers").cast("double")
            ).alias("click_rate"),
            (
                F.col("n_converted").cast("double")
                / F.col("n_viewers").cast("double")
            ).alias("conversion_rate"),
        )
    )


@register(
    "asof_view_attribution",
    f"""
    WITH e AS ({_EVENTS_US}),
    p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id AS view_event_id, us AS view_us
          FROM e WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, v.view_event_id,
           p.us - v.view_us AS lag_us
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.us >= v.view_us
    """,
)
def q_asof_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's most recent view
    at-or-before it (classic attribution). Union + running last(ignorenulls)
    window — ONE shuffle on user_id, no range self-join; the DuckDB oracle
    is an independent ASOF LEFT JOIN (deterministic: (user_id, ts) unique).
    Microsecond longs in/out — no raw timestamps cross the driver hash."""
    from mdio_python_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    purchases = ev.where(F.col("event_type") == "purchase").drop("event_type")
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("us").alias("view_us"),
        )
    )
    return asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_us="us",
        right_us="view_us",
        payload_cols=["view_event_id", "view_us"],
    ).select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.col("us") - F.col("view_us")).alias("lag_us"),
    )


@register(
    "asof_view_attribution_bucketed",
    f"""
    WITH e AS ({_EVENTS_US}),
    p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id AS view_event_id, us AS view_us
          FROM e WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, v.view_event_id,
           p.us - v.view_us AS lag_us
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.us >= v.view_us
    """,
)
def q_asof_view_attribution_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-guarded as-of join (same attribution semantics and oracle as
    ``asof_view_attribution``): the running window partitions by
    (user_id, 1-hour bucket) instead of user_id alone, with cross-bucket
    predecessors carried via a per-(key, bucket) summary — so a hot user
    owning a material fraction of the corpus spreads across its time
    buckets instead of serializing one task. The identical DuckDB oracle
    proves the salted plan is output-equivalent."""
    from mdio_python_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    purchases = ev.where(F.col("event_type") == "purchase").drop("event_type")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        F.col("us").alias("view_us"),
    )
    return asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_us="us",
        right_us="view_us",
        payload_cols=["view_event_id", "view_us"],
        bucket_us=3_600_000_000,
    ).select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.col("us") - F.col("view_us")).alias("lag_us"),
    )


@register(
    "error_click_correlation",
    f"""
    WITH e AS ({_EVENTS_US}),
    err AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'error'),
    clk AS (SELECT user_id, event_id AS click_id, us AS click_us
            FROM e WHERE event_type = 'click')
    SELECT err.event_id, err.user_id,
           COUNT(clk.click_id) AS n_clicks_5min
    FROM err LEFT JOIN clk
      ON err.user_id = clk.user_id
     AND clk.click_us > err.us
     AND clk.click_us <= err.us + 300000000
    GROUP BY err.event_id, err.user_id
    """,
)
def q_error_click_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: clicks by the same user within 5 minutes after
    each error (zero-count errors included). Time-bucketed equi-join —
    the left side explodes to 2 buckets, each click lands in exactly 1,
    so the shuffle is a plain (user_id, bucket) hash exchange and Catalyst
    never falls back to a nested-loop join (which the oracle's non-equi
    form would force at scale)."""
    from mdio_python_spark.operators.temporal import bucketed_range_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    errors = ev.where(F.col("event_type") == "error").drop("event_type")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("us").alias("click_us"),
        )
    )
    pairs = bucketed_range_join(
        errors,
        clicks,
        keys=["user_id"],
        horizon_us=300_000_000,
        left_us="us",
        right_us="click_us",
        # count(click_id) ignores nulls, so the groupBy absorbs the
        # spurious null-extended rows — skip the dedup exchange.
        dedup_unmatched=False,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count("click_id").alias("n_clicks_5min")
    )


@register(
    "events_gap_fill",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_ts, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    hours AS (
      SELECT unnest(generate_series((SELECT MIN(hour_ts) FROM hourly),
                                    (SELECT MAX(hour_ts) FROM hourly),
                                    INTERVAL 1 HOUR)) AS hour_ts
    ),
    grid AS (
      SELECT h.hour_ts, t.event_type
      FROM hours h CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
    )
    SELECT strftime(g.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour,
           g.event_type,
           CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN hourly a USING (hour_ts, event_type)
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill: dense (hour x event_type) grid with zero-filled counts.
    The corpus-sized work is the combinable hourly pre-aggregate; the
    densify (sequence + explode + two broadcast joins) runs on the tiny
    post-agg table, so it costs the same at 100 TB as at sf0.01."""
    from mdio_python_spark.operators.temporal import gap_fill_hours

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    filled = gap_fill_hours(
        hourly, ["event_type"], "hour_ts", fill={"n_events": F.lit(0)}
    )
    return filled.select(
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
    )


@register(
    "events_hourly_anomaly",
    """
    WITH hourly AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS n_hours,
             CAST(SUM(n_events) AS BIGINT) AS s1,
             CAST(SUM(n_events * n_events) AS BIGINT) AS s2
      FROM hourly GROUP BY event_type
    ),
    scored AS (
      SELECT h.hour, h.event_type, h.n_events, CAST(s1 AS DOUBLE) AS s1d,
             s.n_hours,
             (CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * s1) / n_hours)
               / (n_hours - 1) AS variance
      FROM hourly h JOIN stats s ON h.event_type = s.event_type
      WHERE n_hours > 1
    )
    SELECT hour, event_type, n_events,
           (CAST(n_events AS DOUBLE) - (s1d / n_hours)) / sqrt(variance) AS z
    FROM scored
    WHERE CASE WHEN variance > 0 THEN
            abs((CAST(n_events AS DOUBLE) - (s1d / n_hours)) / sqrt(variance))
              > 2.0
          ELSE FALSE END
    """,
)
def q_events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection: hourly event counts whose z-score
    against that type's across-time distribution exceeds |2| — the
    monitoring query every event pipeline runs. Determinism: the moment
    sums s1/s2 are exact integers (counts of counts), so mean/variance/z
    derive through an explicit IEEE double formula both engines evaluate
    identically (policy of ``functions.determinism``); degenerate groups
    (one hour, zero variance) are excluded by exact predicates.

    Scale shape: the corpus-sized work is one combinable hourly groupBy;
    the per-type stats table is tiny (|event_type| rows) and broadcast
    back. No window over raw events, no second corpus shuffle."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    st = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    j = hourly.join(F.broadcast(st), "event_type").where(F.col("n_hours") > 1)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    variance = (s2d - (s1d * F.col("s1")) / F.col("n_hours")) / (
        F.col("n_hours") - 1
    )
    z = (F.col("n_events").cast("double") - (s1d / F.col("n_hours"))) / F.sqrt(
        variance
    )
    return (
        j.withColumn("variance", variance)
        .withColumn("z", z)
        .where((F.col("variance") > 0) & (F.abs(F.col("z")) > 2.0))
        .select("hour", "event_type", "n_events", "z")
    )


@register(
    "shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer (broadcast) ⨝ orders ⨝
    lineitem with date predicates pushed to both fact scans, then a
    global top-10 by revenue. The ORDER BY + LIMIT compiles to
    TakeOrderedAndProject — each task keeps its local top-10 and the
    driver merges 10 rows per task, so there is NO global sort of the
    aggregate; ties broken by l_orderkey for a total order. Revenue uses
    the exact-decimal sum (``functions.determinism``), which also makes
    the top-10 cut deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(dec(disc_price)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "top_session_paths",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_ns(ts) // 1000000000 AS sec
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, sec,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                   ORDER BY sec, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 5 GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the 20 most common first-five-event-type
    sequences across 30-min-gap sessions — the "how do users move through
    the product" query. Builds on the ``events_sessions`` sessionization
    (one user_id exchange serves the gap window, the per-session rank,
    and the path assembly); path order is pinned by sorting the collected
    (rn, type) structs, not collect_list's arrival order; the global
    top-20 is TakeOrderedAndProject over the tiny per-path counts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.col("ts").cast("long").alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = Window.partitionBy("user_id", "session_id").orderBy("sec", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(w2))
    paths = (
        ranked.where(F.col("rn") <= 5)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


def _profile_oracle(table: str, cols: list[str]) -> str:
    selects = [
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
        f"COUNT(*) - COUNT({c}) AS n_nulls, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct FROM {table}"
        for c in cols
    ]
    return " UNION ALL ".join(selects)


@register(
    "table_profile",
    _profile_oracle(
        "documents", ["doc_id", "text", "lang", "source", "n_chars"]
    ),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table: per-column row,
    null, and exact distinct counts in ONE corpus pass — Spark plans the
    multi-column distinct via Expand (rows x n_cols) with partial aggs,
    so the corpus is scanned once instead of once per column; the wide
    1-row result is unpivoted driver-side via inline(array(struct...)),
    which touches only n_cols rows."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
    wide = docs.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    return wide.select(F.inline(F.array(*structs)))


def _hll_oracle() -> str:
    from mdio_python_spark.operators.stats import sql_hll_distinct

    est = sql_hll_distinct("events", ["event_type"], "user_id")
    return f"""
    WITH est AS ({est}),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, x.n_exact, e.hll_estimate
    FROM est e JOIN exact x ON e.event_type = x.event_type
    """


@register("approx_distinct_hll", _hll_oracle())
def q_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type: exact count side-by-side with a
    DETERMINISTIC HyperLogLog estimate (``stats.hll_distinct`` — integer
    register arithmetic end-to-end, so unlike stock HLLs the estimate is
    bit-identical across engines and partitionings and can sit under the
    exact-equality oracle gate). The sketch is the 100 TB path: one
    combinable groupBy to 256 small ints per group, no distinct shuffle;
    the exact branch here exists to expose the error empirically."""
    from mdio_python_spark.operators.stats import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_exact")
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type", "n_exact", "hll_estimate"
    )


@register(
    "events_daily_moving_avg",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2, 3
    )
    SELECT day, event_type, n_events,
           CAST(SUM(n_events) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_events_daily_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts with a 7-day trailing average — the smoothing
    window every ops dashboard draws. RANGE frame over an integer day
    number (not ROWS) so gaps in the calendar shrink the window instead
    of silently reaching further back; the average is an exact integer
    sum over an exact integer count, divided once (deterministic
    cross-engine). Corpus work is one combinable daily groupBy; the
    window runs over the tiny daily table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day_num"
        ),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "event_type",
        "n_events",
        (
            F.sum("n_events").over(w).cast("double") / F.count(F.lit(1)).over(w)
        ).alias("avg_7d"),
    )


@register(
    "customer_value_deciles",
    f"""
    WITH spend AS (
      SELECT c_custkey, {sql_dsum("o_totalprice")} AS total_spend,
             COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    ),
    tiled AS (
      SELECT *, NTILE(10) OVER (ORDER BY total_spend DESC, c_custkey)
               AS decile
      FROM spend
    )
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dsum("total_spend", 6)} AS decile_spend,
           CAST(SUM(n_orders) AS BIGINT) AS decile_orders
    FROM tiled GROUP BY decile
    """,
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile report: rank every customer by lifetime
    spend (exact-decimal sum), NTILE into 10 bands under a total order
    (ties broken by key — NTILE is deterministic only given one), and
    roll up spend/order mass per band — the classic value-segmentation
    query.

    Scale shape (round 5): NTILE is computed from a two-phase global
    rank (``ranking.distributed_ordinal`` — range partitioner +
    broadcast offsets) plus the exact integer NTILE formula, instead of
    ``ntile(10) OVER (ORDER BY ...)`` whose ``WindowExec`` serializes
    the whole post-aggregate CUSTOMER table through ONE task. NTILE(k)
    over n rows: with q = n div k, r = n mod k, the first r tiles take
    q+1 rows and the rest take q — pure int64 arithmetic, so the result
    is bit-identical to the window form (pinned by the NTILE oracle)."""
    from mdio_python_spark.operators.ranking import (
        distributed_ordinal,
        ntile_from_ordinal,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            dsum("o_totalprice").alias("total_spend"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )
    ranked = distributed_ordinal(
        spend,
        [F.col("total_spend").desc(), "c_custkey"],
        ordinal_col="_rn",
        scope="queries.customer_value_deciles",
    )
    tiled = ntile_from_ordinal(ranked, 10, ordinal_col="_rn", out_col="decile")
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("total_spend", 6).alias("decile_spend"),
        F.sum("n_orders").alias("decile_orders"),
    )


_STALENESS_CASE = """
CASE WHEN view_us IS NULL THEN 'unmatched'
     WHEN lag_us < 60000000 THEN '<1m'
     WHEN lag_us < 600000000 THEN '1-10m'
     WHEN lag_us < 3600000000 THEN '10-60m'
     WHEN lag_us < 86400000000 THEN '1-24h'
     ELSE '>24h' END
"""


@register(
    "asof_staleness_buckets",
    f"""
    WITH e AS ({_EVENTS_US}),
    p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
    v AS (SELECT user_id, us AS view_us FROM e WHERE event_type = 'view'),
    j AS (
      SELECT p.us - v.view_us AS lag_us, v.view_us
      FROM p ASOF LEFT JOIN v
        ON p.user_id = v.user_id AND p.us >= v.view_us
    ),
    b AS (SELECT {_STALENESS_CASE} AS staleness_bucket FROM j),
    c AS (
      SELECT staleness_bucket, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM b GROUP BY staleness_bucket
    ),
    t AS (SELECT SUM(n_events) AS total FROM c)
    SELECT staleness_bucket, n_events,
           CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM c, t
    """,
)
def q_asof_staleness_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution staleness distribution: purchases bucketed by the age
    of their as-of-matched view (<1m / 1-10m / 10-60m / 1-24h / >24h /
    unmatched) — the table that tunes an attribution WINDOW (an as-of
    join without a max-lag bound credits week-old views; this shows what
    share of attributions each candidate bound would keep). Reuses the
    skew-guarded bucketed as-of DAG; the bucket CASE and rollup add one
    combinable groupBy over a 6-row table plus a broadcast total."""
    from mdio_python_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    purchases = ev.where(F.col("event_type") == "purchase").drop("event_type")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("us").alias("view_us")
    )
    j = asof_join(
        purchases,
        views,
        keys=["user_id"],
        left_us="us",
        right_us="view_us",
        payload_cols=["view_us"],
        bucket_us=3_600_000_000,
    ).select((F.col("us") - F.col("view_us")).alias("lag_us"), "view_us")
    lag = F.col("lag_us")
    bucket = (
        F.when(F.col("view_us").isNull(), F.lit("unmatched"))
        .when(lag < 60_000_000, F.lit("<1m"))
        .when(lag < 600_000_000, F.lit("1-10m"))
        .when(lag < 3_600_000_000, F.lit("10-60m"))
        .when(lag < 86_400_000_000, F.lit("1-24h"))
        .otherwise(F.lit(">24h"))
    )
    # persist-the-fork: the <=6-row bucket count feeds both the output
    # and the broadcast total — without the persist the full as-of DAG
    # (union + window + carry join over the corpus) executes twice
    # (round-5 advisor item)
    from mdio_python_spark.operators.caching import own, persist

    c = persist(
        j.select(bucket.alias("staleness_bucket"))
        .groupBy("staleness_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    t = c.agg(F.sum("n_events").alias("_total"))
    out = c.crossJoin(F.broadcast(t)).select(
        "staleness_bucket",
        "n_events",
        (F.col("n_events").cast("double") / F.col("_total").cast("double")).alias(
            "share"
        ),
    )
    return own(out, "q.asof_staleness_buckets", c)
