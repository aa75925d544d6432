"""Streaming event ingestion: readStream -> watermark -> windowed aggs.

The reference has no streaming surface (bounded batch only, SURVEY §2.12);
this is the "watch a directory" extension its ingestion design implies. The
same aggregations run in batch mode (plans/queries.events_hourly) — one
logical plan, two execution modes, which is exactly Structured Streaming's
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """File-source stream over the events table.

    Spark's file stream source watches a *directory*; the driver testdata is
    a single parquet file, so we stage a watch directory with a symlink —
    exactly the "drop files in, they get processed" deployment shape.
    ``copies > 1`` stages the file multiple times to simulate an
    at-least-once source redelivering every event (for dedup tests).
    """
    import os
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    watch_dir = src
    if os.path.isfile(src):
        watch_dir = tempfile.mkdtemp(prefix="events-stream-")
        for i in range(copies):
            os.symlink(src, os.path.join(watch_dir, f"events_{i}.parquet"))
    # File streams require a declared schema, but the driver's on-disk `ts`
    # layout has varied across rounds (int64 nanos vs timestamp[us]-NTZ).
    # Declare the physical schema from the file's footer so the stream
    # always sees what's actually on disk, then share the batch reader's
    # event-time normalizer.
    from mdio_python_spark.sources.tables import declared_schema, normalize_nanos_ts

    raw = spark.readStream.schema(declared_schema(src)).parquet(watch_dir)
    return normalize_nanos_ts(raw)


def windowed_counts(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts with late-data handling via watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: activity bursts separated by >= gap."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch for semantics the built-in windowed aggregates can't
    express (arbitrary per-key state machines). Here: per-user running
    event count / total / max / last-seen second, emitted on every
    update. State is one tiny tuple per user, so the state store is
    bounded by |users| regardless of stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, total_value double, "
        "max_value double, last_sec long"
    )
    state_schema = "n long, total double, mx double, last long"

    def update(key, pdfs, state: GroupState):
        n, total, mx, last = (
            state.get if state.exists else (0, 0.0, float("-inf"), 0)
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
            last = max(last, int(pdf["sec"].max()))
        state.update((n, total, mx, last))
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n,
                    "total_value": total,
                    "max_value": mx,
                    "last_sec": last,
                }
            ]
        )

    prepared = events.select(
        "user_id", "value", F.col("ts").cast("long").alias("sec")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def deduped(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop replayed events by ``event_id`` within
    the watermark horizon (``dropDuplicatesWithinWatermark``).

    The streaming twin of the batch exact-dedup operator: at-least-once
    sources (kafka, file redelivery) re-emit rows; the state store keeps
    one key per event inside the watermark window and ages it out after,
    so state is bounded by (event rate x horizon), not stream length —
    the property that makes this safe on an unbounded 100 TB/day feed.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enriched(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach a static dimension (user
    attributes) to the event stream.

    Stream-static equi-joins need no watermark and no stream-side state —
    Spark broadcasts the static side into every micro-batch, so this is
    the same broadcast-hash-join shape the batch engine uses for dim
    joins. The static side is re-read per batch, so slowly-changing dims
    pick up updates between batches for free.
    """
    return events.join(F.broadcast(users), "user_id", "left")


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a bounded file stream to completion into an in-memory table
    (test/smoke harness; production sinks are kafka/delta/foreachBatch)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def interval_joined(
    left: DataFrame,
    right: DataFrame,
    horizon: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: for each left event, right events by
    the same user strictly after it and within ``horizon`` — the
    streaming twin of the batch ``bucketed_range_join`` (matched pairs).

    Both sides carry watermarks so Spark can BOUND the join state: a
    buffered left row is droppable once the right watermark passes
    ``l_ts + horizon``, a right row once the left watermark passes its
    own timestamp — state is (rate x (watermark + horizon)), not stream
    length. This is the one streaming join class the other operators
    here don't cover (stream-static `enriched` has no state at all).
    """
    l = left.select(
        "user_id",
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return l.join(r, cond, "inner").select(
        "user_id",
        "l_id",
        "r_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
    )


def windowed_hll_registers(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming HyperLogLog registers per (window, event_type): distinct
    users per hour with BOUNDED state — max-register is a streaming-safe
    aggregate, so state is at most 256 small ints per open window/type
    instead of a distinct-user set. Finalize the materialized output with
    ``stats.hll_finalize``; the estimate is bit-identical to the batch
    ``hll_distinct`` over the same rows (the gate in
    tests/test_streaming.py asserts full-frame equality)."""
    from mdio_python_spark.operators.stats import hll_register_exprs

    b, r = hll_register_exprs("user_id")
    return (
        events.withWatermark("ts", watermark)
        # NULL user_ids are ignored (COUNT DISTINCT semantics) — same
        # filter as batch hll_distinct so the bit-equality gate holds
        .where(F.col("user_id").isNotNull())
        .select("ts", "event_type", b, r)
        .groupBy(F.window("ts", window), "event_type", "_bucket")
        .agg(F.max("_rho").alias("_reg"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "_bucket",
            "_reg",
        )
    )


def windowed_countmin_cells(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    col: str = "user_id",
    salt: str = "cms",
) -> DataFrame:
    """Streaming count-min sketch per window: the (hash row, bucket)
    cell counts of ``col`` occurrences — plain additive counts, so the
    aggregate is streaming-safe and the state per open window is at most
    d x w small ints (4096 here) regardless of traffic. Cells from
    different windows / days / clusters merge by cell-wise addition (the
    mergeability that makes the sketch a monitoring primitive); point
    frequency estimates come from ``stats.countmin_lookup`` over the
    materialized cells. Bit-identical to the batch
    ``stats.countmin_cells`` over the same rows — order-free integer
    sums cannot differ between incremental and one-shot aggregation
    (the gate in tests/test_streaming.py asserts full-frame equality)."""
    from mdio_python_spark.operators.stats import _cms_buckets

    return (
        events.withWatermark("ts", watermark)
        # NULL items are not countable events (matches the HLL family's
        # ignore-NULL convention; a NULL would also surface as a NULL
        # bucket row and poison the bit-equality gate)
        .where(F.col(col).isNotNull())
        .select("ts", F.posexplode(_cms_buckets(col, salt)).alias("r", "bucket"))
        .groupBy(F.window("ts", window), "r", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_count"))
        .select(
            F.col("window.start").alias("window_start"),
            "r",
            "bucket",
            "cell_count",
        )
    )
