"""Geometry detectors (A3/A4) — groupBy aggregations + driver-side decision.

The reference scans header tables with pandas-style loops
(``src/mdio/ingestion/segy/header_analysis.py:82-191``). Here each detector
is one aggregation; the classification rule runs on the tiny agg result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def channel_ranges(
    df: DataFrame, cable_col: str = "cable", channel_col: str = "channel"
) -> DataFrame:
    """A3 — per-cable channel min/max (``header_analysis.py:82-139``)."""
    return (
        df.groupBy(cable_col)
        .agg(
            F.min(channel_col).alias("chan_min"),
            F.max(channel_col).alias("chan_max"),
        )
        .orderBy(cable_col)
    )


def detect_channel_geometry(ranges: list[tuple]) -> str:
    """Driver-side overlap test on the A3 result: overlapping per-cable
    channel ranges => geometry A (restarts per cable); disjoint increasing
    ranges => geometry B (sequential across cables).

    Overlap is *strict* (``min2 < max1 and max2 > min1``,
    ``header_analysis.py:125``): touching ranges (1-20, 20-40) are NOT
    overlap, so they classify B — matching the reference exactly. With
    spans sorted by min, checking adjacent pairs is equivalent to the
    reference's all-pairs scan.
    """
    spans = sorted((r["chan_min"], r["chan_max"]) for r in ranges)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        if lo < hi:
            return "A"
    return "B"


def gun_geometry_analysis(
    df: DataFrame,
    line_col: str = "shot_line",
    gun_col: str = "gun",
    shot_col: str = "shot_point",
) -> DataFrame:
    """A4 with per-line gun counts (``header_analysis.py:142-191``): for
    each (line, gun), distinct shots vs distinct ``floor(shot/num_guns)``
    where ``num_guns`` is the number of distinct guns *in that line* —
    the exact quantity the reference's ``analyze_lines_for_guns`` loops
    over. Two aggs: a tiny per-line gun count broadcast back into one
    (line, gun) agg; no window, map-side combinable.
    """
    # dedup to (line, gun, shot) triples FIRST: one map-side-combinable
    # shuffle collapses the trace table (measured 3.0s -> dedup-first at
    # sf0.1), and both the per-line gun count and the mod-shot analysis
    # run over the collapsed triples instead of re-scanning the source.
    # The triples stage is persisted because AQE does not reuse its
    # exchange across the two consuming branches — without the cache the
    # gun-count branch either re-runs the 3-col distinct or (the r2 form)
    # re-scans the source table with a second 2-col distinct; with it the
    # corpus is scanned and shuffled exactly once and the gun count runs
    # over the already-collapsed (small) triples.
    # Caching contract: the persisted triples stage rides on the returned
    # DataFrame — callers release it with caching.release_cached after
    # their terminal action (ingest does); repeat callers that never do
    # are bounded to one generation by caching.own.
    from mdio_python_spark.operators.caching import own, persist

    triples = persist(df.select(line_col, gun_col, shot_col).distinct())
    line_guns = (
        triples.select(line_col, gun_col)
        .distinct()
        .groupBy(line_col)
        .agg(F.count(F.lit(1)).alias("num_guns"))
    )
    joined = triples.join(F.broadcast(line_guns), line_col)
    out = (
        joined.groupBy(line_col, gun_col, "num_guns")
        .agg(
            F.count(F.lit(1)).alias("n_shots"),
            F.count_distinct(
                F.floor(F.col(shot_col) / F.col("num_guns"))
            ).alias("n_mod_shots"),
        )
        .orderBy(line_col, gun_col)
    )
    return own(out, "geometry.gun_geometry_analysis", triples)


def detect_gun_geometry(rows: list[tuple]) -> tuple[str, int]:
    """Driver-side rule on the ``gun_geometry_analysis`` result
    (``header_analysis.py:180-189``): if any (line, gun) loses distinct
    shots under ``floor(shot/num_guns)`` the shots are already dense per
    gun => Type A (pass through); otherwise shots are interleaved across
    guns => Type B (floor-wrap). Returns ``(geom_type, max_num_guns)``
    where ``max_num_guns`` is the max per-line gun count — the divisor the
    reference's Type-B transform uses (``index_strategies.py:273-291``).
    """
    max_guns = max((r["num_guns"] for r in rows), default=1)
    geom = "A" if any(r["n_mod_shots"] != r["n_shots"] for r in rows) else "B"
    return geom, max_guns


def gun_analysis(
    df: DataFrame,
    line_col: str = "shot_line",
    gun_col: str = "gun",
    shot_col: str = "shot_point",
    num_guns: int | None = None,
) -> DataFrame:
    """A4 — per (line, gun): distinct shots vs distinct wrapped shots
    (``header_analysis.py:142-191``). If ``floor(shot/num_guns)`` is unique
    per gun the shots are interleaved across guns (Type B)."""
    grouped = df.groupBy(line_col, gun_col)
    aggs = [F.count_distinct(shot_col).alias("n_shots")]
    if num_guns is not None:
        aggs.append(
            F.count_distinct(F.floor(F.col(shot_col) / F.lit(num_guns))).alias(
                "n_wrapped_shots"
            )
        )
    return grouped.agg(*aggs).orderBy(line_col, gun_col)
