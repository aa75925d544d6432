"""Index strategies (SURVEY §2.6, W1–W7) as DataFrame transforms.

The reference implements these as numpy passes over the header table
(``src/mdio/ingestion/segy/index_strategies.py``). Here each is a window
expression or plain column op — Catalyst handles partial evaluation, and the
window partitions (cable, line, dim-tuples) are the natural shuffle keys.

Scale note: every window below partitions by a *low-cardinality* geometry key
(cable/line/shot tuple), so state per partition is bounded and skew is mild;
none requires a global sort.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def wrap_channels(
    df: DataFrame, cable_col: str = "cable", channel_col: str = "channel"
) -> DataFrame:
    """W2 — AutoChannelWrap: rebase sequentially-numbered channels to
    1..N within each cable (``index_strategies.py:206-233``).

    ``channel - min(channel) OVER (PARTITION BY cable) + 1``: deterministic
    (no ORDER BY needed), one shuffle on the small cable key.
    """
    w = Window.partitionBy(cable_col)
    return df.withColumn(
        channel_col,
        F.col(channel_col) - F.min(channel_col).over(w) + F.lit(1),
    )


def shot_index_dense(
    df: DataFrame,
    line_cols: Sequence[str],
    shot_col: str = "shot_point",
    out_col: str = "shot_index",
) -> DataFrame:
    """W3 (Type A) — dense shot index per line via dense_rank
    (``index_strategies.py:267-299``: ``searchsorted(unique(shots))``).

    dense_rank over the shot value is deterministic under ties.
    """
    w = Window.partitionBy(*line_cols).orderBy(shot_col)
    return df.withColumn(out_col, (F.dense_rank().over(w) - F.lit(1)).cast("long"))


def shot_index_floor(
    df: DataFrame,
    line_cols: Sequence[str],
    shot_col: str = "shot_point",
    num_guns: int = 2,
    out_col: str = "shot_index",
) -> DataFrame:
    """W3 (Type B) — AutoShotWrap: ``floor(shot/num_guns) - min(...)`` per
    line (``index_strategies.py:236-265``)."""
    w = Window.partitionBy(*line_cols)
    raw = F.floor(F.col(shot_col) / F.lit(num_guns))
    return df.withColumn(out_col, (raw - F.min(raw).over(w)).cast("long"))


def synthesize_component(df: DataFrame, component_col: str = "component") -> DataFrame:
    """W4 — add constant component=1 when absent (``index_strategies.py:302-328``)."""
    if component_col in df.columns:
        return df
    return df.withColumn(component_col, F.lit(1).cast("int"))


def duplicate_ordinal(
    df: DataFrame,
    dim_cols: Sequence[str],
    order_cols: Sequence[str],
    out_col: str = "trace",
) -> DataFrame:
    """W5/A5 — per-dim-tuple 1-based trace ordinal
    (``index_strategies.py:116-165``, counter ``header_analysis.py:202-284``).

    One ``row_number`` window replaces the reference's nested dict tree.
    ``order_cols`` must be a total order (e.g. the file-order trace index)
    for determinism. Scale: near-unique dim tuples make tiny partitions —
    this is shuffle-bound, not memory-bound; AQE handles skewed tuples.
    """
    w = Window.partitionBy(*dim_cols).orderBy(*order_cols)
    return df.withColumn(out_col, F.row_number().over(w))


def nonbinned_collapse(
    df: DataFrame,
    kept_dims: Sequence[str],
    order_cols: Sequence[str],
    out_col: str = "trace",
) -> DataFrame:
    """W6 — NonBinned: collapse non-kept dims into a per-kept-tuple ``trace``
    ordinal (``index_strategies.py:168-203``). Collapsed dims remain as
    per-trace coordinate columns (schema effect
    ``ingestion/segy/schema_effects.py:50-133``)."""
    w = Window.partitionBy(*kept_dims).orderBy(*order_cols)
    return df.withColumn(out_col, F.row_number().over(w))


def composite(
    *steps: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame], DataFrame]:
    """W7 — ordered composition of strategies (``index_strategies.py:331-368``)."""

    def run(df: DataFrame) -> DataFrame:
        for step in steps:
            df = step(df)
        return df

    return run
