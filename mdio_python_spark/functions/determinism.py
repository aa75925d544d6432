"""Cross-engine deterministic numeric helpers.

Floating-point SUM is order-dependent, and Spark (partial/final partitioned
agg) and DuckDB (vectorized chunks) add in different orders. To make every
declared query bit-identical to its DuckDB oracle we route float aggregates
through *exact* fixed-point decimal arithmetic:

    double -> DECIMAL(18, s)  (per-value cast: deterministic, identical in
                               both engines for the same input double)
    SUM(decimal)              (exact integer arithmetic, order-independent)
    -> DOUBLE                 (deterministic decimal->binary conversion)

Derived statistics (mean/variance/std) are then computed from those exact
sums with explicit IEEE double formulas that both engines evaluate
identically. We never use built-in avg()/stddev() on doubles in a declared
query.

This mirrors the reference's own concern for stable stats
(``src/mdio/builder/schemas/v1/stats.py:48-71`` stores raw
count/sum/sumSquares and derives mean/std downstream).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 18 total digits, configurable scale: plenty for TPC-H-ish money/quantity
# columns; sums get +10 digits of headroom from Spark's decimal promotion.
DEC = "decimal(18,{s})"


def dec(col: Column | str, scale: int = 4) -> Column:
    """Exact fixed-point view of a numeric column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC.format(s=scale))


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent SUM of a double column, returned as DOUBLE."""
    return F.sum(dec(col, scale)).cast("double")


def dsum_sq(col: Column | str, scale: int = 4) -> Column:
    """Order-independent SUM of squares (exact decimal multiply)."""
    d = dec(col, scale)
    return F.sum((d * d).cast("decimal(38,8)")).cast("double")


# --- matching DuckDB SQL fragments (keep in sync with the helpers above) ---


def sql_dsum(expr: str, scale: int = 4) -> str:
    # decimal -> VARCHAR -> DOUBLE: DuckDB's direct decimal->double cast
    # double-rounds (int128 -> double, then /10^scale), which can land one
    # ULP off Spark's correctly-rounded BigDecimal.doubleValue(). The
    # string path is correctly rounded in both engines.
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"


def sql_dsum_sq(expr: str, scale: int = 4) -> str:
    # DECIMAL(19,s) operands: DuckDB sizes a product as p1+p2 digits, and
    # 19+19=38 forces the hugeint-backed path (18+18=36 still multiplies in
    # int64 and overflows). The extra digit changes no values. VARCHAR hop:
    # see sql_dsum.
    d = f"CAST(CAST({expr} AS DECIMAL(18,{scale})) AS DECIMAL(19,{scale}))"
    return f"CAST(CAST(SUM(CAST({d} * {d} AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)"
