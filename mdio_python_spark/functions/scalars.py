"""Scalar functions from the reference's surface (SURVEY §2.9).

Each is a pure Column expression — JVM-side, whole-stage-codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VALID_COORDINATE_SCALARS = (1, 10, 100, 1000, 10000)


def apply_coordinate_scalar(value: Column, scalar: Column) -> Column:
    """SEG-Y coordinate-scalar semantics (F1).

    Negative scalar => divide by |scalar|, positive => multiply.
    Reference: ``src/mdio/segy/scalar.py:20-59``.
    """
    return (
        F.when(scalar < 0, value / F.abs(scalar))
        .otherwise(value * scalar)
        .cast("double")
    )


def hash64(col: Column | str) -> Column:
    """Deterministic 60-bit hash shared bit-for-bit with DuckDB.

    ``conv(substr(md5(x),1,15),16,10)`` here ==
    ``('0x' || substr(md5(x),1,15))::BIGINT`` in DuckDB.

    Used by the dedup / fingerprint operators so their oracles hash-match.
    15 hex digits = 60 bits, always fits a signed BIGINT.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def sql_hash64(expr: str) -> str:
    """DuckDB fragment matching :func:`hash64`."""
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


# --- DuckDB mirror of Spark's native xxhash64 (XXH64, seed 42) ------------
#
# hash64/sql_hash64 above is the GENERAL cross-engine hash contract (md5
# handles any UTF-8 input in both engines) — but md5 costs a digest + hex
# round-trip per row, which is the scan-side bottleneck of the heaviest
# fingerprint queries. Where the hashed key is 16 ASCII bytes (the
# winnowing k-gram: k=16 over lower/trimmed corpus text, measured
# all-ASCII at every SF), Spark's codegen-native F.xxhash64 can be
# mirrored EXACTLY in DuckDB: 16 bytes takes XXH64's short path — two
# 8-byte rounds plus the avalanche — and every 64-bit modular multiply
# fits DuckDB's UHUGEINT. Unlike window_dup_stats' internal-key rule
# (where the hash never reaches the output), winnowing's hash DETERMINES
# the fingerprint min-selection, so swapping the hash changes the output
# and the oracle must compute the same function bit-for-bit; this is that
# mirror. Verified against Spark's XxHash64 on the full sf0.1 k-gram set.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42  # Spark's fixed xxhash64 seed
_U64 = f"{1 << 64}::UHUGEINT"


def _xx_mul64(a: str, b: int) -> str:
    return f"(({a} * {b}::UHUGEINT) % {_U64})"


def _xx_rotl(x: str, r: int) -> str:
    # (x<<r mod 2^64) and (x>>(64-r)) occupy disjoint bit ranges: | == +
    return f"((({x} * {1 << r}::UHUGEINT) % {_U64}) + ({x} // {1 << (64 - r)}::UHUGEINT))"


def _xx_xor(a: str, b: str) -> str:
    # operands are < 2^64 by construction; xor() is defined on UBIGINT
    return f"xor(({a})::UBIGINT, ({b})::UBIGINT)::UHUGEINT"


def _xx_shr(x: str, n: int) -> str:
    return f"({x} // {1 << n}::UHUGEINT)"


def _xx_word_le(hx: str, byte_off: int) -> str:
    """Little-endian u64 from 8 bytes of a hex(encode(...)) string."""
    parts = "||".join(
        f"substr({hx},{byte_off * 2 + 2 * i + 1},2)" for i in range(7, -1, -1)
    )
    return f"(('0x'||{parts})::UBIGINT)::UHUGEINT"


def sql_xxhash64_ascii16(inner_sql: str, hx_col: str = "hx", out: str = "h") -> str:
    """DuckDB subquery pipeline computing Spark's ``xxhash64`` of a
    16-byte ASCII string, given an inner SELECT exposing ``hx_col`` =
    ``hex(encode(s))`` (plus any carry-through columns).

    Returns ``(SELECT *, step AS _xx1 FROM (...inner...)) ... `` — one
    nested projection per XXH64 step, ending with the ``{out}`` column.
    Nested subqueries (NOT lateral column aliases) are load-bearing:
    DuckDB inlines lateral aliases textually, so a 20-step chain where
    rotl/xor reference their operand twice explodes to ~400 copies of
    the word-extraction per row (measured: minutes instead of seconds at
    sf0.001); as nested projections each step is computed once.
    Intermediates are ``_xx``-prefixed to avoid caller collisions. A
    guard trips a loud hex-cast failure if the input is not exactly 16
    bytes (non-ASCII text would silently hash wrong otherwise — the md5
    contract is the general-input fallback)."""
    acc0 = (_XXH_SEED + _XXH_P5 + 16) & ((1 << 64) - 1)
    # 'G' is not a hex digit: any downstream ('0x'||...)::UBIGINT errors
    guard = f"CASE WHEN length({hx_col}) = 32 THEN {hx_col} ELSE repeat('G', 32) END"
    steps = [
        ("_xxg", guard),
        ("_xxw1", _xx_word_le("_xxg", 0)),
        ("_xxw2", _xx_word_le("_xxg", 8)),
        ("_xxa1", _xx_mul64("_xxw1", _XXH_P2)),
        ("_xxa2", _xx_rotl("_xxa1", 31)),
        ("_xxk1", _xx_mul64("_xxa2", _XXH_P1)),
        ("_xxx1", _xx_xor(f"{acc0}::UHUGEINT", "_xxk1")),
        ("_xxa3", _xx_rotl("_xxx1", 27)),
        ("_xxc1", f"(({_xx_mul64('_xxa3', _XXH_P1)} + {_XXH_P4}::UHUGEINT) % {_U64})"),
        ("_xxb1", _xx_mul64("_xxw2", _XXH_P2)),
        ("_xxb2", _xx_rotl("_xxb1", 31)),
        ("_xxk2", _xx_mul64("_xxb2", _XXH_P1)),
        ("_xxx2", _xx_xor("_xxc1", "_xxk2")),
        ("_xxb3", _xx_rotl("_xxx2", 27)),
        ("_xxc2", f"(({_xx_mul64('_xxb3', _XXH_P1)} + {_XXH_P4}::UHUGEINT) % {_U64})"),
        ("_xxv1", _xx_xor("_xxc2", _xx_shr("_xxc2", 33))),
        ("_xxv2", _xx_mul64("_xxv1", _XXH_P2)),
        ("_xxv3", _xx_xor("_xxv2", _xx_shr("_xxv2", 29))),
        ("_xxv4", _xx_mul64("_xxv3", _XXH_P3)),
        ("_xxv5", _xx_xor("_xxv4", _xx_shr("_xxv4", 32))),
        (
            out,
            f"CASE WHEN _xxv5 >= {1 << 63}::UHUGEINT "
            f"THEN (_xxv5::HUGEINT - {1 << 64}::HUGEINT)::BIGINT "
            f"ELSE _xxv5::HUGEINT::BIGINT END",
        ),
    ]
    sql = f"({inner_sql})"
    for name, expr in steps:
        sql = f"(SELECT *, {expr} AS {name} FROM {sql})"
    return sql


def encode_segy_revision(major: Column, minor: Column) -> Column:
    """SEG-Y revision code ``(major<<8)|minor`` (F6).

    Reference: ``src/mdio/segy/compat.py:92-121``.
    """
    return (F.shiftleft(major.cast("int"), 8) | minor.cast("int")).cast("int")
