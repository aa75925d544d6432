"""Loaders for the driver's deterministic parquet tables (TESTDATA.md).

Schemas are declared, never inferred — mirroring the reference's
declared-schema discipline (``src/mdio/builder/schemas/core.py:10-19``:
pydantic ``extra="forbid"`` validation). Parquet carries its own schema, so
every table read here (:func:`read_parquet`) takes it from one footer read
on the driver and hands it to Spark: building a plan over a table runs no
schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to a canonical TimestampType,
    shared by the batch and streaming event readers. The driver's
    ``events.parquet`` layout has varied across rounds:

    - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` the
      column arrives as int64 nanos; rebuild a microsecond TimestampType
      with integer division (a double round-trip would lose precision at
      ~1.7e18 ns). DuckDB truncates ns->us the same way, so oracles match.
    - timestamp[us] without tz: Spark 4 reads it as TIMESTAMP_NTZ; cast to
      TimestampType. The session tz is pinned UTC (session.py), so the
      wall-clock values are unchanged and DuckDB ``epoch_us`` parity holds.
    - already TimestampType: no-op."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    elif dtype == "int":
        # defensive: epoch seconds (another plausible on-disk drift)
        df = df.withColumn(col, F.expr(f"timestamp_seconds({col})"))
    elif dtype == "string":
        # defensive: ISO-8601 strings; UTC session tz keeps parity
        df = df.withColumn(col, F.to_timestamp(F.col(col)))
    return df


def declared_schema(path: str) -> StructType | None:
    """The Spark schema of the parquet table at ``path`` (one file, or a
    directory with hive ``<col>=<int>`` partitions), declared from ONE
    footer read with pyarrow on the driver: the file's columns through
    ``from_arrow_schema``, then the partition columns named in that file's
    directory path, typed ``int`` as Spark infers small integer values.
    Files and directories whose names start with ``_`` or ``.`` are skipped,
    as Spark skips them. ``None`` when there is no data file.

    The types are the ones Spark infers from the same file. A timestamp's
    Arrow type does not say how it is stored, so its Spark type is taken
    from the Parquet column: INT96 (what Spark writes for a ``timestamp``
    column by default; pyarrow reports it as ``timestamp[ns]``) is
    ``timestamp``; TIMESTAMP(NANOS), which Spark reads only under
    ``spark.sql.legacy.parquet.nanosAsLong``, is ``bigint``; any other
    timestamp without a time zone is ``timestamp_ntz``."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    first, parts = path, []
    if os.path.isdir(path):
        first = None
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            files = sorted(f for f in files if not f.startswith(("_", ".")))
            if files:
                first = os.path.join(root, files[0])
                parts = os.path.relpath(root, path).split(os.sep)
                break
        if first is None:
            return None
    with pq.ParquetFile(first) as footer:
        arrow, stored = footer.schema_arrow, footer.schema
    columns = {c.path: c for c in map(stored.column, range(len(stored)))}
    for i, f in enumerate(list(arrow)):
        column = columns.get(f.name)  # top-level columns only
        if column is None or not pa.types.is_timestamp(f.type):
            continue
        if column.physical_type == "INT96":
            arrow = arrow.set(i, f.with_type(pa.timestamp("us", tz="UTC")))
        elif json.loads(column.logical_type.to_json()).get("timeUnit") == "nanoseconds":
            arrow = arrow.set(i, f.with_type(pa.int64()))
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    for part in parts:
        if "=" in part:
            schema = schema.add(part.split("=", 1)[0], IntegerType())
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema of :func:`declared_schema`:
    the read runs no schema-inference job."""
    schema = declared_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One of :data:`TABLE_NAMES` through :func:`read_parquet`."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.parquet may store TIMESTAMP(NANOS); Spark 4 rejects it
        # unless read as raw int64.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_nanos_ts(read_parquet(spark, table_path(sf_dir, name)))
    return read_parquet(spark, table_path(sf_dir, name))
