"""Table reads declare their schema from the parquet footer: the schema is
the one Spark infers, and building the read runs no Spark job."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE, next_job_id

from mdio_python_spark.sources import tables


@pytest.mark.parametrize("name", tables.TABLE_NAMES)
def test_load_table_declares_the_inferred_schema(spark, name):
    before = next_job_id(spark)
    loaded = tables.load_table(spark, SF_SMOKE, name)
    assert next_job_id(spark) - before == 0
    bare = spark.read.parquet(tables.table_path(SF_SMOKE, name))
    if name == "events":
        bare = tables.normalize_nanos_ts(bare)
    assert loaded.schema == bare.schema


def test_nanos_timestamps_declare_as_long(spark, tmp_path):
    """A TIMESTAMP(NANOS) column is read as int64 under nanosAsLong, and a
    naive microsecond timestamp as timestamp_ntz, as Spark infers them."""
    path = str(tmp_path / "nanos.parquet")
    ns = np.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], "int64")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(ns.view("datetime64[ns]")),
                "ts_us": pa.array(ns.view("datetime64[ns]").astype("datetime64[us]")),
                "v": pa.array([1.0, 2.0]),
            }
        ),
        path,
        version="2.6",
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    declared = tables.read_parquet(spark, path)
    assert declared.dtypes == [
        ("ts", "bigint"), ("ts_us", "timestamp_ntz"), ("v", "double")
    ]
    assert declared.schema == spark.read.parquet(path).schema
    assert [r.ts for r in declared.collect()] == ns.tolist()


@pytest.mark.parametrize("stored", ["INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS"])
def test_spark_written_timestamps_declare_as_spark_reads_them(spark, tmp_path, stored):
    """Spark writes a ``timestamp`` column as INT96 by default, which pyarrow
    reports as ``timestamp[ns]`` just like TIMESTAMP(NANOS): the declared
    type follows the Parquet column, so schema and values are Spark's."""
    path = str(tmp_path / "spark.parquet")
    key = "spark.sql.parquet.outputTimestampType"
    previous = spark.conf.get(key)
    spark.conf.set(key, stored)
    try:
        spark.sql(
            "select timestamp'2024-03-01 12:34:56.789' as ts,"
            " timestamp_ntz'2024-03-01 12:34:56.789' as ntz, 1 as v"
        ).write.parquet(path)
    finally:
        spark.conf.set(key, previous)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    declared = tables.read_parquet(spark, path)
    bare = spark.read.parquet(path)
    assert declared.dtypes == [
        ("ts", "timestamp"), ("ntz", "timestamp_ntz"), ("v", "int")
    ]
    assert declared.schema == bare.schema
    assert declared.collect() == bare.collect()
