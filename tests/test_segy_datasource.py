"""spark.read.format("segy") — DataSource API parity with the plain-function
scan path."""

from __future__ import annotations

import pytest

from mdio_python_spark.sources import segy, segy_datasource
from mdio_python_spark.sources import segy_codec as codec
from tests.segy_factory import make_poststack_3d


@pytest.fixture(scope="module")
def segy_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ds") / "cube.segy")
    make_poststack_3d(path, n_inline=6, n_crossline=5, n_samples=16)
    return path


def test_format_segy_reads_headers_and_samples(spark, segy_file):
    """format("segy") and read_traces run the same block decoder: equal
    rows, raw headers and samples, with block_size=7 leaving a short last
    block (30 traces = 4 x 7 + 2)."""
    segy_datasource.register(spark)
    df = (
        spark.read.format("segy")
        .option("path", segy_file)
        .option("fields", "inline,crossline,cdp_x")
        .option("raw_header", "true")
        .option("block_size", "7")  # force multiple partitions
        .load()
    )
    assert [f.name for f in df.schema.fields] == [
        "src_trace_idx",
        "inline",
        "crossline",
        "cdp_x",
        "raw_header",
        "samples",
    ]
    assert df.rdd.getNumPartitions() == 5
    rows = df.orderBy("src_trace_idx").collect()
    assert len(rows) == 30
    assert [r.src_trace_idx for r in rows] == list(range(30))

    info = segy.segy_file_info(segy_file)
    expected = segy.read_traces(
        spark,
        info,
        ["inline", "crossline", "cdp_x"],
        include_samples=True,
        include_raw_header=True,
        block_size=7,
    ).orderBy("src_trace_idx").collect()
    assert len(expected) == 30
    with open(segy_file, "rb") as f:
        f.seek(info.data_offset)
        file_traces = f.read()
    for i, (got, want) in enumerate(zip(rows, expected)):
        assert got == want
        start = i * info.trace_bytes
        assert bytes(got.raw_header) == file_traces[
            start : start + codec.TRACE_HEADER_BYTES
        ]


def test_format_segy_header_only_prunes_samples(spark, segy_file):
    segy_datasource.register(spark)
    df = (
        spark.read.format("segy")
        .option("path", segy_file)
        .option("fields", "inline,crossline")
        .option("samples", "false")
        .load()
    )
    assert "samples" not in df.columns
    assert df.count() == 30
    agg = df.groupBy("inline").count().orderBy("inline").collect()
    assert [r["count"] for r in agg] == [5] * 6


def test_format_segy_unknown_field_errors(spark, segy_file):
    segy_datasource.register(spark)
    with pytest.raises(Exception, match="unknown header fields"):
        (
            spark.read.format("segy")
            .option("path", segy_file)
            .option("fields", "not_a_field")
            .load()
            .collect()
        )
