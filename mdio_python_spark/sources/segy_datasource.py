"""SEG-Y as a first-class PySpark DataSource: ``spark.read.format("segy")``.

The Python DataSource API (Spark 4) packages the distributed trace scan
of :mod:`mdio_python_spark.sources.segy` (SURVEY §7.2: "PySpark
DataSource with header-only and full-trace modes"): the driver does the
S1 file-info scan, ``partitions()`` declares one InputPartition per trace
block (the reference's 10k-trace task unit,
``src/mdio/segy/parsers.py:27,55``), and each task decodes its block with
the same :func:`~mdio_python_spark.sources.segy.decode_trace_block` that
``segy.read_traces`` runs — one decoder, one Arrow batch per block, no
shuffle at any file size.

Column pruning is option-driven (``fields``): only requested header fields
are decoded (P1, ``ingestion/segy/reader.py:48-57``) with the default
header spec. Options carry strings only, so callers that need a custom
header-spec object or a per-file trace-ordinal offset (ingest) call
``segy.read_traces`` instead.

Usage::

    spark.dataSource.register(SegyDataSource)
    df = (spark.read.format("segy")
          .option("path", "/data/file.segy")
          .option("fields", "inline,crossline,cdp_x,cdp_y")
          .option("samples", "true")
          .load())
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from mdio_python_spark.sources import segy
from mdio_python_spark.sources import segy_codec as codec

DEFAULT_FIELDS = "inline,crossline"


def _parse_options(options) -> dict:
    path = options.get("path")
    if not path:
        raise ValueError("segy datasource requires .option('path', ...)")
    fields = [
        f.strip()
        for f in options.get("fields", DEFAULT_FIELDS).split(",")
        if f.strip()
    ]
    unknown = [f for f in fields if f not in codec.DEFAULT_TRACE_HEADER_SPEC]
    if unknown:
        raise ValueError(
            f"unknown header fields {unknown}; known: "
            f"{sorted(codec.DEFAULT_TRACE_HEADER_SPEC)}"
        )
    truthy = ("1", "true", "yes")
    return {
        "path": path,
        "fields": fields,
        "samples": str(options.get("samples", "true")).lower() in truthy,
        "raw_header": str(options.get("raw_header", "false")).lower() in truthy,
        "block_size": int(options.get("block_size", 10_000)),
        "text_encoding": options.get("text_encoding", "cp037"),
    }


class SegyDataSource(DataSource):
    """``format("segy")`` — batch reader over a SEG-Y file."""

    @classmethod
    def name(cls) -> str:
        return "segy"

    def schema(self) -> str:
        opts = _parse_options(self.options)
        return segy.trace_schema(opts["fields"], opts["raw_header"], opts["samples"])

    def reader(self, schema) -> "SegyReader":
        return SegyReader(self.options)


class SegyReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.opts = _parse_options(options)
        # S1 driver-side scan; the small info record ships to every task
        self.info = segy.segy_file_info(self.opts["path"], self.opts["text_encoding"])

    def partitions(self) -> list[InputPartition]:
        n_blocks = max(1, math.ceil(self.info.num_traces / self.opts["block_size"]))
        return [InputPartition(i) for i in range(n_blocks)]

    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        opts = self.opts
        start = partition.value * opts["block_size"]
        n = min(opts["block_size"], self.info.num_traces - start)
        if n <= 0:
            return
        with open(opts["path"], "rb") as f:
            yield segy.decode_trace_block(
                f, self.info, start, n, opts["fields"],
                raw_header=opts["raw_header"], samples=opts["samples"],
            )


def register(spark) -> None:
    """Register ``format("segy")`` on this session."""
    spark.dataSource.register(SegyDataSource)
