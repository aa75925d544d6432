"""Chunked trace store: the Spark-native analog of the MDIO/Zarr container.

Layout (replacing ``src/mdio/api/io.py:38-107`` open/to_mdio):

    <store>/
      manifest.json      Dataset document (schemas.dataset) + chunk config
      traces/            long-format Parquet, partitioned by <dim>_chunk
      dims/<dim>/        tiny Parquet dim tables (value, 0-based idx),
                         written and read with pyarrow on the driver

One row per live trace (sparse storage — dead cells simply absent; the
live mask is row existence). Chunk-key partition columns give Catalyst
static partition pruning for dim-range predicates, the analog of Zarr
chunk-aligned reads. Parquet+zstd replaces Blosc
(``builder/schemas/compressors.py:24-25``).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.operators import grid
from mdio_python_spark.schemas.dataset import Dataset

MANIFEST = "manifest.json"


@dataclass
class OpenedStore:
    traces: DataFrame
    dims: dict[str, DataFrame]
    dataset: Dataset
    path: str
    chunks: dict[str, int]
    # the dims/<dim> tables held on the driver: (values, <dim>_idx) arrays
    dim_index: dict[str, tuple[np.ndarray, np.ndarray]]

    @property
    def spatial_dims(self) -> list[str]:
        return list(self.dataset.attributes.get("spatialDims", []))

    @property
    def chunk_cols(self) -> list[str]:
        return [f"{d}_chunk" for d in self.spatial_dims]

    def _repr_html_(self) -> str:
        """Notebook repr: the opened store renders its manifest."""
        return self.dataset._repr_html_()


def write_data(
    traces: DataFrame,
    dim_tables: dict[str, DataFrame],
    path: str,
    chunks: dict[str, int],
    codec: str = "zstd",
    direct: bool = False,
) -> None:
    """K1/K2 write leg: trace table repartitioned by chunk key, one shuffle.

    ``traces`` must already carry ``<dim>_idx`` columns (grid.assign_cells);
    chunk keys are derived here. ``write_empty_chunks=False`` is free:
    absent rows produce no files.

    ``direct=True`` skips the chunk-key exchange and lets each SCAN task
    write its rows straight into the partitioned layout — correct for
    any input, but only CHEAP when the source arrives grid-ordered so a
    task's rows land in O(1) chunk directories (the dynamic-partition
    writer sorts within the task either way, so open-file count stays
    1). The caller decides from measured header stats
    (``pipelines.ingest`` checks max distinct chunk keys per scan
    block); a shot-scrambled file keeps the exchange. The payoff is the
    whole shuffle of the sample payload — the single largest ingest
    cost at scale (the r7 10x stress row spent most of its 90.6 s
    pivot-write moving 7.3 GB through the exchange). File-count trade:
    hash repartition gives exactly 1 file per chunk dir; direct gives
    ~1 + blocks-overlapping-the-chunk (2-3 for ordered input)."""
    spatial = list(chunks)
    with_keys = grid.chunk_keys(traces, spatial, [chunks[d] for d in spatial])
    chunk_cols = [f"{d}_chunk" for d in spatial]
    if not direct:
        with_keys = with_keys.repartition(*chunk_cols)
    (
        with_keys.write.mode("overwrite")
        .option("compression", codec)
        .partitionBy(*chunk_cols)
        .parquet(os.path.join(path, "traces"))
    )
    for dim, table in dim_tables.items():
        write_dim_table(table, os.path.join(path, "dims", dim))


def write_dim_table(table: DataFrame, out_dir: str) -> None:
    """Write one tiny dim table as ``<out_dir>/part-00000.parquet`` with
    pyarrow, replacing ``out_dir``. The dim tables ingest builds and
    ``open_store`` serves are Arrow ``LocalRelation``s, whose ``collect``
    runs no Spark job; column types and nullability are the table's."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = [r.asDict() for r in table.collect()]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(table.schema)),
        os.path.join(out_dir, "part-00000.parquet"),
    )


def write_manifest(dataset: Dataset, path: str, chunks: dict[str, int]) -> None:
    """Manifest leg — split out so callers that learn statistics *during*
    the data write (``observe()``, see pipelines.ingest) can patch the
    dataset document before it lands."""
    manifest = {
        "dataset": dataset.model_dump(mode="json"),
        "chunks": chunks,
        "format": "mdio-spark-store/1",
        # Interop boundary, recorded so a future environment with the
        # missing codecs can plug in without a format change:
        # - trace data lives in parquet with the column codec named here
        #   (not zarr chunks); zarr EXPORTS use null/zlib/gzip (stdlib) —
        #   blosc-zstd (the reference's default, builder/schemas/
        #   compressors.py:24-25) raises UnsupportedCodecError on read and
        #   plugs into zarr_store._decode_chunk/_encode_chunk.
        # - lossy access views use quantize+zstd with the same accuracy
        #   contract as the reference's fixed-accuracy ZFP (compressors.
        #   py:46-98) but NOT the ZFP on-disk format; see
        #   operators/access_pattern.py.
        "codecs": {
            "traces": "parquet/zstd",
            "zarr_export": ["null", "zlib", "gzip"],
            "zarr_unsupported": ["blosc", "zstd"],
            "lossy": "quantize+zstd (ZFP-accuracy analog, not ZFP format)",
        },
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2, default=str)


def open_store(spark: SparkSession, path: str) -> OpenedStore:
    """``open_mdio`` analog (S4): lazy trace DataFrame + manifest round-trip.

    The tiny ``dims/<dim>`` tables (one row per dim value) are read once,
    with pyarrow on the driver, and kept in memory: ``dims`` serves them
    as Arrow ``LocalRelation`` DataFrames (joins and collects against them
    run no Spark job over them), and ``dim_index`` holds their columns as
    numpy arrays for ``slice_traces``' value -> index lookup. Opening a
    store launches no Spark job for the dims."""
    import pyarrow.parquet as pq

    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    dataset = Dataset.model_validate(manifest["dataset"])
    traces = spark.read.parquet(os.path.join(path, "traces"))
    dims, dim_index = {}, {}
    for d in os.listdir(os.path.join(path, "dims")):
        table = pq.read_table(os.path.join(path, "dims", d))
        dims[d] = spark.createDataFrame(table)
        dim_index[d] = (
            table.column(d).to_numpy(),
            table.column(f"{d}_idx").to_numpy(),
        )
    return OpenedStore(
        traces=traces,
        dims=dims,
        dataset=dataset,
        path=path,
        chunks={k: int(v) for k, v in manifest.get("chunks", {}).items()},
        dim_index=dim_index,
    )


def slice_traces(
    store: OpenedStore, predicates: dict[str, tuple[int, int]]
) -> DataFrame:
    """Dim-value range selection WITH chunk-partition pruning — the Zarr
    chunk-aligned-read analog (``api/io.py`` slicing semantics).

    A plain ``WHERE dim BETWEEN lo AND hi`` cannot prune the store's
    ``<dim>_chunk=`` partition directories (Catalyst can't know chunk ids
    are a function of dim values), so every chunk's footers would be
    opened at 100 TB. Here the value range is translated to an index range
    (min/max ``<dim>_idx`` over the dim values inside it) from the
    driver-resident dim table ``open_store`` loaded, the index range to a
    chunk range, and BOTH predicates are applied — the scan's
    ``PartitionFilters`` then skip whole chunk directories (asserted by
    ``tests/test_store_pruning.py``). Building the slice runs no Spark
    job. An empty value range short-circuits to an empty frame with the
    same schema.
    """
    sel = store.traces
    for dim, (lo, hi) in predicates.items():
        chunk = store.chunks.get(dim, 1)
        values, idx = store.dim_index[dim]
        inside = idx[(values >= lo) & (values <= hi)]
        if inside.size == 0:
            return store.traces.where(F.lit(False))
        sel = sel.where(
            F.col(dim).between(lo, hi)
            & F.col(f"{dim}_chunk").between(
                int(inside.min()) // chunk, int(inside.max()) // chunk
            )
        )
    return sel


def open_mdio(spark: SparkSession, path: str) -> DataFrame:
    """``open_mdio`` analog accepting EITHER container format: this
    engine's parquet store (manifest.json) or an MDIO-shaped zarr cube in
    v2 or v3 layout (``api/io.py:36-66``) — both yield the same
    long-format trace DataFrame (dim values + indices + samples)."""
    if os.path.exists(os.path.join(path, MANIFEST)):
        return open_store(spark, path).traces
    if any(
        os.path.exists(os.path.join(path, marker))
        for marker in (".zgroup", ".zmetadata", "zarr.json")
    ):
        from mdio_python_spark.sources.zarr_store import zarr_cube_to_df

        return zarr_cube_to_df(spark, path)
    raise ValueError(f"{path}: neither an engine store nor a zarr group")


def dense_slice(
    store: OpenedStore, spark: SparkSession, predicates: dict[str, tuple[int, int]]
) -> DataFrame:
    """Dense-on-read rectangle (SURVEY §7 hard part 2): null-complete the
    sparse rows against the dim-table cross product within the requested
    bounding box. Only materializes the requested rectangle."""
    if not predicates:
        raise ValueError("at least one dim predicate required")
    sel = slice_traces(store, predicates)  # chunk-partition-pruned scan
    box = None
    for dim, (lo, hi) in predicates.items():
        d = store.dims[dim].where(F.col(dim).between(lo, hi))
        box = d if box is None else box.crossJoin(d)
    join_dims = list(predicates)
    return box.join(sel, on=join_dims, how="left")
