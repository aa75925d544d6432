"""Chunked trace store: the Spark-native analog of the MDIO/Zarr container.

Layout (replacing ``src/mdio/api/io.py:38-107`` open/to_mdio):

    <store>/
      manifest.json      Dataset document (schemas.dataset) + chunk config
      traces/            long-format Parquet, hive-partitioned by <dim>_chunk:
                         <dim>_chunk=k/.../part-<partition>-<key>.parquet
      dims/<dim>/        tiny Parquet dim tables (value, 0-based idx),
                         written and read with pyarrow on the driver

One row per live trace (sparse storage — dead cells simply absent; the
live mask is row existence). Chunk-key partition columns give Catalyst
static partition pruning for dim-range predicates, the analog of Zarr
chunk-aligned reads. Parquet+zstd replaces Blosc
(``builder/schemas/compressors.py:24-25``).

Ingest writes ``traces/`` with :func:`write_data`: Python tasks read their
own traces from the SEG-Y files and write the chunk files with pyarrow, so
the sample payload never enters the JVM. There is no ``_SUCCESS`` marker:
``manifest.json`` is removed when a write starts and lands last, so a
store is complete once it has a manifest.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator
from dataclasses import dataclass
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.sources import segy, tables, trace_arrow

if TYPE_CHECKING:
    # imported where it is used: the Python workers unpickle this module's
    # ChunkFileWriter, and the dataset schema would import pydantic there
    from mdio_python_spark.schemas.dataset import Dataset

MANIFEST = "manifest.json"

# the columns the store writer reads from the SEG-Y bytes itself: the plan
# that drives it carries header rows only
PAYLOAD_COLUMNS = ("raw_header", "samples")
# what the writer returns per trace: the statsV1 partials of
# segy.decode_trace_rows(sample_stats=True)
STATS_SCHEMA = "n_nz long, s_sum double, s_ssq double, s_min double, s_max double"
ZSTD_LEVEL = 3


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


@dataclass
class ChunkFileWriter:
    """The store writer's task body (a ``mapInArrow`` function): header
    rows in, per-trace statsV1 partials out, chunk files on disk.

    Each task's rows must arrive sorted by (chunk keys, ``src_trace_idx``).
    A batch's global ``src_trace_idx`` values map to (file, local trace)
    through the per-file offsets; each contiguous run of traces is read
    with one ``segy.read_trace_rows`` call and the batch is decoded once.
    Each chunk key's rows go to one file,
    ``<root>/<dim>_chunk=k/.../part-<partition>-<key>.parquet``, written
    under a hidden temporary name and then renamed, so a retried task
    rewrites the same file. A task that fails removes its open temporary
    file; one killed outright leaves a hidden name, which Spark's reader
    and the chunk-aligned export skip."""

    root: str
    chunk_cols: list[str]
    schema: pa.Schema  # every chunk file's columns, in store order
    sources: list[segy.SegyFileInfo]

    def __call__(self, batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        return self.write_partition(batches, ctx.partitionId(), ctx.attemptNumber())

    def write_partition(
        self, batches: Iterator[pa.RecordBatch], partition: int, attempt: int
    ) -> Iterator[pa.RecordBatch]:
        offsets = np.cumsum([0] + [s.num_traces for s in self.sources[:-1]])
        handles: dict[int, object] = {}
        current = None  # (key, ParquetWriter, temporary path, final path)
        try:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                decoded = self._decode(batch, offsets, handles)
                cols = {name: batch.column(name) for name in batch.schema.names}
                for name in PAYLOAD_COLUMNS:
                    cols[name] = decoded.column(name)
                table = pa.Table.from_arrays(
                    [cols[f.name] for f in self.schema], schema=self.schema
                )
                keys = np.column_stack(
                    [
                        trace_arrow.numbers_from_arrow(batch.column(c), c)
                        for c in self.chunk_cols
                    ]
                )
                cut = np.flatnonzero((keys[1:] != keys[:-1]).any(axis=1)) + 1
                for lo, hi in zip([0, *cut], [*cut, len(keys)]):
                    key = tuple(int(k) for k in keys[lo])
                    if current is not None and current[0] != key:
                        done, current = current, None
                        self._commit(done)
                    if current is None:
                        current = self._open(key, partition, attempt)
                    current[1].write_table(table.slice(lo, hi - lo))
                yield decoded.select(["n_nz", "s_sum", "s_ssq", "s_min", "s_max"])
            if current is not None:
                done, current = current, None
                self._commit(done)
        finally:
            if current is not None:  # failed or abandoned: drop the partial file
                current[1].close()
                os.remove(current[2])
            for f in handles.values():
                f.close()

    def _decode(self, batch, offsets, handles) -> pa.RecordBatch:
        src = trace_arrow.numbers_from_arrow(
            batch.column("src_trace_idx"), "src_trace_idx"
        )
        file_no = np.searchsorted(offsets, src, side="right") - 1
        local = src - offsets[file_no]
        raw = np.empty((len(src), self.sources[0].trace_bytes), np.uint8)
        cut = np.flatnonzero((np.diff(file_no) != 0) | (np.diff(local) != 1)) + 1
        for lo, hi in zip([0, *cut], [*cut, len(src)]):
            i = int(file_no[lo])
            if i not in handles:
                handles[i] = open(self.sources[i].path, "rb")
            segy.read_trace_rows(handles[i], self.sources[i], int(local[lo]), raw[lo:hi])
        return segy.decode_trace_rows(
            raw, self.sources[0], src, [], raw_header=True, sample_stats=True
        )

    def _open(self, key: tuple[int, ...], partition: int, attempt: int):
        out_dir = os.path.join(
            self.root, *(f"{c}={k}" for c, k in zip(self.chunk_cols, key))
        )
        os.makedirs(out_dir, exist_ok=True)
        name = f"part-{partition:05d}-{'_'.join(map(str, key))}.parquet"
        tmp = os.path.join(out_dir, f".{name}.{attempt}.tmp")
        writer = pq.ParquetWriter(
            tmp,
            self.schema,
            compression="zstd",
            compression_level=ZSTD_LEVEL,
            use_dictionary=[c for c in self.schema.names if c not in PAYLOAD_COLUMNS],
        )
        return key, writer, tmp, os.path.join(out_dir, name)

    @staticmethod
    def _commit(current) -> None:
        _, writer, tmp, final = current
        writer.close()
        os.replace(tmp, final)


def trace_writer(
    traces: DataFrame,
    root: str,
    chunk_cols: list[str],
    columns: list[str],
    sources: list[segy.SegyFileInfo],
) -> DataFrame:
    """The lazy store write: :class:`ChunkFileWriter` over the header rows
    of ``traces``, one output row of :data:`STATS_SCHEMA` per trace. Each
    chunk file holds ``columns`` (the header columns plus
    :data:`PAYLOAD_COLUMNS`), typed as Spark types them, every column
    nullable as in a Spark-written file."""
    from pyspark.sql.pandas.types import to_arrow_schema

    header = to_arrow_schema(traces.schema)
    fields = {f.name: f.with_nullable(True) for f in header}
    fields["raw_header"] = pa.field("raw_header", pa.binary())
    fields["samples"] = pa.field("samples", pa.list_(pa.float32()))
    schema = pa.schema([fields[c] for c in columns])
    writer = ChunkFileWriter(root, list(chunk_cols), schema, list(sources))
    return traces.mapInArrow(writer, schema=STATS_SCHEMA)


def write_data(
    traces: DataFrame,
    dim_tables: dict[str, DataFrame],
    path: str,
    chunks: dict[str, int],
    columns: list[str],
    sources: list[segy.SegyFileInfo],
    metrics: list[Column],
) -> dict:
    """K1/K2 write leg: the trace table and the dim tables of a store; the
    manifest is the caller's last step (:func:`write_manifest`).

    ``traces`` holds header rows only — ``src_trace_idx`` (global over
    ``sources``, in argument order), the ``<dim>_chunk`` keys and the
    header columns to store — each partition sorted by (chunk keys,
    ``src_trace_idx``). Python tasks read the samples and raw headers of
    their own rows from ``sources`` and write the chunk files with pyarrow
    (zstd level :data:`ZSTD_LEVEL`, no dictionary on the payload columns):
    one ``part-<partition>-<key>.parquet`` per chunk key a partition
    holds. A grid-ordered file kept in scan partitions therefore gives
    ~1 + (scan blocks overlapping the chunk) files per chunk directory, a
    chunk-key repartition exactly one. Absent rows write no file
    (``write_empty_chunks=False``).

    ``metrics`` are aggregates over the per-trace :data:`STATS_SCHEMA`
    partials, folded by ``observe`` during the one write job and returned.
    An existing store at ``path`` loses its manifest first, then its
    trace and dim tables. There is no ``_SUCCESS`` marker: the store is
    complete once the caller's ``manifest.json`` lands. Like
    ``segy.read_traces``, the tasks open ``sources`` and ``path`` by
    name, so both must be reachable from every executor (local mode or a
    shared POSIX mount)."""
    manifest = os.path.join(path, MANIFEST)
    if os.path.exists(manifest):
        os.remove(manifest)
    root = os.path.join(path, "traces")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    chunk_cols = [f"{d}_chunk" for d in chunks]
    obs = Observation("store_write")
    (
        trace_writer(traces, root, chunk_cols, columns, sources)
        .observe(obs, *metrics)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    for dim, table in dim_tables.items():
        write_dim_table(table, os.path.join(path, "dims", dim))
    return obs.get


def write_dim_table(table: DataFrame, out_dir: str) -> None:
    """Write one tiny dim table as ``<out_dir>/part-00000.parquet`` with
    pyarrow, replacing ``out_dir``. The dim tables ingest builds and
    ``open_store`` serves are Arrow ``LocalRelation``s, whose ``collect``
    runs no Spark job; column types and nullability are the table's."""
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = [r.asDict() for r in table.collect()]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(table.schema)),
        os.path.join(out_dir, "part-00000.parquet"),
    )


def write_manifest(dataset: Dataset, path: str, chunks: dict[str, int]) -> None:
    """Manifest leg, the last file of a store: callers learn statistics
    during the data write (``observe()``, see :func:`write_data`) and put
    them in the dataset document before it lands."""
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
    as Arrow ``LocalRelation`` DataFrames (collecting them runs no Spark
    job; a query that broadcast-joins them runs one extra job), and ``dim_index`` holds their columns as
    numpy arrays for ``slice_traces``' value -> index lookup. The trace
    table is read with the schema declared from one footer
    (``tables.read_parquet``). Opening a store launches no Spark job."""
    from mdio_python_spark.schemas.dataset import Dataset

    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    dataset = Dataset.model_validate(manifest["dataset"])
    traces = tables.read_parquet(spark, os.path.join(path, "traces"))
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
