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

Reads (:func:`slice_traces`, :func:`dense_slice`) prune to the chunk
files under the requested ranges with no I/O, from the manifest and the
driver-resident dim tables. A slice whose pruned chunk box decodes to at
most :data:`SLICE_DRIVER_MAX_BYTES` is read eagerly on the driver, the
way the reference reads the chunks under an xarray selection in the
caller's process: pyarrow reads the chunk files and the result is an
Arrow ``LocalRelation``, so building and collecting it run no Spark job.
A larger slice is a lazy Spark scan whose ``PartitionFilters`` skip the
pruned chunk directories.

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
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

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
# Slices whose pruned chunk box decodes to at most this many bytes are read
# on the driver with pyarrow into an Arrow LocalRelation (no Spark job);
# larger ones are Spark scans. It stays under Spark's 48 MiB
# spark.sql.execution.arrow.localRelationThreshold, above which the table
# would become a parallelized RDD. Crossover, warm, 4 cores, 512 x 256 x 128
# cube chunked 16 x 256, build + collect, driver vs Spark scan: a slice that
# returns its whole box took 0.80 vs 1.00 s at 13 MB, 1.62 vs 1.66 s at
# 26 MB, 1.68 vs 1.74 s at 39 MB and 2.47 vs 2.40 s at 52 MB (collecting the
# rows dominates both); one crossline through the box took 0.14 vs 0.23 s at
# 26 MB, 0.25 vs 0.28 s at 52 MB. Driver memory: building a slice grew the
# Python RSS by about 1.5x the box (44 MB at 26 MB), plus the LocalRelation
# rows in the JVM heap, against a driver heap of gigabytes.
SLICE_DRIVER_MAX_BYTES = 32 << 20


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
    dims: dict[str, pa.Table],
    path: str,
    chunks: dict[str, int],
    columns: list[str],
    sources: list[segy.SegyFileInfo],
    metrics: list[Column],
) -> dict:
    """K1/K2 write leg: the trace table and the dim tables (:func:`dim_table`,
    one per spatial dim) of a store; the manifest is the caller's last step
    (:func:`write_manifest`).

    ``traces`` holds header rows only — ``src_trace_idx`` (global over
    ``sources``, in argument order), the ``<dim>_chunk`` keys and the
    header columns to store — each partition sorted by (chunk keys,
    ``src_trace_idx``). Python tasks read the samples and raw headers of
    their own rows from ``sources`` and write the chunk files with pyarrow
    (zstd level :data:`ZSTD_LEVEL`, no dictionary on the payload columns):
    one ``part-<partition>-<key>.parquet`` per chunk key a partition
    holds. Ingest hands it one of three shapes:

    - under its header gate, rows sorted on the driver as an Arrow frame
      (a ``LocalRelation`` cut into contiguous slices, or past Spark's
      Arrow local-relation threshold a ``LogicalRDD`` of Arrow batches):
      each chunk directory gets 1 + (task boundaries inside the chunk)
      files at most, whatever the file order;
    - above it, a grid-ordered file kept in scan partitions: ~1 + (scan
      blocks overlapping the chunk) files per chunk directory;
    - above it, a chunk-key repartition: exactly one file per chunk.

    Absent rows write no file (``write_empty_chunks=False``).

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
    for dim, table in dims.items():
        write_dim_table(table, os.path.join(path, "dims", dim))
    return obs.get


def dim_table(field: StructField, values: Sequence | np.ndarray) -> pa.Table:
    """A2 dim table ``dims/<dim>``, built on the driver from a dim's sorted
    distinct ``values``: the value column typed and named as the header
    ``field`` (nullability included), then the 0-based ``<dim>_idx``
    (non-null long)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(
        StructType([field, StructField(f"{field.name}_idx", LongType(), False)])
    )
    return pa.table(
        [
            pa.array(values, schema.field(0).type),
            pa.array(np.arange(len(values)), pa.int64()),
        ],
        schema=schema,
    )


def write_dim_table(table: pa.Table, out_dir: str) -> None:
    """Write one tiny dim table (:func:`dim_table`) as
    ``<out_dir>/part-00000.parquet`` with pyarrow, replacing ``out_dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    pq.write_table(table, os.path.join(out_dir, "part-00000.parquet"))


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
    job; a query that broadcast-joins them runs one extra job), and
    ``dim_index`` holds their columns as numpy arrays for the slices'
    value -> index lookup and size gate. The trace table is read with the
    schema declared from one footer (``tables.read_parquet``); the slices
    under :data:`SLICE_DRIVER_MAX_BYTES` bypass it and read the chunk files
    with pyarrow into a ``LocalRelation`` of the same schema. Opening a
    store launches no Spark job."""
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

    The value range is translated to an index range (min/max ``<dim>_idx``
    over the dim values inside it) from the driver-resident dim table
    ``open_store`` loaded, and the index range to a chunk range. An empty
    value range short-circuits to an empty frame with the same schema.
    Then, by the decoded size of the pruned chunk box (its cells x the row
    width, known without I/O):

    - at or under :data:`SLICE_DRIVER_MAX_BYTES` the slice is read NOW, on
      the driver: the pruned chunk files with pyarrow, the rows inside the
      ranges kept with a numpy mask, the ``<dim>_chunk`` keys appended. The
      result is an Arrow ``LocalRelation``: collecting it runs no Spark job.
    - above it the slice is a lazy Spark scan with BOTH the value and the
      chunk-range predicates. A plain ``WHERE dim BETWEEN lo AND hi``
      cannot prune the ``<dim>_chunk=`` partition directories (Catalyst
      can't know chunk ids are a function of dim values), so every chunk's
      footers would be opened at 100 TB; the chunk predicates become the
      scan's ``PartitionFilters`` and skip whole chunk directories
      (asserted by ``tests/test_store_pruning.py``).

    Both give the same schema and rows. Building the slice runs no Spark
    job on either path."""
    ranges = _chunk_ranges(store, predicates)
    if ranges is None:
        return store.traces.where(F.lit(False))
    if _box_bytes(store, ranges) <= SLICE_DRIVER_MAX_BYTES:
        return _local_relation(
            store.traces.sparkSession,
            _read_box(store, predicates, ranges),
            store.traces.schema,
        )
    sel = store.traces
    for dim, (lo, hi) in predicates.items():
        sel = sel.where(
            F.col(dim).between(lo, hi) & F.col(f"{dim}_chunk").between(*ranges[dim])
        )
    return sel


def _local_relation(spark: SparkSession, table: pa.Table, schema: StructType):
    """``table`` as an Arrow ``LocalRelation`` with ``schema``. The chunks
    are combined first: Spark stops reading the Arrow stream at an empty
    record batch, so a chunked table with an empty chunk (a chunk file
    with no row inside the predicate) would silently lose every later
    row."""
    return spark.createDataFrame(table.combine_chunks(), schema=schema)


def _chunk_ranges(
    store: OpenedStore, predicates: dict[str, tuple[int, int]]
) -> dict[str, tuple[int, int]] | None:
    """Each predicate's chunk range (first, last chunk holding a dim value
    inside the value range), from the driver-resident dim tables; ``None``
    when some range holds no dim value."""
    ranges = {}
    for dim, (lo, hi) in predicates.items():
        chunk = store.chunks.get(dim, 1)
        values, idx = store.dim_index[dim]
        inside = idx[(values >= lo) & (values <= hi)]
        if inside.size == 0:
            return None
        ranges[dim] = (int(inside.min()) // chunk, int(inside.max()) // chunk)
    return ranges


def _box_bytes(store: OpenedStore, ranges: dict[str, tuple[int, int]]) -> int:
    """Decoded size of the pruned chunk box, with no I/O: its cells (each
    dim's cells in its chunk range, the whole dim where it has none) x the
    row width (4-byte samples, the 240-byte raw header and 8 bytes per
    header column)."""
    cells = 1
    for dim in store.spatial_dims:
        n = len(store.dim_index[dim][0])
        if dim in ranges:
            chunk = store.chunks.get(dim, 1)
            first, last = ranges[dim]
            n = min(n, (last + 1) * chunk) - first * chunk
        cells *= n
    vertical = store.dataset.attributes["verticalDim"]
    samples = next(d.size for d in store.dataset.dimensions if d.name == vertical)
    headers = len(store.traces.columns) - len(PAYLOAD_COLUMNS)
    return cells * (samples * 4 + 240 + 8 * headers)


def _read_box(
    store: OpenedStore,
    predicates: dict[str, tuple[int, int]],
    ranges: dict[str, tuple[int, int]],
) -> pa.Table:
    """The trace rows inside ``predicates``, read with pyarrow from the chunk
    files in ``ranges``, in ``store.traces`` column order. Hidden and
    ``_``-prefixed names are skipped, as Spark skips them; the
    ``<dim>_chunk`` keys come from the directory names, typed ``int`` as
    ``tables.declared_schema`` types them. ``ParquetFile.read`` does not
    import pandas (``pq.read_table`` does)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    root = os.path.join(store.path, "traces")
    bounds = {f"{d}_chunk": r for d, r in ranges.items()}

    def wanted(name: str) -> bool:
        col, _, key = name.partition("=")
        return col not in bounds or bounds[col][0] <= int(key) <= bounds[col][1]

    parts = []
    for parent, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")) and wanted(d))
        keys = [p.split("=", 1) for p in os.path.relpath(parent, root).split(os.sep)]
        for name in sorted(f for f in files if not f.startswith(("_", "."))):
            table = pq.ParquetFile(os.path.join(parent, name)).read()
            mask = np.ones(table.num_rows, bool)
            for dim, (lo, hi) in predicates.items():
                v = trace_arrow.numbers_from_arrow(table.column(dim), dim)
                mask &= (v >= lo) & (v <= hi)
            table = table.filter(pa.array(mask))
            for col, key in keys:
                table = table.append_column(
                    pa.field(col, pa.int32()),
                    pa.array(np.full(table.num_rows, int(key), np.int32)),
                )
            parts.append(table)
    if not parts:  # every cell of the box is dead
        return to_arrow_schema(store.traces.schema).empty_table()
    return pa.concat_tables(parts).select(store.traces.columns)


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
    bounding box. Only materializes the requested rectangle.

    The result is ``box.join(slice_traces(...), on=dims, how="left")``:
    one row per trace matching a box cell (several when a dim has no
    predicate) and one null row per empty cell, the ``<dim>_idx`` columns
    present twice (box, then trace). Under :data:`SLICE_DRIVER_MAX_BYTES`
    the rectangle is read and null-completed NOW, on the driver, into an
    Arrow ``LocalRelation`` with that schema; above it the join is a lazy
    crossJoin of the dim tables against the pruned scan."""
    if not predicates:
        raise ValueError("at least one dim predicate required")
    dims = list(predicates)
    ranges = _chunk_ranges(store, predicates)
    if ranges is not None and _box_bytes(store, ranges) <= SLICE_DRIVER_MAX_BYTES:
        sel = _read_box(store, predicates, ranges)
        fields = [store.dims[d].schema[d] for d in dims]
        fields += [store.dims[d].schema[f"{d}_idx"] for d in dims]
        fields += [f for f in store.traces.schema if f.name not in dims]
        return _local_relation(
            spark, _null_complete(store, predicates, sel), StructType(fields)
        )
    sel = slice_traces(store, predicates)  # chunk-partition-pruned scan
    box = None
    for dim, (lo, hi) in predicates.items():
        d = store.dims[dim].where(F.col(dim).between(lo, hi))
        box = d if box is None else box.crossJoin(d)
    return box.join(sel, on=dims, how="left")


def _null_complete(
    store: OpenedStore, predicates: dict[str, tuple[int, int]], sel: pa.Table
) -> pa.Table:
    """The left join of the box of dim values inside ``predicates`` with the
    trace rows ``sel``, in Arrow: the box's dim values and ``<dim>_idx``
    columns, then the columns of ``sel`` other than the dims, null for a
    cell no trace matches."""
    dims = list(predicates)
    axes = []
    for dim, (lo, hi) in predicates.items():
        values, idx = store.dim_index[dim]
        keep = np.flatnonzero((values >= lo) & (values <= hi))
        keep = keep[np.argsort(values[keep])]
        axes.append((values[keep], idx[keep]))
    shape = tuple(len(values) for values, _ in axes)
    at = [
        np.searchsorted(values, trace_arrow.numbers_from_arrow(sel.column(d), d))
        for d, (values, _) in zip(dims, axes)
    ]
    cell = np.ravel_multi_index(at, shape)
    empty = np.setdiff1d(np.arange(int(np.prod(shape))), cell)
    cells = np.unravel_index(np.concatenate([cell, empty]), shape)
    rows = np.arange(sel.num_rows + len(empty))
    right = sel.drop_columns(dims).take(pa.array(rows, mask=rows >= sel.num_rows))
    return pa.Table.from_arrays(
        [pa.array(values[c]) for (values, _), c in zip(axes, cells)]
        + [pa.array(idx[c]) for (_, idx), c in zip(axes, cells)]
        + right.columns,
        names=[*dims, *(f"{d}_idx" for d in dims), *right.column_names],
    )
