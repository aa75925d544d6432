"""Distributed SEG-Y source & sink.

Reading (S1/S2/S3, ``src/mdio/segy/file.py:152-186``, ``parsers.py:23-76``,
``_raw_trace_wrapper.py:14-49``): the driver scans the 3600-byte file header
once; each executor task then seeks its own trace block's byte range — the
Spark analog of the reference's 10k-trace process-pool fan-out, decoded
per block in numpy, not per row. One decoder, :func:`decode_trace_rows`,
serves :func:`read_traces` (the engine's entry point: it takes a
header-spec object) and ``format("segy")`` (``segy_datasource``) through
:func:`decode_trace_block`, and the ingest store writer
(``sources.store``), which gathers its traces with :func:`read_trace_rows`.

Writing (K3/K4, ``segy/blocked_io.py:214-302``, ``creation.py:61-125``):
every output goes through one positional writer, :func:`_write_positional`:
the driver writes the file headers into a hidden, pre-sized temp file
beside the output, each task ``pwrite``s its trace bytes at their final
offset, and the temp file replaces the output once every task succeeded.
A whole-store export in dim order takes each major chunk's offset from the
parquet footers, so its encode tasks write straight into the file with no
shuffle (:func:`write_segy_store_aligned`). Any other export
(:func:`write_segy`) range-partitions on the sort key
(``repartitionByRange(dims) + sortWithinPartitions``: partition i holds
keys < partition i+1), encodes each partition into a local part file and
copies it to the offset its trace count gives; this replaces the
reference's hierarchical merge tree. Both feed ``_encode_trace_block``.

Trace blocks cross the Spark boundary as Arrow only, through
:mod:`~mdio_python_spark.sources.trace_arrow`; no pandas on any path.
Scale: at 100 TB the read path is embarrassingly parallel byte-range scans
(no shuffle); the write path shuffles at most once, on the export sort key.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from mdio_python_spark.sources import segy_codec as codec
from mdio_python_spark.sources import trace_arrow


@dataclass
class SegyFileInfo:
    """S1 file-info scan result (``segy/file.py:152-186``)."""

    path: str
    num_traces: int
    samples_per_trace: int
    sample_interval: int  # microseconds
    data_format: int
    measurement_system: int
    text_header: str
    binary_header: dict[str, int]
    sample_bytes: int = 4
    # verbatim file-header bytes (F7, ``ingestion/segy/file_headers.py:45-53``):
    # the decoded dict/str views above model only the named fields; real
    # files carry content in unmodeled positions that must survive roundtrip
    raw_text_header: bytes = b""
    raw_binary_header: bytes = b""
    # rev1 extended textual headers (binary-header count at byte 304):
    # 3200-byte blocks between the binary header and the first trace
    extended_headers: int = 0
    raw_extended_headers: bytes = b""

    @property
    def trace_bytes(self) -> int:
        return codec.TRACE_HEADER_BYTES + self.samples_per_trace * self.sample_bytes

    @property
    def data_offset(self) -> int:
        """Byte offset of the first trace: 3600 + extended text headers."""
        return codec.FILE_HEADER_BYTES + self.extended_headers * codec.TEXT_HEADER_BYTES


def segy_file_info(path: str, text_encoding: str = "cp037") -> SegyFileInfo:
    """Driver-side one-shot scan of text header, binary header, extended
    text headers, trace count (rev-compat handling:
    ``src/mdio/segy/compat.py``)."""
    file_size = os.path.getsize(path)
    with open(path, "rb") as f:
        text_raw = f.read(codec.TEXT_HEADER_BYTES)
        bin_raw = f.read(codec.BINARY_HEADER_BYTES)
        bin_hdr = codec.decode_binary_header(bin_raw)
        n_ext = bin_hdr["extended_headers"]
        if n_ext < 0:
            # -1 means "variable number, terminated by a marker record"
            # (rev1 §3.3) — unsupported: reject explicitly instead of
            # misparsing every trace
            raise ValueError(
                f"{path}: variable extended text header count "
                f"({n_ext}) is unsupported"
            )
        ext_raw = f.read(n_ext * codec.TEXT_HEADER_BYTES)
    if len(ext_raw) != n_ext * codec.TEXT_HEADER_BYTES:
        raise ValueError(
            f"{path}: binary header declares {n_ext} extended text headers "
            "but the file is too short"
        )
    data_format = bin_hdr["data_format"] or codec.FORMAT_IEEE32
    sample_bytes = codec.SAMPLE_BYTES[data_format]
    ns = bin_hdr["samples_per_trace"]
    trace_bytes = codec.TRACE_HEADER_BYTES + ns * sample_bytes
    payload = file_size - codec.FILE_HEADER_BYTES - len(ext_raw)
    if payload % trace_bytes:
        raise ValueError(
            f"{path}: trailing {payload % trace_bytes} bytes — not a whole trace"
        )
    return SegyFileInfo(
        path=path,
        num_traces=payload // trace_bytes,
        samples_per_trace=ns,
        sample_interval=bin_hdr["sample_interval"],
        data_format=data_format,
        measurement_system=bin_hdr["measurement_system"],
        text_header=codec.decode_text_header(text_raw, text_encoding),
        binary_header=bin_hdr,
        sample_bytes=sample_bytes,
        raw_text_header=text_raw,
        raw_binary_header=bin_raw,
        extended_headers=n_ext,
        raw_extended_headers=ext_raw,
    )


def trace_schema(
    fields: list[str], raw_header: bool = False, samples: bool = True
) -> str:
    """DDL schema of a decoded trace block (see :func:`decode_trace_block`)."""
    parts = ["src_trace_idx long", *[f"{f} long" for f in fields]]
    if raw_header:
        parts.append("raw_header binary")
    if samples:
        parts.append("samples array<float>")
    return ", ".join(parts)


def read_trace_rows(f, info: SegyFileInfo, start: int, out: np.ndarray) -> np.ndarray:
    """Read traces ``[start, start + len(out))`` of the open file ``f`` into
    ``out``, a C-contiguous ``[n, trace_bytes]`` uint8 array, and return it.
    A file that ends early raises instead of leaving rows unwritten."""
    f.seek(info.data_offset + start * info.trace_bytes)
    if f.readinto(memoryview(out).cast("B")) != out.size:
        raise ValueError(
            f"{info.path}: traces {start}..{start + len(out) - 1} run past the "
            "end of the file"
        )
    return out


def decode_trace_rows(
    raw: np.ndarray,
    info: SegyFileInfo,
    src_idx: np.ndarray,
    fields: list[str],
    spec: dict[str, tuple[int, str]] | None = None,
    raw_header: bool = False,
    samples: bool = True,
    sample_stats: bool = False,
) -> pa.RecordBatch:
    """The SEG-Y decoder: raw ``[n, trace_bytes]`` trace rows (their
    ordinals in ``src_idx``) -> one Arrow batch of :func:`trace_schema`.
    Only ``fields`` are decoded (P1 column pruning,
    ``ingestion/segy/reader.py:48-57``). ``sample_stats`` adds per-trace
    nonzero-sample partials ``n_nz, s_sum, s_ssq, s_min, s_max``, the
    statsV1 accumulation the reference folds into its trace workers
    (``segy/_workers.py:179-194``); a trace with no nonzero sample gets
    +-inf in ``s_min``/``s_max`` (NaN would poison Spark's min/max)."""
    n = len(raw)
    headers = raw[:, : codec.TRACE_HEADER_BYTES]
    cols = {"src_trace_idx": np.asarray(src_idx, dtype=np.int64)}
    cols.update(codec.decode_trace_headers(headers, fields, spec))
    if raw_header:
        cols["raw_header"] = trace_arrow.headers_to_arrow(headers)
    if samples:
        block = codec.decode_samples(
            raw[:, codec.TRACE_HEADER_BYTES :], info.data_format
        ).reshape(n, info.samples_per_trace)
        cols["samples"] = trace_arrow.samples_to_arrow(block)
        if sample_stats:
            s = block.astype(np.float64)
            nz = s != 0.0
            masked = np.where(nz, s, 0.0)
            cols["n_nz"] = nz.sum(axis=1).astype(np.int64)
            cols["s_sum"] = masked.sum(axis=1)
            cols["s_ssq"] = (masked * masked).sum(axis=1)
            cols["s_min"] = np.where(nz, s, np.inf).min(axis=1)
            cols["s_max"] = np.where(nz, s, -np.inf).max(axis=1)
    return pa.RecordBatch.from_pydict(cols)


def decode_trace_block(
    f,
    info: SegyFileInfo,
    start: int,
    n: int,
    fields: list[str],
    spec: dict[str, tuple[int, str]] | None = None,
    raw_header: bool = False,
    samples: bool = True,
) -> pa.RecordBatch:
    """Traces ``[start, start + n)`` of the open file ``f`` ->
    :func:`decode_trace_rows`."""
    raw = read_trace_rows(f, info, start, np.empty((n, info.trace_bytes), np.uint8))
    return decode_trace_rows(
        raw, info, np.arange(start, start + n), fields, spec, raw_header, samples
    )


def read_traces(
    spark: SparkSession,
    info: SegyFileInfo,
    fields: list[str],
    include_samples: bool = True,
    include_raw_header: bool = False,
    block_size: int = 10_000,
    spec: dict[str, tuple[int, str]] | None = None,
) -> DataFrame:
    """S2/S3 — distributed trace scan: one input block per ``block_size``
    traces, each decoded by :func:`decode_trace_block` in a
    ``mapInArrow`` task. Output schema: :func:`trace_schema`.
    """
    n_blocks = max(1, math.ceil(info.num_traces / block_size))

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        with open(info.path, "rb") as f:
            for batch in batches:
                for block_id in batch.column(0).to_numpy():
                    start = int(block_id) * block_size
                    n = min(block_size, info.num_traces - start)
                    if n > 0:
                        yield decode_trace_block(
                            f, info, start, n, fields, spec,
                            raw_header=include_raw_header,
                            samples=include_samples,
                        )

    schema = trace_schema(fields, include_raw_header, include_samples)
    # contiguous block ranges per partition (spark.range's native
    # slicing — NO round-robin repartition): a task's traces are a
    # contiguous file range, so direct-mode ingest writes each chunk
    # directory from O(1) tasks instead of scattering every task across
    # every directory (measured: ~3.7k tiny store files -> ~1 per chunk)
    blocks = spark.range(0, n_blocks, numPartitions=min(n_blocks, 256))
    return blocks.mapInArrow(scan, schema=schema)


@dataclass
class SegyWriteSpec:
    """K4 skeleton parameters + encoding config for export."""

    samples_per_trace: int
    sample_interval: int
    data_format: int = codec.FORMAT_IEEE32
    measurement_system: int = 1
    text_header: str = ""
    revision_major: int = 1
    revision_minor: int = 0
    extra_binary_fields: dict[str, int] = field(default_factory=dict)
    # verbatim 3200/400-byte headers: written as-is when present (F7);
    # re-encoding from the modeled fields is the fallback only
    raw_text_header: bytes | None = None
    raw_binary_header: bytes | None = None
    raw_extended_headers: bytes | None = None

    def binary_header(self) -> dict[str, int]:
        out = {
            "sample_interval": self.sample_interval,
            "samples_per_trace": self.samples_per_trace,
            "data_format": self.data_format,
            "measurement_system": self.measurement_system,
            "segy_revision": codec.encode_segy_revision(
                self.revision_major, self.revision_minor
            ),
            "fixed_length_flag": 1,
        }
        out.update(self.extra_binary_fields)
        return out


def _encode_trace_block(
    samples: np.ndarray,
    data_format: int,
    raw_header: np.ndarray | None = None,
    header_fields: dict[str, np.ndarray] | None = None,
    hdr_spec=None,
) -> bytes:
    """One block of traces -> contiguous SEG-Y trace bytes: the verbatim
    ``[n, 240]`` ``raw_header`` when given, else ``header_fields``
    re-encoded per ``hdr_spec`` (blank headers when empty); ``samples``
    ``[n, ns]`` through the format codec. Shared by the range-shuffle
    export and the chunk-aligned export so the two paths cannot drift."""
    if raw_header is None:
        raw_header = codec.encode_trace_headers(
            header_fields or {}, len(samples), hdr_spec
        )
    raw_samples = codec.encode_samples(
        samples.astype(np.float32, copy=False), data_format
    )
    return np.concatenate([raw_header, raw_samples], axis=1).tobytes()


def _export_skeleton(write_spec: SegyWriteSpec, text_encoding: str) -> bytes:
    """File skeleton: 3200-byte text + 400-byte binary + extended
    headers — verbatim raw bytes when the spec carries them (F7)."""
    if write_spec.raw_text_header is not None:
        assert len(write_spec.raw_text_header) == codec.TEXT_HEADER_BYTES
        skeleton = bytes(write_spec.raw_text_header)
    else:
        skeleton = codec.encode_text_header(write_spec.text_header, text_encoding)
    if write_spec.raw_binary_header is not None:
        assert len(write_spec.raw_binary_header) == codec.BINARY_HEADER_BYTES
        skeleton += write_spec.raw_binary_header
    else:
        skeleton += codec.encode_binary_header(write_spec.binary_header())
    if write_spec.raw_extended_headers:
        assert len(write_spec.raw_extended_headers) % codec.TEXT_HEADER_BYTES == 0
        skeleton += write_spec.raw_extended_headers
    return skeleton


def run_tasks(spark, tasks: list, fn: Callable[[object], int]) -> list[int]:
    """``fn(task)`` for every task of a driver-side list, one Spark task
    each, returning the results in list order.

    The tasks ride in the closure and each Spark task reads its list index
    from ``spark.range`` (the :func:`read_traces` idiom), so the work runs
    in ``mapInArrow``, on the Python workers the SQL scans already use: an
    RDD ``parallelize().map()`` would start a second pool of Python workers
    and pay their start-up on its first job."""

    def run(batches):
        for batch in batches:
            out = [int(fn(tasks[int(i)])) for i in batch.column(0).to_numpy()]
            yield pa.RecordBatch.from_pydict({"out": pa.array(out, pa.int64())})

    ids = spark.range(0, len(tasks), numPartitions=max(1, len(tasks)))
    return [r[0] for r in ids.mapInArrow(run, "out long").collect()]


def _pwrite(path: str, offset: int, chunks) -> None:
    """Write the buffers ``chunks`` back to back from ``offset`` into the
    existing file ``path`` (a ``pwrite`` may write less than asked)."""
    fd = os.open(path, os.O_WRONLY)
    try:
        for chunk in chunks:
            view = memoryview(chunk).cast("B")
            while view:
                n = os.pwrite(fd, view, offset)
                view, offset = view[n:], offset + n
    finally:
        os.close(fd)


def _write_positional(
    spark,
    out_path: str,
    skeleton: bytes,
    n_bytes: int,
    tasks: list,
    fn: Callable[[str, object], int],
) -> list[int]:
    """The SEG-Y output writer: ``skeleton`` (the file headers) goes into a
    hidden temp file beside ``out_path``, pre-sized to ``n_bytes``, then
    :func:`run_tasks` runs ``fn(temp_path, task)`` for every task; each
    task writes its trace bytes at their final offset with :func:`_pwrite`.
    The temp file replaces ``out_path`` once every task has succeeded. On
    any failure it is removed, so a failed export leaves ``out_path`` as it
    was. A positional write is idempotent: a retried task rewrites the same
    bytes. Tasks open the file by path, so the output, like the store, must
    sit on a path every task can reach. Returns the tasks' results."""
    head, name = os.path.split(os.path.abspath(out_path))
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as f:
            f.write(skeleton)
            f.truncate(n_bytes)
        out = run_tasks(spark, tasks, functools.partial(fn, tmp)) if tasks else []
        os.replace(tmp, out_path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    return out


def _copy_part(out: str, task: tuple[str, int, int]) -> int:
    """Copy one staged part of :func:`write_segy` to its offset in ``out``,
    then delete it, so peak disk is about one output, not parts + output.
    A retry that finds its part already deleted fails loudly instead of
    leaving a hole."""
    part, offset, n_bytes = task
    if os.path.getsize(part) != n_bytes:
        raise ValueError(
            f"{part}: {os.path.getsize(part)} bytes, its trace count gives {n_bytes}"
        )
    with open(part, "rb") as src:
        _pwrite(out, offset, iter(functools.partial(src.read, 64 << 20), b""))
    os.remove(part)
    return 0


def write_segy(
    df: DataFrame,
    out_path: str,
    order_by: list[str],
    write_spec: SegyWriteSpec,
    header_fields: list[str] | None = None,
    spec: dict[str, tuple[int, str]] | None = None,
    num_partitions: int | None = None,
    n_rows: int | None = None,
    text_encoding: str = "cp037",
    stage_clock: dict | None = None,
) -> None:
    """K3/K4 — ordered SEG-Y export of any DataFrame. ``n_rows`` (when the
    caller already knows the trace count — ingest does, export just
    counted) avoids the extra full count job that sizing partitions
    otherwise needs.

    ``df`` columns: the ``order_by`` dims, either ``raw_header`` (binary,
    written verbatim — byte-identical roundtrip path) or the listed
    ``header_fields`` (re-encoded per spec, F4), and ``samples``.

    Physical plan: one range shuffle on the export key; each task encodes
    its ordered slice into the local part ``<out_path>.parts/part-<i>`` and
    returns its trace count. Range partitions are globally ordered
    (replacing the reference's merge tree, ``blocked_io.py:226-251``), so
    part i lands at the skeleton plus the trace bytes of the partitions
    before it: :func:`_write_positional` copies each part to that offset,
    one task per part (:func:`_copy_part`). The parts directory, like the
    output, must be reachable by path from every task.
    """
    ns = write_spec.samples_per_trace
    data_format = write_spec.data_format
    trace_bytes = codec.TRACE_HEADER_BYTES + ns * codec.SAMPLE_BYTES[data_format]
    use_raw = "raw_header" in df.columns
    header_fields = header_fields or []
    hdr_spec = spec or codec.DEFAULT_TRACE_HEADER_SPEC
    parts_dir = out_path + ".parts"

    if num_partitions is None:
        # ~300 MB processing chunks, matching the reference's export
        # rechunk target (``segy/utilities.py:146-198``, C3)
        if n_rows is None:
            n_rows = df.count()
        rows_per_part = max(1, (300 << 20) // (240 + ns * 4))
        num_partitions = max(1, math.ceil(n_rows / rows_per_part))

    ordered = df.repartitionByRange(num_partitions, *order_by).sortWithinPartitions(
        *order_by
    )

    def write_partition(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        n_written = 0
        os.makedirs(parts_dir, exist_ok=True)
        with open(os.path.join(parts_dir, f"part-{part:06d}"), "wb") as f:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                samples = trace_arrow.samples_from_arrow(batch["samples"])
                raw = (
                    trace_arrow.headers_from_arrow(batch["raw_header"])
                    if use_raw
                    else None
                )
                fields = {
                    name: batch[name].to_numpy(zero_copy_only=False)
                    for name in header_fields
                }
                f.write(
                    _encode_trace_block(samples, data_format, raw, fields, hdr_spec)
                )
                n_written += batch.num_rows
        yield pa.RecordBatch.from_pydict({"part": [part], "n_traces": [n_written]})

    try:
        _t0 = time.perf_counter()
        counts = sorted(
            tuple(r)
            for r in ordered.mapInArrow(
                write_partition, schema="part long, n_traces long"
            ).collect()
        )
        _t1 = time.perf_counter()
        skeleton = _export_skeleton(write_spec, text_encoding)
        tasks, pos = [], len(skeleton)
        for part, n in counts:
            if n:
                path = os.path.join(parts_dir, f"part-{part:06d}")
                tasks.append((path, pos, n * trace_bytes))
                pos += n * trace_bytes
        _write_positional(df.sparkSession, out_path, skeleton, pos, tasks, _copy_part)
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
    if stage_clock is not None:
        stage_clock["export_encode_s"] = round(_t1 - _t0, 3)
        stage_clock["export_concat_s"] = round(time.perf_counter() - _t1, 3)
        stage_clock["export_concat_mode"] = "ranged_parallel"


def write_segy_store_aligned(
    spark: SparkSession,
    traces_root: str,
    dims: list[str],
    write_spec: SegyWriteSpec,
    out_path: str,
    text_encoding: str = "cp037",
    stage_clock: dict | None = None,
    max_part_bytes: int = 1 << 30,
) -> int | None:
    """CHUNK-ALIGNED export: zero-shuffle ``store -> SEG-Y`` for the
    common case (whole store, dim order). Returns the trace count, or
    ``None`` when the layout doesn't qualify (caller falls back to the
    range-shuffle :func:`write_segy`).

    The store's trace parquet is hive-partitioned by the chunk keys, and
    the MAJOR dim's chunks are disjoint RANGES of the export sort order:
    every row with ``dims[0]`` in chunk i precedes every row in chunk
    i+1, whatever the minor-dim chunking. So each major chunk is one
    contiguous byte range of the output, and the driver knows where it
    starts before any task runs: the skeleton plus the trace bytes of the
    rows before it, counted from the parquet footers (each read once).
    :func:`_write_positional` runs one ``mapInArrow`` task per major
    chunk: the task reads the chunk's files directly (pyarrow, the
    read_traces pattern: executors fetch their own byte ranges), sorts
    the in-memory slice by the full dim tuple, encodes it, and writes the
    block at its offset in the output. One job, no repartitionByRange
    sampling pass, no payload exchange, no part files and no copy: the
    export is read + encode + positional write, and its disk peak is the
    output alone (the 30x stress point died on shuffle + parts + output
    disk before this path existed).

    Memory gate: a major chunk whose encoded size exceeds
    ``max_part_bytes`` (fat minor dims) disqualifies the layout — the
    shuffle path streams instead."""
    prefix = f"{dims[0]}_chunk="
    try:
        entries = [e for e in os.listdir(traces_root) if e.startswith(prefix)]
    except OSError:
        return None
    chunk_dirs = sorted(
        (int(e[len(prefix):]), os.path.join(traces_root, e)) for e in entries
    )
    files_by_chunk: list[list[str]] = []
    for _, d in chunk_dirs:
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )
        if files:
            files_by_chunk.append(files)
    if not files_by_chunk:
        return None
    rows = [sum(pq.read_metadata(f).num_rows for f in fs) for fs in files_by_chunk]
    # Per-task memory gate on the EXACT decoded size — row counts from
    # the parquet footers x the fixed trace width (240-byte header +
    # ns 4-byte samples). A compressed-size multiple is NOT safe here:
    # zstd on low-entropy seismic (quiet/constant traces) routinely
    # decodes past 3x, and an over-admitted chunk OOMs the encode task
    # instead of falling back to the streaming shuffle path (ADVICE r8).
    # The exact row basis carries a x3 COPY-HEADROOM factor (ADVICE r9):
    # encode_chunk holds ~3-4 concurrent copies of the decoded bytes (the
    # concatenated Arrow table, its combined samples, the [order] reorder
    # copy, the encoded block — the table drops before the block exists).
    ns = write_spec.samples_per_trace
    if max(rows) * (240 + ns * 4) * 3 > max_part_bytes:
        return None
    data_format = write_spec.data_format
    trace_bytes = codec.TRACE_HEADER_BYTES + ns * codec.SAMPLE_BYTES[data_format]
    skeleton = _export_skeleton(write_spec, text_encoding)
    tasks, pos = [], len(skeleton)
    for files, n in zip(files_by_chunk, rows):
        tasks.append((files, pos, n * trace_bytes))
        pos += n * trace_bytes

    def encode_chunk(out: str, task: tuple[list[str], int, int]) -> int:
        files, offset, n_bytes = task
        table = pa.concat_tables([pq.read_table(f) for f in files])
        order = np.lexsort(
            tuple(table.column(d).to_numpy() for d in reversed(dims))
        )
        samples = trace_arrow.samples_from_arrow(table["samples"])[order]
        # blank re-encoded headers when the store has no raw_header,
        # exactly what store_to_segy -> write_segy writes
        raw = (
            trace_arrow.headers_from_arrow(table["raw_header"])[order]
            if "raw_header" in table.column_names
            else None
        )
        del table
        block = _encode_trace_block(samples, data_format, raw)
        if len(block) != n_bytes:
            raise ValueError(
                f"{os.path.dirname(files[0])}: encoded {len(block)} bytes, "
                f"the footers planned {n_bytes}"
            )
        _pwrite(out, offset, [block])
        return len(order)

    _t0 = time.perf_counter()
    n_total = sum(_write_positional(spark, out_path, skeleton, pos, tasks, encode_chunk))
    if stage_clock is not None:
        stage_clock["export_encode_s"] = round(time.perf_counter() - _t0, 3)
        stage_clock["export_encode_mode"] = "chunk_aligned"
        stage_clock["export_concat_mode"] = "positional"
    return n_total
