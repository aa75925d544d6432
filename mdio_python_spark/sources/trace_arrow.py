"""Arrow layout of a trace batch: the one numpy <-> Spark codec of the pivot.

A trace batch crosses the Spark boundary as two fixed-width columns,
``samples array<float>`` (ns float32 values per trace) and ``raw_header
binary`` (240 verbatim SEG-Y header bytes per trace). Every SEG-Y scan and
encoder and the zarr reader/writer move them through these helpers,
zero-copy both ways for a C-contiguous block: the block is the Arrow
values buffer and the offsets are an evenly spaced ramp. A ragged or null
row, a header that is not 240 bytes, or a block whose offsets would pass
the int32 range of Spark's Arrow types raises a named
:class:`TraceBatchError` instead of misaligning rows. The vector kernels
decode embedding columns with :func:`samples_from_arrow`, and the text
kernels check the offsets they build with :func:`int32_offsets`.

The plain numeric columns of a batch (trace ordinals, header fields, chunk
keys, block ids) cross with :func:`numbers_from_arrow` and
:func:`numbers_to_arrow`, also zero-copy; a null in such a column raises
:class:`NullValuesError` naming the column. Every helper here works on the
Arrow buffers directly, because pyarrow 16's pandas shim imports pandas
(0.3-0.45 s per process) on the first ``Array.to_numpy()``,
``pa.array(...)`` (of an ndarray or a list), ``RecordBatch.from_pydict``,
``RecordBatch.from_pylist`` or ``pq.read_table`` in a process, while
``Array.from_buffers``/``py_buffer``, ``np.frombuffer`` over a buffer,
``RecordBatch.from_arrays``, ``ListArray.from_arrays``,
``ParquetWriter.write_table``, ``pq.read_metadata`` and
``ParquetFile.read`` do not. The Python workers of the SEG-Y scan, the
store writer and the exports run only the latter, so a cold worker pays
neither that import nor pandas' memory.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

HEADER_BYTES = 240
# largest int32 Arrow offset: one column of a batch holds at most this many
# sample values (or header bytes); a larger block must be split by the caller
MAX_OFFSET = 2**31 - 1


class TraceBatchError(ValueError):
    """A trace column does not have the fixed-width trace-batch layout."""


class RaggedSamplesError(TraceBatchError):
    """``samples`` rows are null or differ in length."""


class HeaderWidthError(TraceBatchError):
    """A ``raw_header`` row is null or not 240 bytes."""


class OffsetOverflowError(TraceBatchError):
    """The block has more values than an int32 offset can address."""


class NullValuesError(TraceBatchError):
    """A numeric column (or a samples row's values) holds a null."""


# the Arrow numeric types a column may have, and their numpy dtypes
_NUMPY_TYPES = {
    pa.int8(): np.int8,
    pa.int16(): np.int16,
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.uint8(): np.uint8,
    pa.uint16(): np.uint16,
    pa.uint32(): np.uint32,
    pa.uint64(): np.uint64,
    pa.float16(): np.float16,
    pa.float32(): np.float32,
    pa.float64(): np.float64,
}


def int32_offsets(offsets: np.ndarray) -> np.ndarray:
    """Ascending int64 Arrow offsets -> the int32 offsets of Spark's Arrow
    types, raising :class:`OffsetOverflowError` instead of wrapping."""
    if len(offsets) and offsets[-1] > MAX_OFFSET:
        raise OffsetOverflowError(
            f"offset {int(offsets[-1])} passes the int32 offset limit "
            f"{MAX_OFFSET}; split the block"
        )
    return offsets.astype(np.int32)


def _ramp(n: int, width: int) -> np.ndarray:
    return int32_offsets(np.arange(n + 1, dtype=np.int64) * width)


def _one_array(col) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    return col


def numbers_from_arrow(col, name: str) -> np.ndarray:
    """Numeric Array or ChunkedArray ``name`` -> 1-D read-only ndarray, a
    view of the Arrow values buffer (honouring the array offset). A null
    raises :class:`NullValuesError`; a non-numeric column ``TypeError``."""
    col = _one_array(col)
    dtype = _NUMPY_TYPES.get(col.type)
    if dtype is None:
        raise TypeError(f"column {name!r} is {col.type}, not a numeric column")
    if col.null_count:
        raise NullValuesError(
            f"column {name!r} holds {col.null_count} nulls in {len(col)} rows"
        )
    if len(col) == 0:
        return np.empty(0, dtype)
    itemsize = np.dtype(dtype).itemsize
    return np.frombuffer(
        col.buffers()[1], dtype, count=len(col), offset=col.offset * itemsize
    )


def numbers_to_arrow(values: np.ndarray) -> pa.Array:
    """1-D numeric ndarray -> Arrow array over the same memory (a copy only
    when ``values`` is not C-contiguous)."""
    values = np.ascontiguousarray(values)
    if values.dtype.kind not in "iuf":  # Arrow booleans are bit-packed
        raise TypeError(f"{values.dtype} is not a numeric dtype")
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(values.dtype), len(values), [None, pa.py_buffer(values)]
    )


def _offsets(col: pa.Array) -> np.ndarray:
    """The ``len(col) + 1`` offsets of a list or binary array, as stored."""
    wide = pa.types.is_large_list(col.type) or pa.types.is_large_binary(col.type)
    return np.frombuffer(
        col.buffers()[1],
        np.int64 if wide else np.int32,
        count=len(col) + 1,
        offset=col.offset * (8 if wide else 4),
    )


def _check_widths(col: pa.Array, offsets: np.ndarray, width: int, error) -> None:
    widths = np.diff(offsets)
    if col.null_count or np.any(widths != width):
        raise error(
            f"every row must hold exactly {width} values and none may be "
            f"null; got lengths {sorted(set(widths.tolist()))} and "
            f"{col.null_count} nulls"
        )


def samples_to_arrow(block: np.ndarray) -> pa.ListArray:
    """``[n, ns]`` block -> ``samples array<float>`` column."""
    block = np.ascontiguousarray(block, dtype=np.float32)
    n, ns = block.shape
    return pa.ListArray.from_arrays(
        numbers_to_arrow(_ramp(n, ns)), numbers_to_arrow(block.reshape(-1))
    )


def samples_from_arrow(col) -> np.ndarray:
    """``samples`` Array or ChunkedArray -> ``[n, ns]`` block: float64 for
    an ``array<double>`` column (never narrowed), float32 otherwise. A null
    value inside a row raises :class:`NullValuesError`."""
    col = _one_array(col)
    n = len(col)
    if n == 0:
        wide = col.type.value_type == pa.float64()
        return np.zeros((0, 0), np.float64 if wide else np.float32)
    offsets = _offsets(col)
    ns = int(offsets[1] - offsets[0])
    _check_widths(col, offsets, ns, RaggedSamplesError)
    values = col.values.slice(offsets[0], offsets[-1] - offsets[0])
    flat = numbers_from_arrow(values, "samples")
    if flat.dtype != np.float64:
        flat = flat.astype(np.float32, copy=False)
    return flat.reshape(n, ns)


def headers_to_arrow(block: np.ndarray) -> pa.BinaryArray:
    """``[n, 240]`` uint8 block -> ``raw_header binary`` column."""
    block = np.ascontiguousarray(block, dtype=np.uint8)
    n, width = block.shape
    if width != HEADER_BYTES:
        raise HeaderWidthError(f"trace headers are {width} bytes, not 240")
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(_ramp(n, width)), pa.py_buffer(block)]
    )


def headers_from_arrow(col) -> np.ndarray:
    """``raw_header`` Array or ChunkedArray -> ``[n, 240]`` uint8 block."""
    col = _one_array(col)
    n = len(col)
    if n == 0:
        return np.zeros((0, HEADER_BYTES), dtype=np.uint8)
    offsets = _offsets(col)
    _check_widths(col, offsets, HEADER_BYTES, HeaderWidthError)
    data = np.frombuffer(col.buffers()[2], np.uint8)
    return data[offsets[0] : offsets[-1]].reshape(n, -1)
