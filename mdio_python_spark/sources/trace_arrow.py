"""Arrow layout of a trace batch: the one numpy <-> Spark codec of the pivot.

A trace batch crosses the Spark boundary as two fixed-width columns,
``samples array<float>`` (ns float32 values per trace) and ``raw_header
binary`` (240 verbatim SEG-Y header bytes per trace). Every SEG-Y scan and
encoder and the zarr reader/writer move them through these helpers,
zero-copy both ways for a C-contiguous block: the block is the Arrow
values buffer and the offsets are an evenly spaced ramp. A ragged or null
row, a header that is not 240 bytes, or a block whose offsets would pass
the int32 range of Spark's Arrow types raises a named
:class:`TraceBatchError` instead of misaligning rows.
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


def _ramp(n: int, width: int) -> np.ndarray:
    if n * width > MAX_OFFSET:
        raise OffsetOverflowError(
            f"{n} rows x {width} values pass the int32 offset limit "
            f"{MAX_OFFSET}; split the block"
        )
    return (np.arange(n + 1, dtype=np.int64) * width).astype(np.int32)


def _one_array(col) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    return col


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
        pa.array(_ramp(n, ns)), pa.array(block.reshape(-1))
    )


def samples_from_arrow(col) -> np.ndarray:
    """``samples`` Array or ChunkedArray -> ``[n, ns]`` float32 block."""
    col = _one_array(col)
    offsets = col.offsets.to_numpy()
    ns = int(offsets[1] - offsets[0]) if len(col) else 0
    _check_widths(col, offsets, ns, RaggedSamplesError)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float32, copy=False).reshape(len(col), ns)


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
    _, offsets, data = col.buffers()
    dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offsets = np.frombuffer(offsets, dtype=dtype)[col.offset : col.offset + n + 1]
    _check_widths(col, offsets, HEADER_BYTES, HeaderWidthError)
    return np.frombuffer(data, np.uint8)[offsets[0] : offsets[-1]].reshape(n, -1)
