"""The trace-batch Arrow codec: zero-copy round trips, and a named error
instead of silently misaligned rows for every layout it cannot carry."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from mdio_python_spark.sources import trace_arrow as ta


def test_samples_round_trip_zero_copy():
    block = np.random.default_rng(3).standard_normal((6, 5)).astype(np.float32)
    col = ta.samples_to_arrow(block)
    assert col.type == pa.list_(pa.float32())
    assert col.values.buffers()[1].address == block.ctypes.data
    back = ta.samples_from_arrow(col)
    assert back.ctypes.data == block.ctypes.data
    np.testing.assert_array_equal(back, block)
    # a sliced array keeps its rows; a multi-chunk column concatenates
    np.testing.assert_array_equal(ta.samples_from_arrow(col.slice(2, 3)), block[2:5])
    np.testing.assert_array_equal(
        ta.samples_from_arrow(pa.chunked_array([col, col.slice(1, 1)])),
        np.concatenate([block, block[1:2]]),
    )
    assert ta.samples_from_arrow(col.slice(0, 0)).shape[0] == 0


def test_headers_round_trip_zero_copy():
    block = np.random.default_rng(4).integers(0, 256, (4, 240), dtype=np.uint8)
    col = ta.headers_to_arrow(block)
    assert col.type == pa.binary()
    assert col.to_pylist()[2] == block[2].tobytes()
    back = ta.headers_from_arrow(col)
    assert back.ctypes.data == block.ctypes.data
    np.testing.assert_array_equal(back, block)
    np.testing.assert_array_equal(ta.headers_from_arrow(col.slice(1, 2)), block[1:3])
    assert ta.headers_from_arrow(col.slice(0, 0)).shape == (0, 240)


@pytest.mark.parametrize(
    "rows", [[[1.0, 2.0], [3.0]], [[1.0, 2.0], None]], ids=["ragged", "null"]
)
def test_ragged_samples_raise(rows):
    with pytest.raises(ta.RaggedSamplesError):
        ta.samples_from_arrow(pa.array(rows, pa.list_(pa.float32())))


def test_239_byte_header_raises():
    with pytest.raises(ta.HeaderWidthError):
        ta.headers_from_arrow(pa.array([bytes(240), bytes(239)]))
    with pytest.raises(ta.HeaderWidthError):
        ta.headers_to_arrow(np.zeros((2, 239), dtype=np.uint8))


def test_int32_offset_limit_raises(monkeypatch):
    """A block past the int32 offset range is refused, not wrapped; the
    limit is lowered so the test allocates nothing large."""
    monkeypatch.setattr(ta, "MAX_OFFSET", 3 * 240)
    ta.headers_to_arrow(np.zeros((3, 240), dtype=np.uint8))
    with pytest.raises(ta.OffsetOverflowError):
        ta.headers_to_arrow(np.zeros((4, 240), dtype=np.uint8))
    ta.samples_to_arrow(np.zeros((3, 240), dtype=np.float32))
    with pytest.raises(ta.OffsetOverflowError):
        ta.samples_to_arrow(np.zeros((4, 240), dtype=np.float32))
