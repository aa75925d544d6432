"""Seeded synthetic PostStack3DTime cube written as SEG-Y rev1.

The file is grid-ordered (inline-major), has an affine cdp geometry with a
-100 coordinate scalar, IEEE float32 samples and ~10% planted zero
samples. The writer packs the public rev1 byte layout with numpy, so it
does not depend on the engine's own SEG-Y code. ``dead_fraction`` drops a
seeded share of (inline, crossline) cells to make the grid sparse.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

TEXT_BYTES, BIN_BYTES, HDR_BYTES = 3200, 400, 240
SAMPLE_INTERVAL_US = 2000


@dataclass
class Cube:
    samples: np.ndarray  # (n_inline, n_crossline, n_samples) float32
    live: np.ndarray  # (n_inline, n_crossline) bool
    inline0: int = 1
    crossline0: int = 1

    @property
    def n_traces(self) -> int:
        return int(self.live.sum())

    def trace(self, inline: int, crossline: int) -> np.ndarray:
        return self.samples[inline - self.inline0, crossline - self.crossline0]

    def is_live(self, inline: int, crossline: int) -> bool:
        return bool(self.live[inline - self.inline0, crossline - self.crossline0])


def make_cube(
    seed: int, n_inline: int, n_crossline: int, n_samples: int, dead_fraction: float = 0.0
) -> Cube:
    rng = np.random.default_rng([seed, 0x5E97])
    s = rng.standard_normal((n_inline, n_crossline, n_samples)).astype(np.float32)
    s[rng.random(s.shape) < 0.1] = 0.0
    live = rng.random((n_inline, n_crossline)) >= dead_fraction
    # keep every inline and crossline value present so dim tables are full
    live[:, 0] = True
    live[0, :] = True
    return Cube(samples=s, live=live)


def _file_header(n_samples: int) -> bytes:
    card = "PERFBENCH SYNTHETIC CUBE".ljust(80) + " " * 80 * 39
    buf = bytearray(card.encode("cp037")) + bytearray(BIN_BYTES)
    struct.pack_into(">h", buf, TEXT_BYTES + 16, SAMPLE_INTERVAL_US)
    struct.pack_into(">h", buf, TEXT_BYTES + 20, n_samples)
    struct.pack_into(">h", buf, TEXT_BYTES + 24, 5)  # IEEE float32
    struct.pack_into(">h", buf, TEXT_BYTES + 54, 1)  # meters
    struct.pack_into(">H", buf, TEXT_BYTES + 300, 0x0100)  # rev 1.0
    struct.pack_into(">h", buf, TEXT_BYTES + 302, 1)  # fixed-length traces
    return bytes(buf)


def write_segy(cube: Cube, path: str) -> int:
    """Write the live traces in inline-major order; return file bytes."""
    n_il, n_xl, ns = cube.samples.shape
    il_idx, xl_idx = np.nonzero(cube.live)
    il = il_idx.astype(np.int64) + cube.inline0
    xl = xl_idx.astype(np.int64) + cube.crossline0
    n = len(il)
    blk = np.zeros((n, HDR_BYTES + ns * 4), dtype=np.uint8)

    def put(off: int, dtype: str, vals) -> None:
        width = np.dtype(dtype).itemsize
        blk[:, off : off + width] = (
            np.broadcast_to(np.asarray(vals), (n,)).astype(dtype).view(np.uint8).reshape(n, width)
        )

    put(0, ">i4", np.arange(1, n + 1))  # trace_seq_line
    put(70, ">i2", -100)  # coordinate_scalar
    put(114, ">i2", ns)
    put(116, ">i2", SAMPLE_INTERVAL_US)
    put(180, ">i4", 700000 + il * 100 + xl * 3)  # cdp_x
    put(184, ">i4", 900000 + xl * 100 - il * 2)  # cdp_y
    put(188, ">i4", il)
    put(192, ">i4", xl)
    blk[:, HDR_BYTES:] = (
        cube.samples[il_idx, xl_idx].astype(">f4").view(np.uint8).reshape(n, ns * 4)
    )
    with open(path, "wb") as f:
        f.write(_file_header(ns))
        f.write(blk.tobytes())
    return TEXT_BYTES + BIN_BYTES + blk.nbytes


def _dsum(values: np.ndarray, scale: int = 7) -> float:
    """Sum of per-trace doubles after rounding each to ``scale`` decimals
    half-up, exactly as a decimal(18, scale) cast and sum does."""
    q = Decimal(1).scaleb(-scale)
    total = sum(
        (Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP) for v in values),
        Decimal(0),
    )
    return float(str(total))


def expected_stats(cube: Cube) -> dict[str, float]:
    """statsV1 of the live traces over nonzero samples: count, min, max,
    sum and sum of squares, with per-trace partial sums in float64."""
    s = cube.samples[cube.live].astype(np.float64)
    nz = s != 0.0
    masked = np.where(nz, s, 0.0)
    return {
        "count": int(nz.sum()),
        "min": float(s[nz].min()),
        "max": float(s[nz].max()),
        "sum": _dsum(masked.sum(axis=1)),
        "sum_squares": _dsum((masked * masked).sum(axis=1)),
    }
