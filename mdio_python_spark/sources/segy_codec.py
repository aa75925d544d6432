"""SEG-Y binary codecs: IBM32 floats, EBCDIC text headers, header layouts.

Pure numpy, vectorized — used inside Arrow-batched mapInArrow tasks, never
row-at-a-time. Layouts follow the public SEG-Y rev1 standard; the reference
delegates this to the external TGSAI/segy library (``src/mdio/segy/file.py``),
we implement it directly.

Capability citations (reference behavior being reproduced):
- IBM32<->IEEE promotion: ``src/mdio/segy/utilities.py:28-65`` (F3)
- text-header sanitize/validate: ``src/mdio/segy/text_header.py:35-92`` (F5)
- revision encode: ``src/mdio/segy/compat.py:92-121`` (F6)
"""

from __future__ import annotations

import numpy as np

TEXT_HEADER_BYTES = 3200
BINARY_HEADER_BYTES = 400
TRACE_HEADER_BYTES = 240
FILE_HEADER_BYTES = TEXT_HEADER_BYTES + BINARY_HEADER_BYTES

# data_format code -> (bytes per sample, decoder kind)
FORMAT_IBM32 = 1
FORMAT_INT32 = 2
FORMAT_INT16 = 3
FORMAT_IEEE32 = 5
FORMAT_INT8 = 8
SAMPLE_BYTES = {FORMAT_IBM32: 4, FORMAT_INT32: 4, FORMAT_INT16: 2, FORMAT_IEEE32: 4, FORMAT_INT8: 1}

# --- IBM 360 hexadecimal float32 ------------------------------------------


def ibm32_to_ieee(u: np.ndarray) -> np.ndarray:
    """Vectorized IBM32 -> float64. ``u`` is big-endian uint32 raw words."""
    u = u.astype(np.uint32)
    sign = np.where(u >> 31, -1.0, 1.0)
    exponent = ((u >> 24) & 0x7F).astype(np.int64) - 64
    fraction = (u & 0x00FFFFFF).astype(np.float64) / float(1 << 24)
    return sign * fraction * np.power(16.0, exponent)


def ieee_to_ibm32(x: np.ndarray) -> np.ndarray:
    """Vectorized float -> IBM32 uint32 words (round-to-nearest on the
    24-bit fraction). Inverse of :func:`ibm32_to_ieee` for representable
    values; IBM32 covers every float32 that SEG-Y IBM files contain."""
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros(x.shape, dtype=np.uint32)
    nonzero = (x != 0) & np.isfinite(x)
    if not nonzero.any():
        return out
    v = x[nonzero]
    sign = (v < 0).astype(np.uint32) << 31
    mag = np.abs(v)
    # base-16 exponent: smallest e with mag/16^e in [1/16, 1)
    e16 = np.ceil(np.log2(mag) / 4.0).astype(np.int64)
    frac = mag / np.power(16.0, e16)
    # fix boundary cases from log rounding
    too_big = frac >= 1.0
    e16 = np.where(too_big, e16 + 1, e16)
    frac = np.where(too_big, frac / 16.0, frac)
    too_small = frac < 1.0 / 16.0
    e16 = np.where(too_small, e16 - 1, e16)
    frac = np.where(too_small, frac * 16.0, frac)
    fbits = np.rint(frac * (1 << 24)).astype(np.uint64)
    # rounding may push fraction to 1.0
    overflow = fbits >= (1 << 24)
    e16 = np.where(overflow, e16 + 1, e16)
    fbits = np.where(overflow, fbits >> 4, fbits)
    exponent = np.clip(e16 + 64, 0, 127).astype(np.uint32)
    out[nonzero] = sign | (exponent << 24) | fbits.astype(np.uint32)
    return out


def decode_samples(raw: np.ndarray, data_format: int) -> np.ndarray:
    """Decode one trace block's raw sample bytes -> float32 2-D array.

    ``raw``: uint8 array shaped (n_traces, n_samples * sample_bytes).
    """
    if data_format == FORMAT_IBM32:
        words = raw.view(">u4").astype(np.uint32)
        return ibm32_to_ieee(words).astype(np.float32)
    if data_format == FORMAT_IEEE32:
        return raw.view(">f4").astype(np.float32)
    if data_format == FORMAT_INT32:
        return raw.view(">i4").astype(np.float32)
    if data_format == FORMAT_INT16:
        return raw.view(">i2").astype(np.float32)
    if data_format == FORMAT_INT8:
        return raw.view(np.int8).astype(np.float32)
    raise ValueError(f"unsupported SEG-Y data format code {data_format}")


def encode_samples(samples: np.ndarray, data_format: int) -> np.ndarray:
    """float32 2-D array -> raw big-endian sample bytes (uint8 2-D)."""
    if data_format == FORMAT_IBM32:
        words = ieee_to_ibm32(samples).astype(">u4")
        return words.view(np.uint8).reshape(samples.shape[0], -1)
    if data_format == FORMAT_IEEE32:
        return samples.astype(">f4").view(np.uint8).reshape(samples.shape[0], -1)
    if data_format == FORMAT_INT32:
        return samples.astype(">i4").view(np.uint8).reshape(samples.shape[0], -1)
    if data_format == FORMAT_INT16:
        return samples.astype(">i2").view(np.uint8).reshape(samples.shape[0], -1)
    if data_format == FORMAT_INT8:
        return samples.astype(np.int8).view(np.uint8).reshape(samples.shape[0], -1)
    raise ValueError(f"unsupported SEG-Y data format code {data_format}")


# --- text header (3200-byte EBCDIC/ASCII card image) -----------------------

CARD_ROWS, CARD_COLS = 40, 80


def decode_text_header(raw: bytes, encoding: str = "cp037") -> str:
    """3200 bytes -> 40x80 card image joined by newlines."""
    text = raw.decode(encoding, errors="replace")
    return "\n".join(
        text[i * CARD_COLS : (i + 1) * CARD_COLS] for i in range(CARD_ROWS)
    )


def sanitize_text_header(text: str) -> str:
    """Enforce the 40x80 printable-ASCII card image (F5,
    ``segy/text_header.py:35-92``): collapse newline runs, replace
    non-printables, pad/truncate rows and row count."""
    import re

    text = re.sub(r"\n{2,}", "\n", text)
    rows = text.split("\n")[:CARD_ROWS]
    clean_rows = []
    for row in rows:
        row = "".join(ch if 32 <= ord(ch) < 127 else " " for ch in row)
        clean_rows.append(row[:CARD_COLS].ljust(CARD_COLS))
    while len(clean_rows) < CARD_ROWS:
        clean_rows.append(" " * CARD_COLS)
    return "\n".join(clean_rows)


def encode_text_header(text: str, encoding: str = "cp037") -> bytes:
    flat = sanitize_text_header(text).replace("\n", "")
    raw = flat.encode(encoding)
    assert len(raw) == TEXT_HEADER_BYTES
    return raw


def validate_text_header(text: str) -> None:
    rows = text.split("\n")
    if len(rows) != CARD_ROWS:
        raise ValueError(f"text header must have {CARD_ROWS} rows, got {len(rows)}")
    for i, row in enumerate(rows):
        if len(row) != CARD_COLS:
            raise ValueError(f"row {i} must be {CARD_COLS} chars, got {len(row)}")
        if any(not (32 <= ord(ch) < 127) for ch in row):
            raise ValueError(f"row {i} contains non-printable characters")


# --- binary header ----------------------------------------------------------

# 0-based byte offsets within the 400-byte binary header (SEG-Y rev1)
BINARY_HEADER_FIELDS: dict[str, tuple[int, str]] = {
    "job_id": (0, ">i4"),
    "line_number": (4, ">i4"),
    "sample_interval": (16, ">i2"),  # microseconds
    "samples_per_trace": (20, ">i2"),
    "data_format": (24, ">i2"),
    "measurement_system": (54, ">i2"),  # 1=m, 2=ft
    "segy_revision": (300, ">u2"),  # (major<<8)|minor
    "fixed_length_flag": (302, ">i2"),
    "extended_headers": (304, ">i2"),
}


def decode_binary_header(raw: bytes) -> dict[str, int]:
    out = {}
    for name, (off, fmt) in BINARY_HEADER_FIELDS.items():
        out[name] = int(np.frombuffer(raw, dtype=fmt, count=1, offset=off)[0])
    return out


def encode_binary_header(values: dict[str, int]) -> bytes:
    buf = np.zeros(BINARY_HEADER_BYTES, dtype=np.uint8)
    for name, value in values.items():
        off, fmt = BINARY_HEADER_FIELDS[name]
        b = np.array([value], dtype=fmt).view(np.uint8)
        buf[off : off + b.size] = b
    return buf.tobytes()


def encode_segy_revision(major: int, minor: int) -> int:
    """(major<<8)|minor (F6, ``segy/compat.py:92-121``)."""
    return ((major & 0xFF) << 8) | (minor & 0xFF)


# --- trace header spec ------------------------------------------------------

# Default rev1 field layout: name -> (0-based offset in the 240-byte header,
# big-endian numpy dtype). The full public SEG-Y rev1 named-field set (the
# out-of-box surface the reference gets from the TGSAI/segy standard specs);
# users may supply custom specs (SegySpec extension point, SURVEY §2.11).
DEFAULT_TRACE_HEADER_SPEC: dict[str, tuple[int, str]] = {
    "trace_seq_line": (0, ">i4"),
    "trace_seq_file": (4, ">i4"),
    "field_record": (8, ">i4"),
    "channel": (12, ">i4"),
    "energy_source_point": (16, ">i4"),
    "cdp": (20, ">i4"),
    "trace_in_ensemble": (24, ">i4"),
    "trace_id_code": (28, ">i2"),
    "vertically_summed": (30, ">i2"),
    "horizontally_stacked": (32, ">i2"),
    "data_use": (34, ">i2"),
    "offset": (36, ">i4"),
    "receiver_elevation": (40, ">i4"),
    "source_surface_elevation": (44, ">i4"),
    "source_depth": (48, ">i4"),
    "receiver_datum_elevation": (52, ">i4"),
    "source_datum_elevation": (56, ">i4"),
    "source_water_depth": (60, ">i4"),
    "receiver_water_depth": (64, ">i4"),
    "elevation_scalar": (68, ">i2"),
    "coordinate_scalar": (70, ">i2"),
    "source_coord_x": (72, ">i4"),
    "source_coord_y": (76, ">i4"),
    "group_coord_x": (80, ">i4"),
    "group_coord_y": (84, ">i4"),
    "coordinate_units": (88, ">i2"),
    "weathering_velocity": (90, ">i2"),
    "subweathering_velocity": (92, ">i2"),
    "source_uphole_time": (94, ">i2"),
    "group_uphole_time": (96, ">i2"),
    "source_static_correction": (98, ">i2"),
    "group_static_correction": (100, ">i2"),
    "total_static_applied": (102, ">i2"),
    "lag_time_a": (104, ">i2"),
    "lag_time_b": (106, ">i2"),
    "delay_recording_time": (108, ">i2"),
    "mute_time_start": (110, ">i2"),
    "mute_time_end": (112, ">i2"),
    "num_samples": (114, ">i2"),
    "sample_interval": (116, ">i2"),
    "instrument_gain_type": (118, ">i2"),
    "instrument_gain_const": (120, ">i2"),
    "instrument_gain_initial": (122, ">i2"),
    "correlated": (124, ">i2"),
    "sweep_freq_start": (126, ">i2"),
    "sweep_freq_end": (128, ">i2"),
    "sweep_length": (130, ">i2"),
    "sweep_type": (132, ">i2"),
    "sweep_taper_start": (134, ">i2"),
    "sweep_taper_end": (136, ">i2"),
    "taper_type": (138, ">i2"),
    "alias_filter_freq": (140, ">i2"),
    "alias_filter_slope": (142, ">i2"),
    "notch_filter_freq": (144, ">i2"),
    "notch_filter_slope": (146, ">i2"),
    "low_cut_freq": (148, ">i2"),
    "high_cut_freq": (150, ">i2"),
    "low_cut_slope": (152, ">i2"),
    "high_cut_slope": (154, ">i2"),
    "year": (156, ">i2"),
    "day_of_year": (158, ">i2"),
    "hour": (160, ">i2"),
    "minute": (162, ">i2"),
    "second": (164, ">i2"),
    "time_basis_code": (166, ">i2"),
    "trace_weighting_factor": (168, ">i2"),
    "group_num_roll_switch": (170, ">i2"),
    "group_num_first_trace": (172, ">i2"),
    "group_num_last_trace": (174, ">i2"),
    "gap_size": (176, ">i2"),
    "overtravel": (178, ">i2"),
    "cdp_x": (180, ">i4"),
    "cdp_y": (184, ">i4"),
    "inline": (188, ">i4"),
    "crossline": (192, ">i4"),
    "shot_point": (196, ">i4"),
    "shot_point_scalar": (200, ">i2"),
    "trace_value_unit": (202, ">i2"),
    "transduction_constant_mantissa": (204, ">i4"),
    "transduction_constant_exponent": (208, ">i2"),
    "transduction_units": (210, ">i2"),
    "device_trace_id": (212, ">i2"),
    "times_scalar": (214, ">i2"),
    "source_type_orientation": (216, ">i2"),
    "source_energy_direction_mantissa": (218, ">i4"),
    "source_energy_direction_exponent": (222, ">i2"),
    "source_measurement_mantissa": (224, ">i4"),
    "source_measurement_exponent": (228, ">i2"),
    "source_measurement_unit": (230, ">i2"),
}


def decode_trace_headers(
    raw: np.ndarray, fields: list[str], spec: dict[str, tuple[int, str]] | None = None
) -> dict[str, np.ndarray]:
    """Decode selected fields from raw headers.

    ``raw``: uint8 array (n_traces, 240). Only the requested ``fields`` are
    decoded — this is the column-pruning contract (P1): the scan honors the
    pruned schema instead of materializing all fields.
    """
    spec = spec or DEFAULT_TRACE_HEADER_SPEC
    out: dict[str, np.ndarray] = {}
    for name in fields:
        off, fmt = spec[name]
        width = np.dtype(fmt).itemsize
        view = raw[:, off : off + width].copy().view(fmt).reshape(-1)
        out[name] = view.astype(np.int64)
    return out


def encode_trace_headers(
    values: dict[str, np.ndarray],
    n_traces: int,
    spec: dict[str, tuple[int, str]] | None = None,
) -> np.ndarray:
    """Pack header fields into raw (n_traces, 240) bytes in spec order —
    positional assignment per F4 (``segy/utilities.py:68-113``)."""
    spec = spec or DEFAULT_TRACE_HEADER_SPEC
    raw = np.zeros((n_traces, TRACE_HEADER_BYTES), dtype=np.uint8)
    for name, vals in values.items():
        off, fmt = spec[name]
        b = np.asarray(vals).astype(fmt).view(np.uint8).reshape(n_traces, -1)
        raw[:, off : off + b.shape[1]] = b
    return raw
