"""Pure-numpy Zarr v2 + v3 store interop (S4 for real ``.mdio`` data).

The reference's container is an xarray-convention Zarr group and
supports BOTH storage-spec versions behind a global toggle
(``api/io.py:57-66``, ``constants.py:10-15``: v2 with consolidated
metadata + ``_ARRAY_DIMENSIONS`` attrs; v3 with per-node ``zarr.json``
and first-class ``dimension_names``). This module implements both
*public zarr storage specs* directly:

- **v2**: ``.zgroup``/``.zarray``/``.zattrs`` JSON metadata, C-order
  full-size chunk files named ``i.j.k`` (or ``i/j/k`` with
  ``dimension_separator: "/"``), edge chunks padded to the full chunk
  shape, optional consolidated ``.zmetadata``.
- **v3**: one ``zarr.json`` per node (``node_type`` group/array),
  ``chunk_grid {regular}``, default chunk-key encoding ``c/i/j`` (and
  the ``v2`` encoding variant), ``codecs`` chains of
  ``bytes[+gzip|zlib]``, ``dimension_names``.

so an engine user can read existing MDIO/Zarr cubes and write cubes
that zarr/xarray readers open, without zarr installed.

Compressors: ``null``/``zlib``/``gzip`` (stdlib), ``zstd``/``lz4``
(pyarrow codecs), and **blosc1 containers** — the reference's DEFAULT
codec (blosc-zstd clevel 5, ``builder/schemas/compressors.py:20-29``) —
via the pure-Python chunk-format parser in ``sources/blosc1.py``
(inner streams: zstd/lz4/snappy/zlib; byte- AND bit-shuffle filters,
read + write). Only blosclz streams remain unsupported, rejected with
an explicit error naming the feature rather than misparsed;
``_decode_chunk`` / ``_encode_chunk`` stay the single plug-in point.

Scale shape: reading is one Spark task per *spatial chunk column* (all
vertical chunks of one spatial chunk tuple), each task touching only its
own chunk files — embarrassingly parallel, zero shuffle (``mapInArrow``).
Writing reuses the store's chunk-key partitioning: ``applyInArrow`` over
chunk-key groups, one group = one set of chunk files, no extra exchange
beyond the groupBy's (which matches the store's existing layout). Trace
blocks cross the Spark boundary through
:mod:`~mdio_python_spark.sources.trace_arrow`, never through pandas.
"""

from __future__ import annotations

import json
import math
import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.sources import trace_arrow


class UnsupportedCodecError(ValueError):
    """Chunk compressor needs a codec not available here (e.g. blosc)."""


# --- chunk codecs -----------------------------------------------------------


def _decode_chunk(
    raw: bytes, compressor: dict | None, out_size: int | None = None
) -> bytes:
    """``out_size`` (chunk nbytes) feeds the codecs that can't derive it
    from the stream (lz4-block, some zstd frames)."""
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.decompress(raw)
    if cid == "gzip":  # zarr v3 stdlib codec; wbits=31 selects gzip framing
        return zlib.decompress(raw, 31)
    if cid == "blosc":
        # the reference's DEFAULT compressor (blosc-zstd clevel 5,
        # builder/schemas/compressors.py:20-29): public c-blosc chunk
        # format parsed directly, inner streams via pyarrow codecs
        from mdio_python_spark.sources import blosc1

        try:
            return blosc1.decompress(raw)
        except blosc1.UnsupportedBloscError as exc:
            raise UnsupportedCodecError(str(exc)) from exc
    if cid == "zstd":
        return pa.Codec("zstd").decompress(raw, out_size).to_pybytes()
    if cid == "lz4":
        # numcodecs LZ4 framing: int32-LE original size + LZ4 block data
        (n,) = struct.unpack_from("<i", raw, 0)
        return pa.Codec("lz4_raw").decompress(raw[4:], n).to_pybytes()
    if cid in ("zfpy", "zfp"):
        # The reference's opt-in lossy path (builder/schemas/
        # compressors.py:46-98, numcodecs ZFPY). Deliberate fence, not an
        # oversight: a ZFP decoder cannot be honestly verified in this
        # container (no independent ZFP encoder to build fixtures with),
        # and a plausibly-wrong transform-codec decode is worse than a
        # named refusal. Decision + contract recorded in SCALING.md
        # ("ZFP read path"). The tolerance-contract analog for WRITING
        # lossy copies is operators/access_pattern.py (quantize+zstd).
        mode = compressor.get("mode")
        raise UnsupportedCodecError(
            f"chunk compressor 'zfp' (mode={mode!r}) unsupported: this "
            "engine does not decode the ZFP stream format; re-write the "
            "store's lossy copies with the default blosc-zstd, or use "
            "the quantize+zstd tolerance analog (see SCALING.md 'ZFP "
            "read path')"
        )
    raise UnsupportedCodecError(
        f"chunk compressor {cid!r} unsupported (container has no {cid} codec); "
        "supported: null, zlib, gzip, zstd, lz4, blosc[zstd/lz4/snappy/zlib]"
    )


def _encode_chunk(raw: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.compress(raw, compressor.get("level", 1))
    if cid == "gzip":
        import gzip

        # mtime=0 keeps the gzip header byte-deterministic across runs
        return gzip.compress(raw, compresslevel=compressor.get("level", 1), mtime=0)
    if cid == "blosc":
        from mdio_python_spark.sources import blosc1

        shuf = compressor.get("shuffle", 1)
        try:
            return blosc1.compress(
                raw,
                typesize=int(compressor.get("typesize") or 4),
                cname=compressor.get("cname", "zstd"),
                clevel=int(compressor.get("clevel", 5)),
                shuffle="bit" if shuf == 2 else shuf != 0,
                blocksize=int(compressor.get("blocksize") or 0),
            )
        except blosc1.UnsupportedBloscError as exc:
            raise UnsupportedCodecError(str(exc)) from exc
    if cid == "zstd":
        codec = pa.Codec("zstd", compression_level=compressor.get("level", 5))
        return codec.compress(raw).to_pybytes()
    if cid == "lz4":
        return struct.pack("<i", len(raw)) + pa.Codec("lz4_raw").compress(
            raw
        ).to_pybytes()
    raise UnsupportedCodecError(f"cannot encode with compressor {cid!r}")


# --- metadata ---------------------------------------------------------------


@dataclass
class ShardingSpec:
    """zarr v3 ``sharding_indexed`` layout: each chunk file is a SHARD of
    inner chunks plus a binary index (public spec: codecs/sharding-indexed).
    Index = C-order ``(grid..., 2)`` uint64 LE ``[offset, nbytes]`` pairs
    (``2^64-1`` marking absent inner chunks), at the start or end of the
    shard, optionally followed by a crc32c of the index."""

    inner_chunks: tuple[int, ...]
    compressor: dict | None  # inner chunk compressor
    endian: str
    index_location: str  # "start" | "end"
    index_crc: bool


@dataclass
class ZarrArray:
    """Driver-side view of one ``.zarray`` node."""

    path: str  # filesystem dir holding the chunk files
    name: str
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    dtype: np.dtype
    compressor: dict | None
    fill_value: object
    order: str
    dim_sep: str
    attrs: dict = field(default_factory=dict)
    key_prefix: str = ""  # "" (v2 / v3 "v2" encoding) or "c" (v3 default)
    sharding: ShardingSpec | None = None  # chunks are shards when set

    @property
    def dims(self) -> list[str]:
        return list(self.attrs.get("_ARRAY_DIMENSIONS", []))

    @property
    def chunk_grid(self) -> tuple[int, ...]:
        return tuple(
            math.ceil(s / c) for s, c in zip(self.shape, self.chunks)
        )

    def chunk_file(self, idx: tuple[int, ...]) -> str:
        parts = ([self.key_prefix] if self.key_prefix else []) + [
            str(i) for i in idx
        ]
        return os.path.join(self.path, self.dim_sep.join(parts))


@dataclass
class ZarrGroup:
    path: str
    attrs: dict
    arrays: dict[str, ZarrArray]


def _parse_fill(fill, dtype: np.dtype):
    if fill is None:
        return np.zeros((), dtype=dtype)[()]
    if fill == "NaN":
        return np.nan
    if fill == "Infinity":
        return np.inf
    if fill == "-Infinity":
        return -np.inf
    return np.array(fill, dtype=dtype)[()]


# zarr v3 names its data types; v2 uses numpy byte-order descriptors.
_V3_DTYPES = {
    "bool": "|b1",
    "int8": "|i1",
    "int16": "<i2",
    "int32": "<i4",
    "int64": "<i8",
    "uint8": "|u1",
    "uint16": "<u2",
    "uint32": "<u4",
    "uint64": "<u8",
    "float16": "<f2",
    "float32": "<f4",
    "float64": "<f8",
    "complex64": "<c8",
    "complex128": "<c16",
}
_V3_DTYPE_NAMES = {np.dtype(v): k for k, v in _V3_DTYPES.items()}


def _v3_codecs(codecs: list | None, name: str) -> tuple[dict | None, str]:
    """Reduce a v3 codec chain to (compressor-dict, endian). ANY codec
    outside the supported set (bytes endian marker + gzip/zlib
    compression) marks the whole chain unsupported — an unknown
    array->array codec like ``transpose`` must not be silently dropped
    just because a known compressor follows it (the bytes would gunzip
    fine but carry a scrambled layout). Decode raises the explicit
    UnsupportedCodecError naming the first offender; sharding is rejected
    at parse time (it changes the chunk *file layout*, not just bytes)."""
    comp: dict | None = None
    endian = "little"
    unsupported: dict | None = None
    shuffle_codes = {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}
    for c in codecs or []:
        cname, cfg = c.get("name"), (c.get("configuration") or {})
        if cname == "bytes":
            endian = cfg.get("endian", "little")
        elif cname in ("gzip", "zlib"):
            comp = {"id": cname, "level": cfg.get("level", 1)}
        elif cname == "zstd":
            comp = {"id": "zstd", "level": cfg.get("level", 5)}
        elif cname == "blosc":
            comp = {
                "id": "blosc",
                "cname": cfg.get("cname", "zstd"),
                "clevel": cfg.get("clevel", 5),
                "shuffle": shuffle_codes.get(cfg.get("shuffle", "noshuffle"), 0),
                "typesize": cfg.get("typesize"),
                "blocksize": cfg.get("blocksize", 0),
            }
        elif cname == "sharding_indexed":
            raise UnsupportedCodecError(
                f"{name}: sharding_indexed must be the sole outer codec"
            )
        elif unsupported is None:
            unsupported = {"id": cname, **cfg}
    return (unsupported if unsupported is not None else comp), endian


def _v3_chunk_pipeline(
    codecs: list | None, name: str
) -> tuple[dict | None, str, ShardingSpec | None]:
    """Full v3 chunk pipeline: either a plain codec chain, or a single
    ``sharding_indexed`` whose configuration nests the inner chain."""
    codecs = codecs or []
    if len(codecs) == 1 and codecs[0].get("name") == "sharding_indexed":
        cfg = codecs[0].get("configuration") or {}
        inner = tuple(int(x) for x in cfg["chunk_shape"])
        comp, endian = _v3_codecs(cfg.get("codecs"), f"{name}[inner]")
        idx_crc = False
        for ic in cfg.get("index_codecs") or []:
            icn = ic.get("name")
            if icn == "crc32c":
                idx_crc = True
            elif icn != "bytes":
                raise UnsupportedCodecError(
                    f"{name}: shard index codec {icn!r} unsupported"
                )
        loc = cfg.get("index_location", "end")
        if loc not in ("start", "end"):
            raise ValueError(f"{name}: bad index_location {loc!r}")
        return comp, endian, ShardingSpec(inner, comp, endian, loc, idx_crc)
    return (*_v3_codecs(codecs, name), None)


def _read_json(p: str) -> dict:
    with open(p) as f:
        return json.load(f)


def open_group(path: str) -> ZarrGroup:
    """Parse a zarr group directory — v3 when a root ``zarr.json`` is
    present (reference toggle: ``api/io.py:57-66``), else v2
    (consolidated ``.zmetadata`` when present, else a directory walk)."""
    if os.path.exists(os.path.join(path, "zarr.json")):
        return _open_group_v3(path)
    meta_path = os.path.join(path, ".zmetadata")
    entries: dict[str, dict] = {}
    if os.path.exists(meta_path):
        entries = _read_json(meta_path)["metadata"]
    else:
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            prefix = "" if rel == "." else rel.replace(os.sep, "/") + "/"
            for fn in files:
                if fn in (".zgroup", ".zarray", ".zattrs"):
                    entries[prefix + fn] = _read_json(os.path.join(root, fn))
    group_attrs = entries.get(".zattrs", {})
    arrays: dict[str, ZarrArray] = {}
    for key, meta in entries.items():
        if not key.endswith(".zarray"):
            continue
        name = key[: -len("/.zarray")]
        if meta.get("zarr_format") != 2:
            raise ValueError(f"{name}: only zarr v2 is supported")
        if meta.get("order", "C") != "C":
            raise ValueError(f"{name}: only C-order chunks supported")
        if meta.get("filters"):
            raise UnsupportedCodecError(f"{name}: filters unsupported")
        dtype = (
            np.dtype([tuple(fld) for fld in meta["dtype"]])
            if isinstance(meta["dtype"], list)
            else np.dtype(meta["dtype"])
        )
        arrays[name] = ZarrArray(
            path=os.path.join(path, name.replace("/", os.sep)),
            name=name,
            shape=tuple(meta["shape"]),
            chunks=tuple(meta["chunks"]),
            dtype=dtype,
            compressor=meta.get("compressor"),
            fill_value=_parse_fill(meta.get("fill_value"), dtype),
            order="C",
            dim_sep=meta.get("dimension_separator", "."),
            attrs=entries.get(f"{name}/.zattrs", {}),
        )
    return ZarrGroup(path=path, attrs=group_attrs, arrays=arrays)


def _open_group_v3(path: str) -> ZarrGroup:
    """Parse a zarr v3 group: one ``zarr.json`` per node, arrays carry
    ``dimension_names`` (mapped onto the v2 ``_ARRAY_DIMENSIONS`` attr so
    every consumer sees one dims convention)."""
    root_meta = _read_json(os.path.join(path, "zarr.json"))
    if root_meta.get("zarr_format") != 3:
        raise ValueError(f"{path}: zarr.json is not zarr_format 3")
    arrays: dict[str, ZarrArray] = {}
    for r, _dirs, files in os.walk(path):
        if "zarr.json" not in files:
            continue
        rel = os.path.relpath(r, path)
        if rel == ".":
            continue
        meta = _read_json(os.path.join(r, "zarr.json"))
        if meta.get("node_type") != "array":
            continue
        name = rel.replace(os.sep, "/")
        dt = meta["data_type"]
        if not isinstance(dt, str) or dt not in _V3_DTYPES:
            raise ValueError(f"{name}: unsupported v3 data_type {dt!r}")
        grid = meta["chunk_grid"]
        if grid.get("name") != "regular":
            raise ValueError(f"{name}: only regular chunk grids supported")
        comp, endian, sharding = _v3_chunk_pipeline(meta.get("codecs"), name)
        dtype = np.dtype(_V3_DTYPES[dt])
        if endian == "big":
            dtype = dtype.newbyteorder(">")
        cke = meta.get("chunk_key_encoding") or {"name": "default"}
        enc = cke.get("name", "default")
        sep = (cke.get("configuration") or {}).get(
            "separator", "/" if enc == "default" else "."
        )
        attrs = dict(meta.get("attributes") or {})
        if meta.get("dimension_names"):
            attrs.setdefault(
                "_ARRAY_DIMENSIONS", list(meta["dimension_names"])
            )
        arrays[name] = ZarrArray(
            path=r,
            name=name,
            shape=tuple(meta["shape"]),
            chunks=tuple(grid["configuration"]["chunk_shape"]),
            dtype=dtype,
            compressor=comp,
            fill_value=_parse_fill(meta.get("fill_value"), dtype),
            order="C",
            dim_sep=sep,
            attrs=attrs,
            key_prefix="c" if enc == "default" else "",
            sharding=sharding,
        )
    return ZarrGroup(
        path=path, attrs=root_meta.get("attributes", {}), arrays=arrays
    )


# --- region read (the core of any zarr reader) ------------------------------


def read_region(arr: ZarrArray, region: tuple[slice, ...]) -> np.ndarray:
    """Assemble an arbitrary rectangular region from chunk files.

    Missing chunk files materialize as fill_value (zarr's sparse-write
    semantics — exactly how dead cells appear in an MDIO cube).
    """
    region = tuple(
        slice(*s.indices(dim)) for s, dim in zip(region, arr.shape)
    )
    out_shape = tuple(s.stop - s.start for s in region)
    out = np.full(out_shape, arr.fill_value, dtype=arr.dtype)
    lo = [s.start // c for s, c in zip(region, arr.chunks)]
    hi = [(max(s.stop - 1, s.start)) // c for s, c in zip(region, arr.chunks)]
    for flat in np.ndindex(*[h - l + 1 for l, h in zip(lo, hi)]):
        cidx = tuple(l + f for l, f in zip(lo, flat))
        cpath = arr.chunk_file(cidx)
        c0 = [i * c for i, c in zip(cidx, arr.chunks)]
        src, dst = [], []
        for d in range(len(arr.shape)):
            a = max(region[d].start, c0[d])
            b = min(region[d].stop, c0[d] + arr.chunks[d])
            src.append(slice(a - c0[d], b - c0[d]))
            dst.append(slice(a - region[d].start, b - region[d].start))
        if not os.path.exists(cpath):
            continue  # already fill
        chunk = _load_chunk(arr, cpath)
        out[tuple(dst)] = chunk[tuple(src)]
    return out


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) — table-driven, for shard index verification."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        poly = 0x82F63B78
        table = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


_CRC32C_TABLE: list[int] | None = None

_SHARD_ABSENT = (1 << 64) - 1


def _load_chunk(arr: ZarrArray, cpath: str) -> np.ndarray:
    """Materialize one full chunk (or shard) file as an ndarray of shape
    ``arr.chunks``; absent inner chunks of a shard appear as fill."""
    with open(cpath, "rb") as f:
        raw = f.read()
    if arr.sharding is None:
        nbytes = int(np.prod(arr.chunks)) * arr.dtype.itemsize
        data = _decode_chunk(raw, arr.compressor, nbytes)
        return np.frombuffer(data, dtype=arr.dtype).reshape(arr.chunks)
    sh = arr.sharding
    grid = tuple(
        -(-c // i) for c, i in zip(arr.chunks, sh.inner_chunks)
    )
    n_inner = int(np.prod(grid))
    idx_size = n_inner * 16 + (4 if sh.index_crc else 0)
    if len(raw) < idx_size:
        raise ValueError(f"{cpath}: shard smaller than its index ({len(raw)})")
    idx_bytes = raw[:idx_size] if sh.index_location == "start" else raw[-idx_size:]
    table = idx_bytes[: n_inner * 16]
    if sh.index_crc:
        stored = int.from_bytes(idx_bytes[n_inner * 16 :], "little")
        actual = _crc32c(table)
        if stored != actual:
            raise ValueError(
                f"{cpath}: shard index crc32c mismatch "
                f"({stored:#010x} != {actual:#010x})"
            )
    pairs = np.frombuffer(table, dtype="<u8").reshape(n_inner, 2)
    out = np.full(arr.chunks, arr.fill_value, dtype=arr.dtype)
    inner_nbytes = int(np.prod(sh.inner_chunks)) * arr.dtype.itemsize
    for flat in range(n_inner):
        off, nb = int(pairs[flat, 0]), int(pairs[flat, 1])
        if off == _SHARD_ABSENT and nb == _SHARD_ABSENT:
            continue
        if off + nb > len(raw):
            raise ValueError(f"{cpath}: inner chunk {flat} out of bounds")
        data = _decode_chunk(raw[off : off + nb], sh.compressor, inner_nbytes)
        inner = np.frombuffer(data, dtype=arr.dtype).reshape(sh.inner_chunks)
        cidx = np.unravel_index(flat, grid)
        sl = tuple(
            slice(ci * ic, min((ci + 1) * ic, c))
            for ci, ic, c in zip(cidx, sh.inner_chunks, arr.chunks)
        )
        trim = tuple(slice(0, s.stop - s.start) for s in sl)
        out[sl] = inner[trim]
    return out


def read_array(arr: ZarrArray) -> np.ndarray:
    return read_region(arr, tuple(slice(0, s) for s in arr.shape))


# --- write side -------------------------------------------------------------


def _dtype_descr(dtype: np.dtype) -> str:
    return dtype.str


def _v3_compressor(compressor: dict | None) -> dict | None:
    """Translate a compressor dict to a valid zarr v3 codec. ``zlib`` is a
    v2 numcodecs id, not a v3 spec codec — map it to ``gzip`` (both sides:
    metadata AND chunk encoding must agree, so callers use the returned
    dict for both). Anything else unsupported raises rather than emitting
    metadata real v3 readers reject."""
    if compressor is None:
        return None
    cid = compressor.get("id")
    if cid in ("gzip", "zstd", "blosc"):
        return compressor
    if cid == "zlib":
        return {"id": "gzip", "level": compressor.get("level", 1)}
    raise UnsupportedCodecError(
        f"compressor {cid!r} is not a supported zarr v3 codec here "
        "(use gzip, zstd, blosc, zlib [auto-mapped to gzip], or null)"
    )


def _v3_codec_entry(comp: dict) -> dict:
    """Metadata entry for a (already _v3_compressor-translated) codec."""
    cid = comp["id"]
    if cid == "gzip":
        return {"name": "gzip", "configuration": {"level": comp.get("level", 1)}}
    if cid == "zstd":
        return {
            "name": "zstd",
            "configuration": {"level": comp.get("level", 5), "checksum": False},
        }
    if cid == "blosc":
        shuffle_names = {0: "noshuffle", 1: "shuffle", 2: "bitshuffle"}
        return {
            "name": "blosc",
            "configuration": {
                "cname": comp.get("cname", "zstd"),
                "clevel": comp.get("clevel", 5),
                "shuffle": shuffle_names.get(comp.get("shuffle", 1), "shuffle"),
                "typesize": int(comp.get("typesize") or 4),
                "blocksize": int(comp.get("blocksize") or 0),
            },
        }
    raise UnsupportedCodecError(f"no v3 metadata form for codec {cid!r}")


def _json_fill(fill_value, dtype: np.dtype):
    """Serialize a fill value per the zarr spec (v2 and v3 agree): bools
    as JSON booleans, non-finite floats as the string forms "NaN" /
    "Infinity" / "-Infinity" — a bare NaN token is invalid JSON that real
    readers reject."""
    kind = np.dtype(dtype).kind
    if kind == "b":
        return bool(fill_value)
    if kind in "fc":
        f = float(np.real(fill_value)) if kind == "c" else float(fill_value)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "Infinity" if f > 0 else "-Infinity"
        return f
    return fill_value


def write_array_meta(
    root: str,
    name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    dtype: np.dtype,
    dims: list[str],
    compressor: dict | None,
    fill_value=0,
    extra_attrs: dict | None = None,
    zarr_format: int = 2,
    shard_chunks: tuple[int, ...] | None = None,
) -> None:
    """``shard_chunks`` (v3 only) switches the array to the
    ``sharding_indexed`` layout: each chunk FILE is a shard of
    ``shard_chunks`` elements holding inner chunks of ``chunks`` elements
    (which must divide it), indexed by a trailing uint64 [offset, nbytes]
    table + crc32c. Write shard files with :func:`write_shard`."""
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    if shard_chunks is not None and zarr_format != 3:
        raise ValueError("sharding_indexed is a zarr v3 layout")
    if zarr_format == 3:
        v3_comp = _v3_compressor(compressor)
        if v3_comp and v3_comp.get("id") == "blosc" and not v3_comp.get("typesize"):
            v3_comp = {**v3_comp, "typesize": np.dtype(dtype).itemsize}
        codecs: list[dict] = [
            {"name": "bytes", "configuration": {"endian": "little"}}
        ]
        if v3_comp is not None:
            codecs.append(_v3_codec_entry(v3_comp))
        grid_chunks = chunks
        if shard_chunks is not None:
            if any(s % c for s, c in zip(shard_chunks, chunks)):
                raise ValueError(
                    f"shard_chunks {shard_chunks} must be an integer multiple "
                    f"of inner chunks {chunks} in every dimension"
                )
            grid_chunks = shard_chunks
            codecs = [
                {
                    "name": "sharding_indexed",
                    "configuration": {
                        "chunk_shape": list(chunks),
                        "codecs": codecs,
                        "index_codecs": [
                            {"name": "bytes", "configuration": {"endian": "little"}},
                            {"name": "crc32c"},
                        ],
                        "index_location": "end",
                    },
                }
            ]
        meta = {
            "zarr_format": 3,
            "node_type": "array",
            "shape": list(shape),
            "data_type": _V3_DTYPE_NAMES[np.dtype(dtype)],
            "chunk_grid": {
                "name": "regular",
                "configuration": {"chunk_shape": list(grid_chunks)},
            },
            "chunk_key_encoding": {
                "name": "default",
                "configuration": {"separator": "/"},
            },
            "fill_value": _json_fill(fill_value, dtype),
            "codecs": codecs,
            "attributes": extra_attrs or {},
            "dimension_names": list(dims),
        }
        with open(os.path.join(d, "zarr.json"), "w") as f:
            json.dump(meta, f, allow_nan=False)
        return
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": _dtype_descr(np.dtype(dtype)),
        "compressor": compressor,
        "fill_value": _json_fill(fill_value, dtype),
        "order": "C",
        "filters": None,
        "dimension_separator": ".",
    }
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    attrs = {"_ARRAY_DIMENSIONS": dims, **(extra_attrs or {})}
    with open(os.path.join(d, ".zattrs"), "w") as f:
        json.dump(attrs, f)


def write_chunk(
    root: str,
    name: str,
    chunk_idx: tuple[int, ...],
    data: np.ndarray,
    chunks: tuple[int, ...],
    compressor: dict | None,
    fill_value=0,
    zarr_format: int = 2,
) -> None:
    """Write one chunk file; ``data`` may be an edge remainder — it is
    padded to the full chunk shape per the spec (both versions)."""
    if tuple(data.shape) != tuple(chunks):
        full = np.full(chunks, fill_value, dtype=data.dtype)
        full[tuple(slice(0, s) for s in data.shape)] = data
        data = full
    if zarr_format == 3:
        # metadata and bytes must agree: the same zlib->gzip translation
        # write_array_meta applies
        compressor = _v3_compressor(compressor)
    if compressor and compressor.get("id") == "blosc" and not compressor.get("typesize"):
        # numcodecs convention: blosc typesize defaults to the array itemsize
        compressor = {**compressor, "typesize": data.dtype.itemsize}
    raw = _encode_chunk(np.ascontiguousarray(data).tobytes(), compressor)
    if zarr_format == 3:  # default v3 key encoding: c/i/j nested dirs
        path = os.path.join(root, name, "c", *[str(i) for i in chunk_idx])
        os.makedirs(os.path.dirname(path), exist_ok=True)
    else:
        path = os.path.join(root, name, ".".join(str(i) for i in chunk_idx))
    with open(path, "wb") as f:
        f.write(raw)


def write_shard(
    root: str,
    name: str,
    shard_idx: tuple[int, ...],
    data: np.ndarray,
    shard_chunks: tuple[int, ...],
    inner_chunks: tuple[int, ...],
    compressor: dict | None,
    fill_value=0,
    zarr_format: int = 3,
) -> None:
    """Write one ``sharding_indexed`` shard file (v3): inner chunks
    encoded back-to-back, then the C-order uint64 LE [offset, nbytes]
    index + crc32c at the END (matching :func:`write_array_meta`'s
    ``shard_chunks`` metadata). Inner chunks that are entirely
    ``fill_value`` are OMITTED (absent markers 2^64-1) — the sparse-shard
    form that keeps dead regions free on disk, exactly like absent chunk
    files in the unsharded layout. ``data`` may be an edge remainder."""
    if zarr_format != 3:
        raise ValueError("sharding_indexed is a zarr v3 layout")
    if tuple(data.shape) != tuple(shard_chunks):
        full = np.full(shard_chunks, fill_value, dtype=data.dtype)
        full[tuple(slice(0, s) for s in data.shape)] = data
        data = full
    compressor = _v3_compressor(compressor)
    if compressor and compressor.get("id") == "blosc" and not compressor.get("typesize"):
        compressor = {**compressor, "typesize": data.dtype.itemsize}
    grid = tuple(s // c for s, c in zip(shard_chunks, inner_chunks))
    n_inner = int(np.prod(grid))
    pairs = np.full((n_inner, 2), _SHARD_ABSENT, dtype="<u8")
    body = bytearray()
    for flat, cidx in enumerate(np.ndindex(*grid)):
        sel = tuple(
            slice(i * c, (i + 1) * c) for i, c in zip(cidx, inner_chunks)
        )
        inner = data[sel]
        fill_block = np.full(inner_chunks, fill_value, dtype=data.dtype)
        if np.array_equal(
            inner, fill_block, equal_nan=data.dtype.kind in "fc"
        ):
            continue  # absent inner chunk
        raw = _encode_chunk(np.ascontiguousarray(inner).tobytes(), compressor)
        pairs[flat] = (len(body), len(raw))
        body.extend(raw)
    table = pairs.tobytes()
    blob = bytes(body) + table + _crc32c(table).to_bytes(4, "little")
    path = os.path.join(root, name, "c", *[str(i) for i in shard_idx])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(blob)


def consolidate(root: str) -> None:
    """Write ``.zmetadata`` (consolidated metadata) like the reference's
    v2 writer (``segy/blocked_io.py:84-93``)."""
    metadata: dict[str, dict] = {}
    for r, _dirs, files in os.walk(root):
        rel = os.path.relpath(r, root)
        prefix = "" if rel == "." else rel.replace(os.sep, "/") + "/"
        for fn in files:
            if fn in (".zgroup", ".zarray", ".zattrs"):
                metadata[prefix + fn] = _read_json(os.path.join(r, fn))
    with open(os.path.join(root, ".zmetadata"), "w") as f:
        json.dump({"metadata": metadata, "zarr_consolidated_format": 1}, f)


# --- Spark integration ------------------------------------------------------


def zarr_cube_to_df(
    spark: SparkSession,
    path: str,
    variable: str | None = None,
    mask_var: str = "trace_mask",
) -> DataFrame:
    """Open an MDIO-shaped zarr cube as a long-format trace DataFrame:
    one row per live trace with ``<dim>`` value, ``<dim>_idx``, and the
    ``samples`` vector — the same surface ``open_store`` gives.

    One Spark task per spatial chunk tuple; each task reads its own chunk
    files (all vertical chunks of its column) — no shuffle.
    """
    group = open_group(path)
    if variable is None:
        variable = group.attrs.get("attributes", {}).get(
            "defaultVariableName"
        ) or max(
            (a for a in group.arrays.values() if len(a.shape) > 1),
            key=lambda a: math.prod(a.shape),
        ).name
    var = group.arrays[variable]
    spatial = var.dims[:-1]
    if not spatial:
        raise ValueError(f"{variable}: expected >= 2 dims")
    # small dimension coordinate arrays ship in the task closure
    coords = {
        d: read_array(group.arrays[d]) if d in group.arrays else None
        for d in spatial
    }
    mask = group.arrays.get(mask_var)
    spatial_grid = var.chunk_grid[:-1]
    n_tasks = math.prod(spatial_grid)

    schema = ", ".join(
        [f"{d} long, {d}_idx long" for d in spatial] + ["samples array<float>"]
    )

    def scan(batches):
        for batch in batches:
            for task_id in trace_arrow.numbers_from_arrow(batch.column(0), "id"):
                cidx = np.unravel_index(int(task_id), spatial_grid)
                lo = [i * c for i, c in zip(cidx, var.chunks[:-1])]
                hi = [
                    min(l + c, s)
                    for l, c, s in zip(lo, var.chunks[:-1], var.shape[:-1])
                ]
                box = tuple(slice(l, h) for l, h in zip(lo, hi))
                block = read_region(var, (*box, slice(0, var.shape[-1])))
                nspatial = tuple(h - l for l, h in zip(lo, hi))
                if mask is not None:
                    live = read_region(mask, box).astype(bool)
                else:
                    live = ~np.all(block == var.fill_value, axis=-1)
                idx = np.argwhere(live)
                if idx.size == 0:
                    continue
                cols = {}
                for d_i, d in enumerate(spatial):
                    gidx = idx[:, d_i] + lo[d_i]
                    cols[d] = (
                        coords[d][gidx].astype(np.int64)
                        if coords[d] is not None
                        else gidx.astype(np.int64)
                    )
                    cols[f"{d}_idx"] = gidx.astype(np.int64)
                flat = block.reshape(*nspatial, var.shape[-1])[live]
                arrays = [trace_arrow.numbers_to_arrow(c) for c in cols.values()]
                arrays.append(trace_arrow.samples_to_arrow(flat))
                yield pa.RecordBatch.from_arrays(arrays, names=[*cols, "samples"])

    blocks = spark.range(n_tasks).repartition(min(n_tasks, 256))
    return blocks.mapInArrow(scan, schema=schema)


def store_to_zarr(
    spark: SparkSession,
    store_path: str,
    zarr_path: str,
    compressor: dict | None = None,
    zarr_format: int = 2,
    shard_factor: int | None = None,
) -> int:
    """Export the engine's parquet store to an xarray-convention zarr
    group (v2 or v3 — the reference's global format toggle,
    ``api/io.py:57-66``) readable by zarr/xarray (and by
    :func:`zarr_cube_to_df`).

    Chunk boundaries = the store's chunk keys, so the write is
    ``applyInArrow`` over the store's existing partition layout — each
    group materializes its dense block and writes its chunk files.
    Returns the number of traces written.

    ``shard_factor`` (v3 only) switches the cube arrays to the
    ``sharding_indexed`` layout: each shard file covers
    ``shard_factor``^ndim store chunks (the store chunk stays the inner
    chunk, so read granularity is unchanged while file count drops
    ``shard_factor``^ndim-fold — the object-store listing/IOPS fix
    sharding exists for). The write groups by SHARD key instead of chunk
    key: still one ``applyInArrow`` pass over one exchange, each task
    holding one shard block in memory — size the factor so
    chunk_bytes * factor^ndim fits the executor.
    """
    from mdio_python_spark.sources.store import open_store

    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format!r}")
    if shard_factor is not None and zarr_format != 3:
        raise ValueError("shard_factor requires zarr_format=3")
    if shard_factor is not None and shard_factor < 1:
        raise ValueError("shard_factor must be >= 1")
    # zlib is a v2 numcodecs id; gzip is the v3 stdlib codec name
    compressor = compressor or (
        {"id": "zlib", "level": 1} if zarr_format == 2 else {"id": "gzip", "level": 1}
    )
    st = open_store(spark, store_path)
    spatial = st.spatial_dims
    attrs = st.dataset.attributes
    vertical = attrs.get("verticalDim", "time")
    var_name = attrs.get("defaultVariableName", "amplitude")
    dim_sizes = {d.name: d.size for d in st.dataset.dimensions}
    ns = dim_sizes[vertical]
    chunks_cfg = {
        **{d: 1 for d in spatial},
        **json.load(open(os.path.join(store_path, "manifest.json")))["chunks"],
    }
    spatial_chunks = tuple(int(chunks_cfg[d]) for d in spatial)
    shape = tuple(dim_sizes[d] for d in spatial)

    os.makedirs(zarr_path, exist_ok=True)
    if zarr_format == 3:
        with open(os.path.join(zarr_path, "zarr.json"), "w") as f:
            json.dump(
                {
                    "zarr_format": 3,
                    "node_type": "group",
                    "attributes": json.loads(
                        json.dumps({"attributes": attrs}, default=str)
                    ),
                },
                f,
            )
    else:
        with open(os.path.join(zarr_path, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
        with open(os.path.join(zarr_path, ".zattrs"), "w") as f:
            json.dump({"attributes": attrs}, f, default=str)

    # dimension coordinates: the driver-resident dim tables, in idx order
    for d in spatial:
        values, idx = st.dim_index[d]
        vals = values[np.argsort(idx)].astype(np.int64)
        write_array_meta(
            zarr_path, d, (len(vals),), (len(vals),), np.dtype("<i8"), [d],
            compressor,
            zarr_format=zarr_format,
        )
        write_chunk(
            zarr_path, d, (0,), vals.astype("<i8"), (len(vals),), compressor,
            zarr_format=zarr_format,
        )
    labels = (np.arange(ns) * attrs.get("sampleIntervalUs", 1000) // 1000).astype(
        "<i8"
    )
    write_array_meta(
        zarr_path, vertical, (ns,), (ns,), np.dtype("<i8"), [vertical],
        compressor,
        zarr_format=zarr_format,
    )
    write_chunk(
        zarr_path, vertical, (0,), labels, (ns,), compressor,
        zarr_format=zarr_format,
    )

    sf_ = shard_factor
    spatial_shard = (
        tuple(c * sf_ for c in spatial_chunks) if sf_ is not None else None
    )
    write_array_meta(
        zarr_path,
        var_name,
        (*shape, ns),
        (*spatial_chunks, ns),
        np.dtype("<f4"),
        [*spatial, vertical],
        compressor,
        fill_value=0,
        zarr_format=zarr_format,
        shard_chunks=(*spatial_shard, ns) if sf_ is not None else None,
    )
    write_array_meta(
        zarr_path,
        "trace_mask",
        shape,
        spatial_chunks,
        np.dtype("|b1"),
        list(spatial),
        compressor,
        fill_value=False,
        zarr_format=zarr_format,
        shard_chunks=spatial_shard,
    )
    # physical coordinates (cdp_x etc.) as dim-shaped float64 arrays —
    # what a real MDIO consumer expects beside the amplitude cube
    coord_names = [
        c.name
        for c in st.dataset.coordinates
        if c.name in st.traces.columns and c.name not in spatial
    ]
    for cname in coord_names:
        write_array_meta(
            zarr_path,
            cname,
            shape,
            spatial_chunks,
            np.dtype("<f8"),
            list(spatial),
            compressor,
            fill_value=0,
            zarr_format=zarr_format,
            shard_chunks=spatial_shard,
        )

    chunk_cols = [f"{d}_chunk" for d in spatial]
    idx_cols = [f"{d}_idx" for d in spatial]
    traces = st.traces.select(*chunk_cols, *idx_cols, *coord_names, "samples")
    n_spatial = len(spatial)
    var_chunks = (*spatial_chunks, ns)
    # sharded: group by shard key (chunk // factor) — same single exchange,
    # each task materializes one shard block instead of one chunk block
    group_spatial = spatial_shard if sf_ is not None else spatial_chunks

    def put(name, cidx, data, chunks, fill) -> None:
        """One chunk file, or one shard file of sf_^ndim spatial chunks."""
        if sf_ is None:
            write_chunk(
                zarr_path, name, cidx, data, chunks, compressor, fill,
                zarr_format=zarr_format,
            )
        else:
            shard = (*group_spatial, *chunks[n_spatial:])
            write_shard(zarr_path, name, cidx, data, shard, chunks, compressor, fill)

    def write_group(table: pa.Table) -> pa.Table:
        cidx = tuple(table[c][0].as_py() // (sf_ or 1) for c in chunk_cols)
        lo = [i * c for i, c in zip(cidx, group_spatial)]
        block_shape = tuple(
            min(c, s - l) for c, s, l in zip(group_spatial, shape, lo)
        )
        block = np.zeros((*block_shape, ns), dtype=np.float32)
        live = np.zeros(block_shape, dtype=bool)
        local = tuple(table[ic].to_numpy() - l for ic, l in zip(idx_cols, lo))
        block[local] = trace_arrow.samples_from_arrow(table["samples"])
        live[local] = True
        put(var_name, (*cidx, 0), block, var_chunks, 0)
        put("trace_mask", cidx, live, spatial_chunks, False)
        for cname in coord_names:
            cblock = np.zeros(block_shape, dtype=np.float64)
            cblock[local] = table[cname].to_numpy().astype(np.float64)
            put(cname, cidx, cblock, spatial_chunks, 0)
        return pa.table({"n": [table.num_rows]})

    if sf_ is not None:
        group_keys = [
            F.floor(F.col(c) / F.lit(sf_)).alias(f"_s_{c}") for c in chunk_cols
        ]
        grouped = traces.groupBy(*group_keys)
    else:
        grouped = traces.groupBy(*chunk_cols)
    counts = (
        grouped.applyInArrow(write_group, schema="n long")
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    if zarr_format == 2:
        consolidate(zarr_path)
    return int(counts or 0)
