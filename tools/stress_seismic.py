"""Seismic pipeline scale-stress row (VERDICT r5 item 6, rebuilt for
r6 item 3): time the FULL ingest and export pipelines — header pass,
grid strategies + QC, store write, ordered export back to SEG-Y — at a
base cube size and at ``--scale`` times the trace count, and flag
superlinear growth.

Round-7 changes (VERDICT r6 item 3): the r6 base cube was 4,608 traces,
so fixed costs dominated (ingest 1.49x at 30x) and the row proved
correctness under scale, not scaling. The default base is now 1M traces
(~0.7 GB SEG-Y — big enough that fixed costs are <20% of every stage),
the scaled leg defaults to 10x that (10M traces, ~7.3 GB), and both
legs record the PER-STAGE wall breakdown the ingest/export pipelines
expose via ``stage_clock``: header scan / strategies / grid QC / dim
tables / pivot write on ingest, encode / concat (+ concat mode) on
export. Each leg also records its store's bytes and parquet file count
(``store_bytes``, ``store_parquet_files``), so the trace encoding's
footprint shows at scale, and a slice leg (``slices``): one inline, one
crossline and one 50 x 16 ``dense_slice`` rectangle read of the new
store, each with its latency (build + collect), row count and the path
that served it (``LocalRelation``: read on the driver under
``store.SLICE_DRIVER_MAX_BYTES``; ``FileScan``: a Spark scan).

The e2e correctness of this path is pinned by tests/test_segy_roundtrip.py
(byte-identical roundtrip at small size); this harness re-asserts the
byte-identical roundtrip at BOTH sizes. Usage:

    python tools/stress_seismic.py --scales 10,30 --out stress_seismic.json

``--out`` defaults to ``stress_seismic.json`` under ``--workdir``, so a
plain run never overwrites a record checked into the repository.

The synthetic cube is generated with an independent vectorized writer
against the public SEG-Y rev1 layout (same field offsets as
tests/segy_factory.py; numpy-batched over blocks of inlines so
generating the scaled cube stays minutes even at 10M traces). Trace
count scales via the inline dim — the same way a bigger survey grows,
so per-crossline chunk geometry is unchanged.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import struct
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TEXT_BYTES = 3200
BIN_BYTES = 400
HDR_BYTES = 240

BASE_XL, BASE_NS = 64, 128
# warm-up cube stays tiny: it exists to absorb codegen/classloading, not
# to measure anything
WARM_IL = 72


def _file_header(ns: int, sample_interval: int = 2000) -> bytes:
    card = "STRESS CUBE".ljust(80)[:80] + " " * 80 * 39
    buf = bytearray(card.encode("cp037")) + bytearray(BIN_BYTES)
    struct.pack_into(">h", buf, TEXT_BYTES + 16, sample_interval)
    struct.pack_into(">h", buf, TEXT_BYTES + 20, ns)
    struct.pack_into(">h", buf, TEXT_BYTES + 24, 5)  # IEEE float32
    struct.pack_into(">h", buf, TEXT_BYTES + 54, 1)  # meters
    struct.pack_into(">H", buf, TEXT_BYTES + 300, 0x0100)  # rev 1.0
    struct.pack_into(">h", buf, TEXT_BYTES + 302, 1)  # fixed-length traces
    return bytes(buf)


def build_cube(
    path: str,
    n_inline: int,
    n_crossline: int,
    n_samples: int,
    il_block: int = 256,
) -> int:
    """Vectorized synthetic poststack cube: full (inline, crossline) grid,
    affine cdp coords with a -100 scalar, seeded float32 samples with
    planted zeros. One numpy block per ``il_block`` inlines — the
    per-call rng/python overhead amortizes over ~16k traces, so a 10M
    trace cube generates in minutes, not hours."""
    rng = np.random.default_rng(7)
    trace_bytes = HDR_BYTES + n_samples * 4
    xl0 = np.arange(1, n_crossline + 1, dtype=np.int64)

    with open(path, "wb") as f:
        f.write(_file_header(n_samples))
        for il_start in range(1, n_inline + 1, il_block):
            ils = np.arange(
                il_start, min(il_start + il_block, n_inline + 1), dtype=np.int64
            )
            n = len(ils) * n_crossline
            il = np.repeat(ils, n_crossline)  # (n,)
            xl = np.tile(xl0, len(ils))  # (n,)
            blk = np.zeros((n, trace_bytes), dtype=np.uint8)

            def put_i32(off: int, vals: np.ndarray) -> None:
                blk[:, off : off + 4] = (
                    np.broadcast_to(vals, (n,)).astype(">i4").view(np.uint8).reshape(n, 4)
                )

            def put_i16(off: int, vals: np.ndarray) -> None:
                blk[:, off : off + 2] = (
                    np.broadcast_to(vals, (n,)).astype(">i2").view(np.uint8).reshape(n, 2)
                )

            put_i16(70, np.full(n, -100))  # coordinate_scalar
            put_i16(114, np.full(n, n_samples))
            put_i16(116, np.full(n, 2000))
            put_i32(180, 700000 + il * 100 + xl * 3)  # cdp_x
            put_i32(184, 900000 + xl * 100 - il * 2)  # cdp_y
            put_i32(188, il)  # inline
            put_i32(192, xl)  # crossline
            s = rng.standard_normal((n, n_samples)).astype(np.float32)
            s[rng.random(s.shape) < 0.1] = 0.0
            blk[:, HDR_BYTES:] = s.astype(">f4").view(np.uint8).reshape(n, n_samples * 4)
            f.write(blk.tobytes())
    return n_inline * n_crossline


def _disk_baseline(work: Path, n_bytes: int = 2 << 30) -> dict:
    """Single-stream sequential write + read MB/s of the work device
    (round 10, VERDICT r9 item 5): the per-stage MB/s stamps below are
    only meaningful against a measured device baseline — a concat stage
    running at ~device write speed is DEVICE-BOUND (scales horizontally
    on an object store), while one running well under it is a plan
    regression. Incompressible data (urandom) + fsync on the write; the
    read is cold because the baseline file's own pages are dropped from
    the page cache after the fsync (``posix_fadvise(POSIX_FADV_DONTNEED)``,
    which touches no other file on the host). ``read_cold_cache`` records
    whether the platform has that call — a warm-cache read baseline would
    overstate the device and make honest stages look slow."""
    import os

    p = work / "_disk_baseline.bin"
    buf = os.urandom(64 << 20)
    t0 = time.perf_counter()
    written = 0
    with open(p, "wb") as f:
        while written < n_bytes:
            f.write(buf)
            written += len(buf)
        f.flush()
        os.fsync(f.fileno())
        w_s = time.perf_counter() - t0
        cold = hasattr(os, "posix_fadvise")
        if cold:
            os.posix_fadvise(f.fileno(), 0, 0, os.POSIX_FADV_DONTNEED)
    t0 = time.perf_counter()
    with open(p, "rb") as f:
        while f.read(32 << 20):
            pass
    r_s = time.perf_counter() - t0
    p.unlink()
    mb = written / 1e6
    return {
        "write_mb_s": round(mb / w_s, 1),
        "read_mb_s": round(mb / r_s, 1),
        "read_cold_cache": cold,
        "bytes": written,
    }


# Bytes each clocked stage streams, as a multiple of the leg's SEG-Y file
# size: header_scan reads the cube once; pivot_write reads the cube and
# writes the (similar-sized, pre-compression) store; the whole-store
# export's encode reads the store and writes the final file in place
# (positional writes, no part files and no second pass). The stamped
# mb_s is bytes_moved / stage_s — compare against disk_baseline to
# classify device-bound vs plan-bound.
_STAGE_IO_MULT = {
    ("ingest_stages", "header_scan_s"): 1.0,
    ("ingest_stages", "pivot_write_s"): 2.0,
    ("export_stages", "export_encode_s"): 2.0,
}


def _stamp_stage_mb_s(leg: dict, segy_bytes: int) -> None:
    leg["segy_bytes"] = segy_bytes
    mbs: dict[str, float] = {}
    for (grp, key), mult in _STAGE_IO_MULT.items():
        s = leg.get(grp, {}).get(key)
        if isinstance(s, (int, float)) and s > 0:
            mbs[f"{grp[:-7]}.{key[:-2]}"] = round(
                segy_bytes * mult / 1e6 / s, 1
            )
    leg["stage_mb_s"] = mbs


def _sha256(path: str) -> str:
    import hashlib

    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(8 << 20)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def _store_size(store_path: str) -> tuple[int, int]:
    """(bytes, parquet files) of a store directory: the trace encoding's
    footprint at this leg's scale."""
    size = files = 0
    for root, _, names in os.walk(store_path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return size, files


def _slice_leg(spark, store_path: str, n_inline: int) -> dict:
    """Read the store three ways, the reads of the repository benchmark:
    the middle inline, the middle crossline and a 50 x 16 rectangle."""
    from mdio_python_spark.sources import store

    opened = store.open_store(spark, store_path)
    il, xl = n_inline // 2 + 1, BASE_XL // 2 + 1
    reads = {
        "inline": {"inline": (il, il)},
        "crossline": {"crossline": (xl, xl)},
        "rect": {
            "inline": (il, min(il + 49, n_inline)),
            "crossline": (xl - 8, xl + 7),
        },
    }
    out = {}
    for kind, pred in reads.items():
        t0 = time.perf_counter()
        if kind == "rect":
            df = store.dense_slice(opened, spark, pred)
        else:
            df = store.slice_traces(opened, pred)
        rows = len(df.collect())
        latency = time.perf_counter() - t0
        out[kind] = {"latency_s": round(latency, 3), "rows": rows, "path": _path(df)}
    return out


def _path(df) -> str:
    """Which path served a slice, from its plan."""
    qe = df._jdf.queryExecution()
    if qe.analyzed().toString().startswith("LocalRelation"):
        return "LocalRelation"
    return "FileScan" if "FileScan" in qe.executedPlan().toString() else "other"


def _run_leg(
    spark, segy_path: str, work: Path, tag: str, hash_verify: bool = False
) -> dict:
    """One ingest -> store -> export -> verify leg.

    ``hash_verify`` is the DISK-BUDGET mode for legs whose input + store
    + export cannot be co-resident (round 9: the 48-78 GB free budget
    forbids the byte-compare triple at x50+): the input is SHA-256'd
    (streamed), DELETED after ingest, and the export's digest must match
    — the same roundtrip-identity evidence as filecmp at
    max(input+store, store+export) peak disk instead of the triple."""
    from mdio_python_spark.pipelines.export import store_to_segy
    from mdio_python_spark.pipelines.ingest import segy_to_store
    from mdio_python_spark.schemas import default_registry

    template = default_registry().get("PostStack3DTime")
    store_path = str(work / f"store_{tag}.mdio")
    out_path = str(work / f"export_{tag}.sgy")

    segy_bytes = Path(segy_path).stat().st_size
    digest_in = _sha256(segy_path) if hash_verify else None

    ingest_stages: dict = {}
    t0 = time.perf_counter()
    segy_to_store(spark, segy_path, store_path, template, stage_clock=ingest_stages)
    ingest_s = time.perf_counter() - t0

    store_bytes, store_files = _store_size(store_path)
    if hash_verify:
        Path(segy_path).unlink()

    export_stages: dict = {}
    t0 = time.perf_counter()
    n = store_to_segy(spark, store_path, out_path, stage_clock=export_stages)
    export_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    if hash_verify:
        roundtrip_ok = _sha256(out_path) == digest_in
    else:
        roundtrip_ok = filecmp.cmp(segy_path, out_path, shallow=False)
    verify_s = time.perf_counter() - t0
    slices = _slice_leg(spark, store_path, n // BASE_XL)
    shutil.rmtree(store_path, ignore_errors=True)
    Path(out_path).unlink(missing_ok=True)
    out = {
        "n_traces": n,
        "ingest_s": round(ingest_s, 3),
        "export_s": round(export_s, 3),
        "ingest_stages": ingest_stages,
        "store_bytes": store_bytes,
        "store_parquet_files": store_files,
        "export_stages": export_stages,
        "roundtrip_byte_identical": roundtrip_ok,
        "roundtrip_verify_s": round(verify_s, 3),
        "slices": slices,
    }
    if hash_verify:
        out["roundtrip_verify_method"] = "sha256_input_deleted_before_export"
    _stamp_stage_mb_s(out, segy_bytes)
    return out


def _expected_bytes(n_il: int) -> int:
    """Exact byte size build_cube produces for ``n_il`` inlines — the
    stale-cube guard --keep-cubes verifies against (advisor r7: cube
    paths used to encode only the scale tag, so a rerun with a different
    --base-traces silently reused wrong-sized cubes and mislabeled the
    ratio row)."""
    return TEXT_BYTES + BIN_BYTES + n_il * BASE_XL * (HDR_BYTES + BASE_NS * 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--scales",
        default="10",
        help="comma-separated scale multipliers, each timed against the "
        "same base leg (e.g. '10,30')",
    )
    ap.add_argument(
        "--base-traces",
        type=int,
        default=1_000_000,
        help="base cube trace count (rounded down to a whole inline)",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="result JSON path (default: <workdir>/stress_seismic.json)",
    )
    ap.add_argument("--workdir", default="/tmp/mdio_seismic_stress")
    ap.add_argument(
        "--keep-cubes",
        action="store_true",
        help="skip cube regeneration when a file of the exact expected "
        "byte size already exists (size mismatch => regenerate)",
    )
    ap.add_argument(
        "--hash-verify-min-traces",
        type=int,
        default=1 << 62,
        help="legs at or above this trace count verify the roundtrip by "
        "streamed SHA-256 and delete the input cube after ingest — the "
        "disk-budget mode for scales whose input+store+export triple "
        "cannot be co-resident (see _run_leg)",
    )
    ns = ap.parse_args()
    scales = [int(s) for s in ns.scales.split(",") if s]

    from mdio_python_spark.session import get_spark

    work = Path(ns.workdir)
    work.mkdir(parents=True, exist_ok=True)
    spark = get_spark("mdio-seismic-stress")

    base_il = max(ns.base_traces // BASE_XL, 1)
    legs = {"warm": (str(work / "warm.sgy"), WARM_IL),
            "base": (str(work / "base.sgy"), base_il)}
    for s in scales:
        legs[f"x{s}"] = (str(work / f"x{s}.sgy"), base_il * s)
    for tag, (path, n_il) in legs.items():
        p = Path(path)
        if ns.keep_cubes and p.exists() and p.stat().st_size == _expected_bytes(n_il):
            continue
        t0 = time.perf_counter()
        n = build_cube(path, n_il, BASE_XL, BASE_NS)
        print(
            f"built {tag}: {n} traces in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    disk = _disk_baseline(work)
    print(f"disk baseline: {json.dumps(disk)}", file=sys.stderr)

    # warm codegen/classloading so the base leg isn't charged for it
    _run_leg(spark, legs["warm"][0], work, "warm")
    base = _run_leg(spark, legs["base"][0], work, "base")
    print(f"base: {json.dumps(base)}", file=sys.stderr)

    points: dict[str, dict] = {}
    superlinear: list[str] = []
    for s in scales:
        n_traces = legs[f"x{s}"][1] * BASE_XL
        scaled = _run_leg(
            spark,
            legs[f"x{s}"][0],
            work,
            f"x{s}",
            hash_verify=n_traces >= ns.hash_verify_min_traces,
        )
        print(f"x{s}: {json.dumps(scaled)}", file=sys.stderr)
        ratios = {
            k: round(scaled[f"{k}_s"] / max(base[f"{k}_s"], 1e-6), 2)
            for k in ("ingest", "export")
        }
        stage_ratios = {
            grp: {
                k: round(scaled[grp][k] / max(base[grp][k], 1e-6), 2)
                for k in base[grp]
                if isinstance(base[grp][k], (int, float)) and k in scaled[grp]
            }
            for grp in ("ingest_stages", "export_stages")
        }
        superlinear += [f"x{s}:{k}" for k, r in ratios.items() if r > s * 1.6]
        points[f"x{s}"] = {
            "scaled": scaled,
            "ratios": ratios,
            "stage_ratios": stage_ratios,
        }

    out = {
        "metric": "seismic_pipeline_scale_ratio",
        "scales": scales,
        "base_traces": base["n_traces"],
        "disk_baseline": disk,
        "base": base,
        "points": points,
        "superlinear": superlinear,
    }
    out_path = Path(ns.out) if ns.out else work / "stress_seismic.json"
    out_path.write_text(json.dumps(out, indent=1))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
