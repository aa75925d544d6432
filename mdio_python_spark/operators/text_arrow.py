"""Arrow-batched text kernels: winnowing, SimHash, shingle sets and gram counts.

The declarative :func:`operators.text.winnow_fingerprint_set` builds an
O(chars) posexplode of per-position k-gram hashes, a per-doc window min,
and a distinct — three corpus-sized stages whose row-materialization
cost made ``winnowing_dup_pairs`` the top absolute 100x stress row
(273.6 s; VERDICT r7 item 4 — r7 already proved the HASH was not the
bottleneck, the explode + window were). This module computes the
IDENTICAL fingerprint set per document inside one ``mapInArrow`` pass:

- k-gram hashes: Spark's ``xxhash64`` (seed 42, XXH64 over UTF8 bytes)
  re-implemented as vectorized numpy uint64 arithmetic for the 16-byte
  ASCII fast path (the same two 8-byte rounds + avalanche the DuckDB
  oracle mirror ``functions.scalars.sql_xxhash64_ascii16`` emits), and
  as a full any-length scalar XXH64 for the non-ASCII fallback — both
  property-tested against ``F.xxhash64`` (tests/test_text_arrow.py).
- window min: an O(N log w) doubling tournament over the position
  stream (signed-int64 comparisons, matching ``min`` over LONG).
- distinct: one lexsort per chunk — fingerprints never leave the task
  until deduplicated.

The per-document work never crosses rows, so the pass is shuffle-free:
the downstream pair join (``dedup.bucket_pair_counts``) receives the
~2/(w+1)-selected fingerprints directly — the declarative plan's
O(chars) doc_id exchange and distinct exchange disappear.

Every kernel here is a ``mapInArrow`` pass over ``(id, text-or-tokens)``
batches, cut by the one doc chunker :func:`_chunked`: at most a fixed
doc count per chunk and, past :data:`DOC_BYTE_ALLOWANCE` input bytes per
doc on average, fewer — a doc is never split, so per-doc output does not
depend on the cut. Kernels that build int32 Arrow offsets raise
``trace_arrow.OffsetOverflowError`` rather than wrap.

Bit-identity with the declarative path (same (doc_id, n_kgrams, wmin)
set) is pinned by tests/test_text_arrow.py at sf0.001/sf0.01 plus a
constructed non-ASCII corpus; the xxhash64-mirror DuckDB oracle is
unchanged.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from mdio_python_spark.sources.trace_arrow import int32_offsets

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # Spark's fixed xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_bytes(data: bytes, seed: int = _SEED) -> int:
    """Full XXH64 (any length) over ``data``, returned SIGNED like
    Spark's ``xxhash64``. Scalar reference + non-ASCII fallback."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = ((h * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M64, 31) * _P1) & _M64
        h ^= k
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


# --- vectorized single-block MD5 (the hash64 contract) ---------------------
#
# hash64(x) = conv(substr(md5(x), 1, 15), 16, 10) — the general md5-based
# cross-engine contract (functions/scalars.py). A 16-byte ASCII k-gram is
# one 64-byte MD5 block (16 message bytes + 0x80 pad + LE bit length), so
# the full 64-round compression runs as ~400 uint32 numpy ops VECTORIZED
# across every k-gram in a batch — same digest bits as Spark's F.md5 /
# DuckDB's md5() / hashlib (property-pinned in tests/test_text_arrow.py:
# test_vectorized_md5_hash64_16_matches_spark / test_scalar_hash64).
# This is the hash the PUBLISHED winnowing contract (winnow_fingerprints'
# wmin/fp_xor digest) selects on, so winnow_fingerprints_arrow runs on it.

_MD5_S = (
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4
)
_MD5_K = [int(abs(__import__("math").sin(i + 1)) * (1 << 32)) & 0xFFFFFFFF for i in range(64)]
_MD5_G = (
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16)]
    + [(3 * i + 5) % 16 for i in range(16)]
    + [(7 * i) % 16 for i in range(16)]
)


def _rotl32(x: np.ndarray, s: int) -> np.ndarray:
    return (x << np.uint32(s)) | (x >> np.uint32(32 - s))


def _md5_compress(
    M: list[np.ndarray],
    state: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One vectorized MD5 compression: 64 rounds over the 16 uint32
    message words ``M`` applied to ``state`` (A, B, C, D), returning the
    per-spec chained state (state + working vars). Shared by the
    16-byte fast path and the any-length :func:`_md5_hash64_vec`."""
    A0, B0, C0, D0 = state
    a, b, c, d = A0, B0, C0, D0
    for i in range(64):
        if i < 16:
            f = (b & c) | (~b & d)
        elif i < 32:
            f = (d & b) | (~d & c)
        elif i < 48:
            f = b ^ c ^ d
        else:
            f = c ^ (b | ~d)
        tmp = d
        d = c
        c = b
        b = b + _rotl32(
            a + f + np.uint32(_MD5_K[i]) + M[_MD5_G[i]], _MD5_S[i]
        )
        a = tmp
    return A0 + a, B0 + b, C0 + c, D0 + d


def _md5_init(n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    return (
        np.full(n, 0x67452301, dtype=np.uint32),
        np.full(n, 0xEFCDAB89, dtype=np.uint32),
        np.full(n, 0x98BADCFE, dtype=np.uint32),
        np.full(n, 0x10325476, dtype=np.uint32),
    )


def _digest_hash64(A32: np.ndarray, B32: np.ndarray) -> np.ndarray:
    """First 15 hex digits of the MD5 digest as signed (always-positive
    60-bit) int64 — bit-identical to ``conv(substr(md5(x),1,15),16,10)``.
    Digest bytes 0..7 are A then B, little-endian; the hex string is
    those bytes in order, so the value is bytes 0..6 plus byte 7's high
    nibble."""
    A = A32.astype(np.uint64)
    B = B32.astype(np.uint64)
    v = np.zeros(len(A), dtype=np.uint64)
    for j in range(7):
        byte = (A >> np.uint64(8 * j) if j < 4 else B >> np.uint64(8 * (j - 4))) & np.uint64(0xFF)
        v = (v << np.uint64(8)) | byte
    b7 = (B >> np.uint64(24)) & np.uint64(0xFF)
    v = (v << np.uint64(4)) | (b7 >> np.uint64(4))
    return v.view(np.int64)


def _md5_hash64_16_vec(w: list[np.ndarray]) -> np.ndarray:
    """hash64 of 16-byte inputs given their four little-endian uint32
    message words: one vectorized MD5 block per row via
    :func:`_md5_compress`."""
    n = len(w[0])
    M = w + [np.full(n, 0x80, dtype=np.uint32)] + [
        np.zeros(n, dtype=np.uint32) for _ in range(9)
    ] + [np.full(n, 128, dtype=np.uint32), np.zeros(n, dtype=np.uint32)]
    A, B, _, _ = _md5_compress(M, _md5_init(n))
    return _digest_hash64(A, B)


def _md5_hash64_vec(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """hash64 (the md5/conv contract) of N variable-length byte slices
    ``data[starts[i] : starts[i] + lens[i]]``, fully vectorized: rows are
    grouped by MD5 block count (message + 0x80 pad + 8-byte LE bit
    length), each group's padded message matrix is built with one fancy
    gather and compressed block-by-block through :func:`_md5_compress`.
    Word/char shingles are almost always one block (len <= 55), so the
    grouping loop runs once or twice per batch. Bit-identical to
    hashlib/Spark/DuckDB md5 for any input bytes (property-pinned in
    tests/test_text_arrow.py)."""
    out = np.empty(len(starts), dtype=np.int64)
    if not len(starts):
        return out
    starts = starts.astype(np.int64)
    lens = lens.astype(np.int64)
    nblocks = (lens + 8) // 64 + 1
    if not len(data):
        # every slice is zero-length (md5 of b"") — give the padding
        # gather a 1-byte buffer; putmask zeroes all of it anyway
        data = np.zeros(1, dtype=np.uint8)
    limit = len(data) - 1
    for nb in np.unique(nblocks):
        sel = np.flatnonzero(nblocks == nb)
        s, ln = starts[sel], lens[sel]
        total = int(64 * nb)
        m = len(sel)
        # column-wise padding build: one (m,) gather per message column
        # instead of an (m, total) int64 index matrix — the matrix form
        # is O(8 * total) bytes per row of transient memory, which at a
        # 10k-doc char-shingle batch is gigabytes per task
        padded = np.zeros((m, total), dtype=np.uint8)
        for j in range(total - 8):
            col = data[np.minimum(s + j, limit)]
            np.putmask(col, ln <= j, 0)
            padded[:, j] = col
        padded[np.arange(m), ln] = 0x80
        bits = ln.astype(np.uint64) * np.uint64(8)
        for j in range(8):
            padded[:, total - 8 + j] = (
                (bits >> np.uint64(8 * j)) & np.uint64(0xFF)
            ).astype(np.uint8)
        W = padded.view("<u4")
        state = _md5_init(m)
        for blk in range(int(nb)):
            state = _md5_compress(
                [W[:, blk * 16 + t] for t in range(16)], state
            )
        out[sel] = _digest_hash64(state[0], state[1])
    return out


def hash64_py(data: bytes) -> int:
    """Scalar hash64 (any length) via hashlib — the non-ASCII fallback."""
    import hashlib

    return int(hashlib.md5(data).hexdigest()[:15], 16)


def _xxh64_16_vec(w1: np.ndarray, w2: np.ndarray) -> np.ndarray:
    """Vectorized XXH64 of 16-byte inputs given their two little-endian
    uint64 words — the numpy twin of the SQL mirror's step chain.
    Returns signed int64 (Spark's output type)."""
    p1 = np.uint64(_P1)
    p2 = np.uint64(_P2)
    p3 = np.uint64(_P3)
    p4 = np.uint64(_P4)
    h = np.uint64((_SEED + _P5 + 16) & _M64)
    k1 = _vrotl(w1 * p2, 31) * p1
    acc = h ^ k1
    acc = _vrotl(acc, 27) * p1 + p4
    k2 = _vrotl(w2 * p2, 31) * p1
    acc = acc ^ k2
    acc = _vrotl(acc, 27) * p1 + p4
    acc = acc ^ (acc >> np.uint64(33))
    acc = acc * p2
    acc = acc ^ (acc >> np.uint64(29))
    acc = acc * p3
    acc = acc ^ (acc >> np.uint64(32))
    return acc.view(np.int64)


def _sliding_min(h: np.ndarray, w: int) -> np.ndarray:
    """min over each window of ``w`` consecutive values: doubling
    sparse-table tournament, O(N log w) signed comparisons. Output
    length len(h) - w + 1."""
    n = len(h)
    span = 1
    m = h
    while span * 2 <= w:
        m = np.minimum(m[: len(m) - span], m[span:])
        span *= 2
    if span < w:
        m = np.minimum(m[: n - w + 1], m[w - span : w - span + n - w + 1])
    return m[: n - w + 1]


def _winnow_ascii_block(
    texts: list[bytes], k: int, w: int, use_md5: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized winnow over a block of ASCII docs (each already
    lowered/space-trimmed, length >= w + k - 1). Returns (doc_idx,
    n_kgrams, wmin) of the DISTINCT per-doc fingerprint selections.
    ``use_md5`` selects the hash64/md5 contract hash instead of XXH64;
    both vectorized hashes are 16-byte-specialized, so k MUST be 16
    (``winnow_fingerprint_set_arrow`` routes other k to the scalar
    fallback)."""
    if k != 16:
        raise ValueError("the vectorized winnow block requires k=16")
    lens = np.array([len(t) for t in texts], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    n_kg = lens - (k - 1)
    total = int(n_kg.sum())
    doc_rep = np.repeat(np.arange(len(texts), dtype=np.int64), n_kg)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(n_kg)[:-1]]), n_kg
    )
    pos = starts[doc_rep] + within
    w1 = np.zeros(total, dtype=np.uint64)
    w2 = np.zeros(total, dtype=np.uint64)
    for j in range(8):
        shift = np.uint64(8 * j)
        w1 |= buf[pos + j].astype(np.uint64) << shift
        w2 |= buf[pos + 8 + j].astype(np.uint64) << shift
    if use_md5:
        lo = np.uint64(0xFFFFFFFF)
        h = _md5_hash64_16_vec(
            [
                (w1 & lo).astype(np.uint32),
                (w1 >> np.uint64(32)).astype(np.uint32),
                (w2 & lo).astype(np.uint32),
                (w2 >> np.uint64(32)).astype(np.uint32),
            ]
        )
    else:
        h = _xxh64_16_vec(w1, w2)
    # per-doc window min on the global stream: a window never crosses a
    # doc boundary because outputs are truncated to n_kg - w + 1 per doc
    # and the stream is doc-contiguous; pad so shifted reads exist
    h_pad = np.concatenate([h, np.full(w - 1, np.iinfo(np.int64).max)])
    mins = _sliding_min(h_pad, w)
    valid = within <= (n_kg[doc_rep] - w)
    sel_doc = doc_rep[valid]
    sel_min = mins[valid]
    order = np.lexsort((sel_min, sel_doc))
    sel_doc, sel_min = sel_doc[order], sel_min[order]
    keep = np.ones(len(sel_doc), dtype=bool)
    keep[1:] = (sel_doc[1:] != sel_doc[:-1]) | (sel_min[1:] != sel_min[:-1])
    return sel_doc[keep], n_kg, sel_min[keep]


def _winnow_batch(
    chunk: pa.RecordBatch, k: int, w: int, use_md5: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Distinct (doc_id, n_kgrams, wmin) arrays for one ``(id, text)``
    doc chunk — each document's fingerprint rows contiguous, wmin
    ascending within a document. ASCII docs at k=16 take the vectorized
    block kernel; anything else (non-ASCII text, or a non-16 k, for
    which no 16-byte-specialized vector hash applies) takes the per-doc
    scalar loop over the same character-sliced, UTF8-hashed k-grams
    Spark evaluates. ``use_md5`` selects the hash64/md5 contract hash
    (published wmin/fp_xor digests) over Spark-native XXH64."""
    scalar_hash = hash64_py if use_md5 else xxh64_bytes
    ids_out: list[np.ndarray] = []
    nkg_out: list[np.ndarray] = []
    min_out: list[np.ndarray] = []
    texts: list[bytes] = []
    text_ids: list[int] = []
    for doc_id, raw in zip(chunk.column(0).to_pylist(), chunk.column(1).to_pylist()):
        t = (raw or "").strip(" ").lower()
        if len(t) < w + k - 1:
            continue
        if k == 16 and t.isascii():
            texts.append(t.encode("ascii"))
            text_ids.append(doc_id)
        else:
            # scalar fallback: character slices, UTF8 bytes — exactly
            # substr + xxhash64/hash64 on this doc, any k
            n_kg = len(t) - (k - 1)
            hs = [scalar_hash(t[i : i + k].encode("utf-8")) for i in range(n_kg)]
            sel = sorted({min(hs[i : i + w]) for i in range(n_kg - w + 1)})
            ids_out.append(np.full(len(sel), doc_id, dtype=np.int64))
            nkg_out.append(np.full(len(sel), n_kg, dtype=np.int64))
            min_out.append(np.array(sel, dtype=np.int64))
    if texts:
        doc_idx, n_kg, wmin = _winnow_ascii_block(texts, k, w, use_md5)
        tid = np.asarray(text_ids, dtype=np.int64)
        ids_out.append(tid[doc_idx])
        nkg_out.append(n_kg[doc_idx])
        min_out.append(wmin)
    if not ids_out:
        return None
    return (
        np.concatenate(ids_out),
        np.concatenate(nkg_out),
        np.concatenate(min_out),
    )


# Input bytes one doc may bring into a kernel chunk on average: a chunk
# closes early once its docs pass ``max_docs * DOC_BYTE_ALLOWANCE``
# bytes. 4 KiB is 7x the largest doc of the sf0.001-sf0.1 corpora (577
# bytes) and above every perfbench doc, so there every chunk is a full
# doc count; a corpus of larger docs gets proportionally fewer docs per
# chunk, which bounds each chunk's transients and int32 offsets by
# bytes instead of by doc count alone.
DOC_BYTE_ALLOWANCE = 4096


def _doc_byte_ends(col) -> np.ndarray:
    """Input bytes before each doc boundary of a ``string`` or
    ``list<string>`` column (length n + 1, starting at 0), read from the
    Arrow offsets without touching the text bytes."""
    if pa.types.is_list(col.type):
        voff, _ = _var_buffers(col.values)
        off = np.asarray(col.offsets, dtype=np.int64)
        off = voff[off] if len(voff) else np.zeros_like(off)
    else:
        off, _ = _var_buffers(col)
    return off - off[0]


def _doc_chunks(
    batch: pa.RecordBatch, max_docs: int, max_bytes: int
) -> Iterator[pa.RecordBatch]:
    """Zero-copy slices of ``batch`` holding at most ``max_docs`` docs and
    at most ``max_bytes`` bytes of column 1 — except a single doc larger
    than ``max_bytes``, which is a slice of its own. A doc is never
    split; an empty batch yields nothing."""
    if not batch.num_rows:
        return
    ends = _doc_byte_ends(batch.column(1))
    lo = 0
    while lo < batch.num_rows:
        fit = int(np.searchsorted(ends, ends[lo] + max_bytes, side="right")) - 1
        hi = min(lo + max_docs, max(fit, lo + 1))
        yield batch.slice(lo, hi - lo)
        lo = hi


def _chunked(
    emit: Callable[[pa.RecordBatch], pa.RecordBatch | None], max_docs: int
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The ``mapInArrow`` function of a text kernel: ``emit`` runs on every
    :func:`_doc_chunks` slice of every input batch (column 0 the key,
    column 1 the text or token arrays) and may return None for a chunk
    with no output rows. The byte budget is fixed here, on the driver,
    and travels to the workers with the closure."""
    max_bytes = max_docs * DOC_BYTE_ALLOWANCE

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for chunk in _doc_chunks(batch, max_docs, max_bytes):
                out = emit(chunk)
                if out is not None:
                    yield out

    return run


def _spread(df: DataFrame, cols: list) -> DataFrame:
    """Compute-bound map pass: spread across the core budget when the
    source arrives in fewer splits than cores. The one copy of this rule
    for the text and vector kernels."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    source = df.select(*cols)
    if source.rdd.getNumPartitions() < n_parts:
        source = source.repartition(n_parts)
    return source


# docs per winnow chunk: the md5 path peaks at ~170 bytes of transients
# per text byte, so on the sf0.1 corpus a 1024-doc chunk peaks at 51 MB
# where a whole 5,000-doc batch took 246 MB, and a pass is no slower
# (1.14 s vs 1.31 s single-threaded; 256-doc chunks 1.18 s)
_WINNOW_DOCS = 1024


def winnow_fingerprint_set_arrow(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    internal_hash: bool = False,
) -> DataFrame:
    """Arrow-executed twin of ``text.winnow_fingerprint_set``: distinct
    (id, n_kgrams, wmin) per document, identical min-selection and
    tie-free semantics — with the explode, the per-doc window exchange,
    and the distinct exchange all collapsed into one shuffle-free map
    pass. ``internal_hash`` mirrors the declarative flag INCLUDING its
    default (ADVICE r9: the two twins must pick the same fingerprint
    hash family under default args): False (default) uses the md5-based
    hash64 cross-engine contract (the published wmin/fp_xor digests),
    True swaps in Spark-native xxhash64 for internal-key callers
    (pair generation, where only counts are published).

    Normalization mirrors the declarative path exactly: ``lower(trim())``
    trims SPACES only (Spark/DuckDB ``trim`` semantics — not Python
    ``str.strip``'s all-whitespace). ASCII documents at k=16 (the
    measured shape of every SF corpus) take the vectorized block kernel;
    non-ASCII documents — and every document when k != 16, where no
    16-byte-specialized vector hash applies — fall back to a per-doc
    scalar loop over the same character-sliced, UTF8-hashed k-grams."""

    def emit(chunk: pa.RecordBatch) -> pa.RecordBatch | None:
        got = _winnow_batch(chunk, k, w, not internal_hash)
        if got is None:
            return None
        ids, nkg, wmin = got
        return pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(nkg.astype(np.int32)), pa.array(wmin)],
            names=[id_col, "n_kgrams", "wmin"],
        )

    return _spread(df, [id_col, text_col]).mapInArrow(
        _chunked(emit, _WINNOW_DOCS), f"{id_col} long, n_kgrams int, wmin long"
    )


def winnow_fingerprints_arrow(
    df: DataFrame,
    k: int = 16,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-executed twin of ``text.winnow_fingerprints`` (the PUBLISHED
    md5/hash64 contract): per-document (id, n_kgrams, n_fingerprints,
    fp_xor). The count and the order-free XOR digest reduce over each
    document's distinct fingerprint set INSIDE the map task — a document
    never crosses chunks, so the whole query is one shuffle-free pass
    (the declarative plan's doc_id window exchange, distinct, and final
    aggregate exchange all disappear). Bit-identity with the declarative
    rollup is pinned by tests/test_text_arrow.py."""

    def emit(chunk: pa.RecordBatch) -> pa.RecordBatch | None:
        got = _winnow_batch(chunk, k, w, use_md5=True)
        if got is None:
            return None
        ids, nkg, wmin = got
        # each doc's rows are contiguous: reduce count/xor per group
        bounds = np.flatnonzero(np.concatenate([[True], ids[1:] != ids[:-1]]))
        counts = np.diff(np.concatenate([bounds, [len(ids)]]))
        fp_xor = np.bitwise_xor.reduceat(wmin.view(np.uint64), bounds)
        return pa.RecordBatch.from_arrays(
            [
                pa.array(ids[bounds]),
                pa.array(nkg[bounds].astype(np.int32)),
                pa.array(counts.astype(np.int64)),
                pa.array(fp_xor.view(np.int64)),
            ],
            names=[id_col, "n_kgrams", "n_fingerprints", "fp_xor"],
        )

    return _spread(df, [id_col, text_col]).mapInArrow(
        _chunked(emit, _WINNOW_DOCS),
        f"{id_col} long, n_kgrams int, n_fingerprints long, fp_xor long",
    )


# --- Arrow shingle-set builder (round 10) ----------------------------------
#
# The set-array dedup plan's ONE remaining corpus-sized stage is building
# the per-doc sorted DISTINCT shingle-hash arrays: explode word/char
# n-shingles, hash64 (md5 + hex conv) per occurrence in the JVM, then a
# collect_set exchange + ObjectHashAggregate (dedup.shingle_sets). The
# in-row declarative build (transform + array_distinct) was measured
# SLOWER (word 1.45->1.57 s, char 3.46->10.6 s at sf0.1): md5 inside an
# interpreted higher-order function costs more than the exchange it
# removes. This kernel computes the IDENTICAL (id, _set) table inside
# one mapInArrow pass — no explode, no JVM md5, no exchange:
#
# - word n-shingles of whitespace-split tokens are CONTIGUOUS byte
#   ranges of the single-space-joined token text, so the kernel builds
#   that normalized buffer once per batch from the Arrow list<string>
#   offsets (no per-token Python objects) and hashes slices;
# - char n-shingles are contiguous CODE-POINT ranges of lower(trim(text));
#   code-point starts are the non-continuation UTF-8 bytes — this
#   matches DuckDB substr semantics for ALL text (the declarative
#   split(t, '') twin is UTF-16-code-unit based; identical on BMP text,
#   which every parity corpus is);
# - hash64 runs through _md5_hash64_vec (block-grouped vectorized MD5,
#   bit-identical to conv(substr(md5(x),1,15),16,10) for any bytes);
# - per-doc distinct + sort is one lexsort per batch.
#
# Tokenization is NOT reimplemented: the word path receives the JVM's
# own split(trim(lower(text)), '\s+') token arrays, the char path the
# JVM's lower(trim(text)) — normalization parity is by construction.


def _cumsum_excl(counts: np.ndarray) -> np.ndarray:
    out = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], dtype=np.int64, out=out[1:])
    return out


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated."""
    total = int(counts.sum())
    return np.arange(total, dtype=np.int64) - np.repeat(
        _cumsum_excl(counts), counts
    )


def _var_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets[int64, slice-adjusted], data[uint8]) of a pyarrow
    (large_)string/binary array; offsets index the full data buffer."""
    import pyarrow as pa

    dt = (
        np.int64
        if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
        else np.int32
    )
    off = np.frombuffer(arr.buffers()[1], dtype=dt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8)
        if buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return off, data


def _valid_mask(arr) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), dtype=bool)
    return np.asarray(arr.is_valid())


def _distinct_sets_batch(
    ids: np.ndarray, h: np.ndarray, sh_doc: np.ndarray, n_docs: int
):
    """Per-doc sorted distinct hashes -> (ids_out, offsets_int64,
    values) ready for a ListArray; docs with zero shingles are dropped
    (matching the explode path, where they never produce a row)."""
    order = np.lexsort((h, sh_doc))
    ds, hs = sh_doc[order], h[order]
    keep = np.ones(len(ds), dtype=bool)
    keep[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
    ds, hs = ds[keep], hs[keep]
    counts = np.bincount(ds, minlength=n_docs)
    sel = counts > 0
    offsets = np.concatenate(
        [[0], np.cumsum(counts[sel], dtype=np.int64)]
    )
    return ids[sel], offsets, hs


def _word_gram_slices(lst, n: int):
    """Shared word-gram slicer: list<string> token arrays -> the
    single-space-joined normalized byte buffer plus each n-gram's
    (start, len, doc) slice — the gram string is
    ``norm[start : start + len]`` (== ``concat_ws(' ', tokens)``).
    Returns (norm, starts_sh, lens_sh, sh_doc)."""
    D = len(lst)
    off = np.asarray(lst.offsets, dtype=np.int64)
    valid = _valid_mask(lst)
    vals = lst.values
    voff_raw, data = _var_buffers(vals)
    ntok = np.where(valid, off[1:] - off[:-1], 0)
    t_start = _cumsum_excl(ntok)
    # selected (non-null-doc) tokens as indices into the child array
    tok_idx = np.repeat(off[:-1], ntok) + _ragged_arange(ntok)
    tok_doc = np.repeat(np.arange(D, dtype=np.int64), ntok)
    tl = voff_raw[tok_idx + 1] - voff_raw[tok_idx]
    tl_cum = np.concatenate([[0], np.cumsum(tl, dtype=np.int64)])
    first_t = t_start[tok_doc]
    tokbytes = tl_cum[t_start + ntok] - tl_cum[t_start]
    norm_len = tokbytes + np.maximum(ntok - 1, 0)
    doc_dest0 = _cumsum_excl(norm_len)
    # dest byte start of each selected token in the normalized buffer
    dest_t = (
        doc_dest0[tok_doc]
        + (tl_cum[np.arange(len(tok_idx), dtype=np.int64)] - tl_cum[first_t])
        + (np.arange(len(tok_idx), dtype=np.int64) - first_t)
    )
    norm = np.full(int(norm_len.sum()), 32, dtype=np.uint8)
    dst = np.repeat(dest_t, tl) + _ragged_arange(tl)
    src = np.repeat(voff_raw[tok_idx], tl) + _ragged_arange(tl)
    norm[dst] = data[src]
    m = np.maximum(ntok - (n - 1), 0)
    sh_doc = np.repeat(np.arange(D, dtype=np.int64), m)
    j = _ragged_arange(m)
    first_sel = t_start[sh_doc] + j
    last_sel = first_sel + n - 1
    starts_sh = dest_t[first_sel]
    lens_sh = dest_t[last_sel] + tl[last_sel] - starts_sh
    return norm, starts_sh, lens_sh, sh_doc


def _word_sets_batch(ids: np.ndarray, lst, n: int):
    """One batch of the word path: list<string> token arrays ->
    (ids_out, offsets, hash values)."""
    norm, starts_sh, lens_sh, sh_doc = _word_gram_slices(lst, n)
    h = _md5_hash64_vec(norm, starts_sh, lens_sh)
    return _distinct_sets_batch(ids, h, sh_doc, len(lst))


def _char_sets_batch(ids: np.ndarray, arr, n: int):
    """One batch of the char path: lower(trim(text)) strings ->
    (ids_out, offsets, hash values). Code-point starts are the
    non-continuation UTF-8 bytes."""
    D = len(arr)
    soff, data = _var_buffers(arr)
    valid = _valid_mask(arr)
    blen = np.where(valid, soff[1:] - soff[:-1], 0)
    pos = np.repeat(soff[:-1], blen) + _ragged_arange(blen)
    byte_doc = np.repeat(np.arange(D, dtype=np.int64), blen)
    is_start = (data[pos] & 0xC0) != 0x80
    cp_pos = pos[is_start]
    cp_doc = byte_doc[is_start]
    n_cp = np.bincount(cp_doc, minlength=D)
    cp_start = _cumsum_excl(n_cp)
    doc_end = soff[:-1] + blen
    m = np.maximum(n_cp - (n - 1), 0)
    sh_doc = np.repeat(np.arange(D, dtype=np.int64), m)
    j = _ragged_arange(m)
    first_cp = cp_start[sh_doc] + j
    end_idx = first_cp + n
    in_doc_end = cp_start[sh_doc] + n_cp[sh_doc]
    ends = np.where(
        end_idx < in_doc_end,
        cp_pos[np.minimum(end_idx, max(len(cp_pos) - 1, 0))],
        doc_end[sh_doc],
    )
    starts_sh = cp_pos[first_cp] if len(cp_pos) else np.zeros(0, np.int64)
    lens_sh = ends - starts_sh
    h = _md5_hash64_vec(data, starts_sh, lens_sh)
    return _distinct_sets_batch(ids, h, sh_doc, D)


def simhash_arrow(
    df: DataFrame,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = True,
) -> DataFrame:
    """Arrow-executed twin of :func:`dedup.simhash`: per-doc SimHash of
    the token MULTISET (every occurrence votes), bit-identical rows —
    one shuffle-free map pass replaces the token explode + JVM md5 scan
    + the ``bits``-column vote exchange (and the ~``bits`` py4j
    round-trips of vote-expression plan construction per call).

    Tokenization is NOT reimplemented: the JVM's own
    ``split(trim(lower(text)), '\\s+')`` arrays cross the boundary, so
    normalization parity (including the ``['']`` single-empty-token
    shape ``split`` gives whitespace-only text) is by construction;
    docs whose token array is NULL emit no row, exactly like the
    explode path. Per-bit vote sign: ``v_b = 2*c_b - n >= 0`` with
    ``c_b`` the count of token hashes carrying bit ``b``."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.text import tokens

    if bits > 60:
        raise ValueError("bits must be <= 60 (hash64 is a 60-bit hash)")
    src = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_in")
    )
    source = _spread(src, [id_col, "_in"]) if spread else src

    def emit(chunk: pa.RecordBatch) -> pa.RecordBatch | None:
        ids = np.asarray(chunk.column(0), dtype=np.int64)
        lst = chunk.column(1)
        off = np.asarray(lst.offsets, dtype=np.int64)
        voff_raw, data = _var_buffers(lst.values)
        ntok = np.where(_valid_mask(lst), off[1:] - off[:-1], 0)
        sel = ntok > 0
        if not sel.any():
            return None
        tok_idx = np.repeat(off[:-1], ntok) + _ragged_arange(ntok)
        starts = voff_raw[tok_idx]
        h = _md5_hash64_vec(data, starts, voff_raw[tok_idx + 1] - starts)
        doc_start = _cumsum_excl(ntok)[sel]
        n_sel = ntok[sel]
        sim = np.zeros(int(sel.sum()), dtype=np.int64)
        for b in range(bits):
            c_b = np.add.reduceat((h >> b) & 1, doc_start)
            sim += np.where(2 * c_b >= n_sel, np.int64(1) << b, np.int64(0))
        return pa.RecordBatch.from_arrays(
            [pa.array(ids[sel]), pa.array(sim)], names=[id_col, "simhash"]
        )

    # same transient-memory bound as shingle_sets_arrow
    return source.mapInArrow(_chunked(emit, 256), f"{id_col} long, simhash long")


def shingle_sets_arrow(
    df: DataFrame,
    n: int,
    unit: str = "word",
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = True,
    minhashes: int = 0,
    emit_sets: bool = True,
) -> DataFrame:
    """Arrow-executed twin of
    ``dedup.shingle_sets(dedup.shingle_hashes(df, n))`` (unit='word') /
    the char-shingle equivalent (unit='char'): per-doc sorted DISTINCT
    hash64 shingle arrays ``(id, _set)``, bit-identical rows — docs with
    zero shingles produce no row, exactly like the explode path. One
    shuffle-free map pass replaces the explode + JVM md5 scan + the
    collect_set exchange + ObjectHashAggregate.

    ``minhashes=K`` additionally emits ``mh_0..mh_{K-1}`` — the
    ``dedup.minhash_signatures`` family (min over the XOR-mixed set,
    ``dedup.mix_constant`` mixes) computed with one ``reduceat`` per
    mix inside the kernel, bit-identical to the declarative aggregate
    (``minhash_signatures_from_sets`` recognizes the precomputed
    columns and skips its K interpreted higher-order transforms).
    ``emit_sets=False`` drops the ``_set`` column from the OUTPUT (the
    signatures-only shape: the per-doc arrays never cross the Arrow
    boundary back to the JVM — the cheapest plan for consumers that
    only band signatures).

    ``spread`` (default True) applies the :func:`_spread` rule — only
    pass it for SCAN-rooted inputs. For shuffle-rooted inputs (a join /
    window subtree) pass ``spread=False``: ``_spread`` sizes itself via
    ``df.rdd.getNumPartitions()``, and under AQE that call MATERIALIZES
    the shuffle subtree once before the real job runs it again
    (measured on corpus_curation_funnel: the exact-dedup window
    executed twice). Shuffle-rooted inputs already carry the shuffle's
    partitioning, which AQE scales with data size."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.dedup import mix_constant
    from mdio_python_spark.operators.text import tokens

    if not emit_sets and not minhashes:
        raise ValueError("emit_sets=False requires minhashes > 0")
    if unit == "word":
        src = df.select(
            F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_in")
        )
        batch_fn = _word_sets_batch
    elif unit == "char":
        src = df.select(
            F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("_in")
        )
        batch_fn = _char_sets_batch
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    source = _spread(src, [id_col, "_in"]) if spread else src
    mixes = [np.int64(mix_constant(k)) for k in range(minhashes)]
    sql_fields = ", ".join(
        [f"{id_col} long"]
        + (["_set array<bigint>"] if emit_sets else [])
        + [f"mh_{k} long" for k in range(minhashes)]
    )

    def emit(chunk: pa.RecordBatch) -> pa.RecordBatch:
        ids = np.asarray(chunk.column(0), dtype=np.int64)
        ids_out, offsets, values = batch_fn(ids, chunk.column(1), n)
        cols = {id_col: pa.array(ids_out)}
        if emit_sets:
            cols["_set"] = pa.ListArray.from_arrays(
                pa.array(int32_offsets(offsets)), pa.array(values)
            )
        # per-doc min over the XOR-mixed DISTINCT hashes — the values are
        # 60-bit non-negative and the mixes < 2^60, so signed and
        # unsigned mins agree
        for k, mix in enumerate(mixes):
            cols[f"mh_{k}"] = pa.array(
                np.minimum.reduceat(values ^ mix, offsets[:-1])
                if len(values)
                else np.zeros(0, dtype=np.int64)
            )
        return pa.RecordBatch.from_pydict(cols)

    # Bound per-call transient memory by chunking each Arrow batch: a
    # 10k-row batch of ~2.4k-char docs is ~24M char shingles, whose
    # hash/sort intermediates would be GBs per task — per-batch peak
    # must stay O(chunk), not O(batch), or the 100x stress corpus OOMs
    # 32 concurrent tasks. 256 docs x ~2.4k chars keeps every
    # intermediate under ~50 MB while staying fully vectorized.
    return source.mapInArrow(_chunked(emit, 256), sql_fields)


def _gram_counts(
    chunk: pa.RecordBatch, n: int, drop_empty: bool
) -> pa.RecordBatch | None:
    """``(key, gram, c)`` word n-gram counts of one ``(key, tokens)`` doc
    chunk, grouped by pyarrow's C++ hash aggregation (exact string
    grouping, no hashing shortcut); None when the chunk has no grams."""
    norm, starts, lens, sh_doc = _word_gram_slices(chunk.column(1), n)
    if drop_empty:
        keep = lens > 0
        starts, lens, sh_doc = starts[keep], lens[keep], sh_doc[keep]
    if not len(sh_doc):
        return None
    goff = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, dtype=np.int64, out=goff[1:])
    # checked before the gram bytes are gathered: a chunk's grams are
    # about n x its token bytes and must fit int32 offsets
    offsets = int32_offsets(goff)
    gbytes = norm[np.repeat(starts, lens) + _ragged_arange(lens)]
    grams = pa.Array.from_buffers(
        pa.utf8(), len(lens), [None, pa.py_buffer(offsets), pa.py_buffer(gbytes)]
    )
    tbl = pa.table({"_k": chunk.column(0).take(sh_doc), "gram": grams})
    agg = tbl.group_by(["_k", "gram"]).aggregate([("gram", "count")])
    return pa.RecordBatch.from_arrays(
        [
            agg.column("_k").combine_chunks(),
            agg.column("gram").combine_chunks(),
            agg.column("gram_count").combine_chunks(),
        ],
        names=[chunk.schema.names[0], "gram", "c"],
    )


def gram_multiset_arrow(
    df: DataFrame,
    n: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    trim: bool = False,
    drop_empty: bool = False,
    spread: bool = True,
) -> DataFrame:
    """Per-key word n-gram MULTISET counts ``(key, gram, c)`` in one
    Arrow map pass — the occurrence-count sibling of
    :func:`shingle_sets_arrow` (round 11, VERDICT r10 item 5), for the
    consumers whose published values aggregate occurrence counts
    (today only the bigram LM; top n-grams, Zipf head share, vocab
    diversity and DSIR buckets were measured faster on the explode
    path). Replaces ``word_shingles(distinct=False)``'s explode +
    the per-(key, gram) count exchange: each input row's grams are
    counted INSIDE the kernel (pyarrow C++ hash aggregation per doc
    chunk of at most 2048 docs — exact string grouping, no hashing
    shortcut), so only the chunk-distinct (key, gram, c) partials cross
    back to the JVM. A chunk whose gram bytes pass the int32 offset
    range raises ``trace_arrow.OffsetOverflowError``.

    Exactness contract: gram strings are byte slices of the same
    single-space-joined token buffer the set kernel uses — identical to
    ``concat_ws(' ', tokens)`` — and counts are exact ints; a caller
    that needs corpus totals sums the partials (``sum(c)`` == the
    explode path's ``count(*)``, since each occurrence is counted in
    exactly one chunk). With ``key_col`` a per-row unique id (doc_id)
    the output IS the exact per-doc count table (a doc never spans
    chunks). Tokenization is NOT reimplemented: the JVM's own token
    arrays cross the boundary (``trim`` mirrors callers that trim
    before lower); ``drop_empty`` drops zero-length grams (the
    ``token <> ''`` filter of the token-level consumers). NULL token
    arrays produce no rows, exactly like the explode path.

    ``spread`` follows the :func:`_spread` scan-rooted-only rule."""
    from pyspark.sql import functions as F

    from mdio_python_spark.operators.text import tokens

    txt = F.trim(F.col(text_col)) if trim else F.col(text_col)
    src = df.select(F.col(key_col), tokens(F.lower(txt)).alias("_in"))
    source = _spread(src, [key_col, "_in"]) if spread else src
    key_sql = src.schema[key_col].dataType.simpleString()
    # larger chunks than the set kernel's 256: word-gram buffers are
    # ~3x text bytes (no char-shingle blowup), so 2048 docs stays ~15 MB
    # of transients per chunk while amortizing the per-chunk C++ hash
    # aggregation setup 8x
    return source.mapInArrow(
        _chunked(lambda chunk: _gram_counts(chunk, n, drop_empty), 2048),
        f"{key_col} {key_sql}, gram string, c long",
    )
