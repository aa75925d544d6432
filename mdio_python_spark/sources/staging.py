"""Part-file staging abstraction for distributed ordered export.

The reference's SEG-Y export merges per-worker partial files over shared
storage (``/root/reference/src/mdio/segy/blocked_io.py:214-302``,
``creation.py:236-264``). On a real cluster the executors and the driver
do NOT share a POSIX filesystem, so the staging location must be a *store
URI* every party can reach (an object-store prefix, NFS mount, etc.), not
a path relative to one machine.

This module provides the minimal filesystem surface export needs — write
a named part, read it back, list parts in name order, clean up — with:

- a local/posix backend (``file://`` or bare paths) used on local[...]
  and shared-filesystem clusters, and
- a scheme registry (``register_scheme``) where deployments plug in an
  object-store backend (an s3/gcs/abfs class holding bucket+prefix and
  opening its client lazily inside each task).

Stores are small picklable objects resolved ON THE DRIVER and shipped to
executors inside the task closure, so a custom backend needs no
executor-side registration — cloudpickle carries the class by value.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from typing import BinaryIO
from urllib.parse import urlparse

_SCHEMES: dict[str, Callable[[str], "StagingStore"]] = {}


def register_scheme(scheme: str, factory: Callable[[str], "StagingStore"]) -> None:
    """Register a staging backend for ``scheme://...`` URIs (driver-side)."""
    _SCHEMES[scheme] = factory


class StagingStore:
    """Interface contract for a staging backend. Instances must be
    picklable (they ride to executors in the task closure) and any client
    state must be created lazily inside ``open_write``/``open_read``."""

    def open_write(self, name: str) -> BinaryIO:  # pragma: no cover - contract
        raise NotImplementedError

    def open_read(self, name: str) -> BinaryIO:  # pragma: no cover - contract
        raise NotImplementedError

    def delete(self, name: str) -> None:  # pragma: no cover - contract
        raise NotImplementedError

    def list(self) -> list[str]:  # pragma: no cover - contract
        """Part names in lexicographic order."""
        raise NotImplementedError

    def remove_all(self) -> None:  # pragma: no cover - contract
        raise NotImplementedError

    def size(self, name: str) -> int:
        """Byte size of a staged part (default: one read pass). Backends
        with cheap metadata (stat, HEAD) should override."""
        n = 0
        with self.open_read(name) as f:
            while chunk := f.read(64 << 20):
                n += len(chunk)
        return n


class LocalStaging(StagingStore):
    """POSIX-directory backend (local mode / shared filesystem)."""

    def __init__(self, root: str):
        self.root = root

    def open_write(self, name: str) -> BinaryIO:
        os.makedirs(self.root, exist_ok=True)
        return open(os.path.join(self.root, name), "wb")

    def open_read(self, name: str) -> BinaryIO:
        return open(os.path.join(self.root, name), "rb")

    def delete(self, name: str) -> None:
        os.remove(os.path.join(self.root, name))

    def list(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(os.listdir(self.root))

    def remove_all(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def size(self, name: str) -> int:
        return os.path.getsize(os.path.join(self.root, name))


def staging_for(uri: str | StagingStore) -> StagingStore:
    """Resolve a staging URI (or pass through a ready store instance)."""
    if isinstance(uri, StagingStore):
        return uri
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return LocalStaging(parsed.path if parsed.scheme else uri)
    if parsed.scheme in _SCHEMES:
        return _SCHEMES[parsed.scheme](uri)
    raise ValueError(
        f"no staging backend registered for scheme {parsed.scheme!r} — "
        "call staging.register_scheme or pass a StagingStore instance"
    )


def concat_parts(
    store: StagingStore,
    out: BinaryIO,
    buffer: int = 64 << 20,
    delete_parts: bool = False,
) -> None:
    """Stream every staged part into ``out`` in name order.
    ``delete_parts`` drops each part as soon as it is fully streamed, so
    peak staging usage is one part instead of the whole output — the
    disk headroom that lets a 22 GB export run beside its own store."""
    for name in store.list():
        with store.open_read(name) as part:
            shutil.copyfileobj(part, out, length=buffer)
        if delete_parts:
            store.delete(name)


class RangedSink:
    """A final-output target that supports parallel positional writes —
    the executor-side alternative to streaming every staged part through
    the driver (the reference parallelizes its intermediate merge with a
    record-concat tree, ``/root/reference/src/mdio/segy/blocked_io.py:
    226-251``; a ranged sink goes one better: each part lands at its
    final offset in ONE pass, log-depth tree included for free).

    Instances must be picklable (they ride to executors in the task
    closure). The POSIX backend uses ``pwrite``; an object-store backend
    maps naturally onto multipart upload (S3 UploadPart by part number,
    GCS compose) — register via :func:`register_ranged_scheme`.
    """

    def write_at(self, offset: int, src: BinaryIO, buffer: int = 64 << 20) -> None:
        raise NotImplementedError  # pragma: no cover - contract

    def truncate_to(self, n_bytes: int) -> None:
        """Pre-size the output so concurrent ranged writes never race the
        file length (a no-op for object-store multipart backends)."""
        raise NotImplementedError  # pragma: no cover - contract


class LocalRangedSink(RangedSink):
    """pwrite-based positional writes into one local/shared-mount file."""

    def __init__(self, path: str):
        self.path = path

    def truncate_to(self, n_bytes: int) -> None:
        with open(self.path, "ab") as f:
            f.truncate(n_bytes)

    def write_at(self, offset: int, src: BinaryIO, buffer: int = 64 << 20) -> None:
        fd = os.open(self.path, os.O_WRONLY)
        try:
            pos = offset
            while chunk := src.read(buffer):
                os.pwrite(fd, chunk, pos)
                pos += len(chunk)
        finally:
            os.close(fd)


_RANGED_SCHEMES: dict[str, Callable[[str], RangedSink]] = {}


def register_ranged_scheme(scheme: str, factory: Callable[[str], RangedSink]) -> None:
    """Register a ranged-write backend for ``scheme://...`` output URIs."""
    _RANGED_SCHEMES[scheme] = factory


def ranged_sink_for(uri: str) -> RangedSink | None:
    """Resolve a ranged sink for the final output path, or ``None`` when
    no backend supports it (callers fall back to the driver stream)."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return LocalRangedSink(parsed.path if parsed.scheme else uri)
    if parsed.scheme in _RANGED_SCHEMES:
        return _RANGED_SCHEMES[parsed.scheme](uri)
    return None


def compose_parts_ranged(
    spark,
    store: StagingStore,
    sink: RangedSink,
    base_offset: int,
    buffer: int = 64 << 20,
    delete_parts: bool = False,
) -> int:
    """Executor-parallel compose: every staged part is copied to its
    final byte offset (``base_offset`` + prefix sum of part sizes, in
    part-name order) by its own Spark task — the driver's (part, offset)
    list run through :func:`run_tasks` — so the driver never streams part
    bytes — it only stats sizes (bounded: one per range partition) and
    pre-sizes the sink. Returns the total bytes composed.

    Byte-identical to :func:`concat_parts` by construction: offsets are
    exact prefix sums of the measured part sizes over the same
    name-ordered part list.

    ``delete_parts`` drops each part inside its copy task right after
    the positional write, capping peak disk at roughly ONE output
    instead of parts + output (a pre-sized local sink is sparse, so
    real usage tracks bytes written). Retry-safe in the direction that
    matters: the positional write is idempotent (a task that copied but
    failed before recording success re-copies identical bytes), and a
    retry that finds its part already deleted fails LOUDLY with the
    store's missing-part error rather than composing a silent hole.
    """
    names = store.list()
    offsets = []
    pos = base_offset
    for name in names:
        offsets.append((name, pos))
        pos += store.size(name)
    total = pos - base_offset
    sink.truncate_to(pos)
    if not names:
        return 0

    def copy_one(task: tuple[str, int]) -> int:
        name, off = task
        with store.open_read(name) as src:
            sink.write_at(off, src, buffer)
        if delete_parts:
            store.delete(name)
        return 0

    run_tasks(spark, offsets, copy_one)
    return total


def run_tasks(spark, tasks: list, fn: Callable[[object], int]) -> list[int]:
    """``fn(task)`` for every task of a driver-side list, one Spark task
    each, returning the results in list order.

    The tasks ride in the closure and each Spark task reads its list index
    from ``spark.range`` (the ``segy.read_traces`` idiom), so the work runs
    in ``mapInArrow``, on the Python workers the SQL scans already use: an
    RDD ``parallelize().map()`` would start a second pool of Python workers
    and pay their start-up on its first job."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            out = [int(fn(tasks[int(i)])) for i in batch.column(0).to_numpy()]
            yield pa.RecordBatch.from_pydict({"out": pa.array(out, pa.int64())})

    ids = spark.range(0, len(tasks), numPartitions=max(1, len(tasks)))
    return [r[0] for r in ids.mapInArrow(run, "out long").collect()]


def iter_part_chunks(
    store: StagingStore, buffer: int = 64 << 20
) -> Iterator[bytes]:
    """Chunk iterator over all parts in order (for non-file sinks)."""
    for name in store.list():
        with store.open_read(name) as part:
            while chunk := part.read(buffer):
                yield chunk
