"""The one lifecycle of a persisted intermediate stage.

Some operators and queries persist a stage because two consuming
branches defeat exchange reuse (``grid.ordered_export``,
``geometry.gun_geometry_analysis``; see their docstrings). Every such
stage goes through the same three calls:

1. :func:`persist` — the only place a storage level is chosen
   (``MEMORY_AND_DISK``).
2. :func:`eager` — only where plans built afterwards must see the
   cache's MEASURED statistics (a join side that might otherwise be
   broadcast from a static estimate).
3. :func:`own` — the builder's last step: ``return own(out, scope,
   *stages)`` registers the stages as ``scope``'s current generation,
   unpersisting the previous call's, and attaches them to ``out``.

The cache is part of the returned plan, so the builder cannot unpersist
it before the caller's terminal action. The handles ride on the
returned DataFrame and the caller releases them once the action
completes:

    out = ordered_export(df, dims)
    out.write.parquet(...)
    release_cached(out)

A caller that never releases (a harness running a declared query in a
loop) holds at most one generation per scope. An operator that wraps an
inner result passes that result's handles on with
:func:`attach_cached`; the inner builder already owns them. A declared
query needs no such step: ``plans.registry.register`` builds it under
:func:`collect_stages` and attaches every handle recorded during the
build to its result, so the stages of inner operators whose results the
query transformed further are released with it.
``spark.catalog.clearCache()`` also drops every stage, at the cost of
every other cached relation in the session.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import TypeVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

CACHE_ATTR = "_mdio_cached_stages"
# the lists of the collect_stages() blocks open in this thread (declared
# queries may nest)
_COLLECTING: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "collecting", default=()
)


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at the one storage level every stage uses:
    ``MEMORY_AND_DISK``, so partitions that do not fit in memory spill
    to disk instead of being recomputed."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


R = TypeVar("R")


def own(out: R, scope: str, *stages: DataFrame) -> R:
    """Make ``stages`` the current generation under ``scope`` (the
    previous call's stages are unpersisted) and attach them to ``out``,
    a DataFrame or a tuple of them; returns ``out``."""
    _rotate(scope, *stages)
    for f in out if isinstance(out, tuple) else (out,):
        attach_cached(f, *stages)
    return out


def attach_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Record ``cached`` (persisted upstream stages) on ``result`` so
    :func:`release_cached` can unpersist them after the terminal action.
    A handle already recorded is not recorded twice."""
    existing = list(getattr(result, CACHE_ATTR, []))
    new = [h for h in cached if all(h is not e for e in existing)]
    setattr(result, CACHE_ATTR, existing + new)
    for stages in _COLLECTING.get():
        stages.extend(new)
    return result


@contextmanager
def collect_stages() -> Iterator[list[DataFrame]]:
    """Collect every handle :func:`attach_cached` records inside the
    block, on whichever result, into the yielded list."""
    stages: list[DataFrame] = []
    token = _COLLECTING.set((*_COLLECTING.get(), stages))
    try:
        yield stages
    finally:
        _COLLECTING.reset(token)


def release_cached(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist every cached stage attached to ``df`` (no-op otherwise)."""
    for handle in getattr(df, CACHE_ATTR, []):
        handle.unpersist(blocking)
    setattr(df, CACHE_ATTR, [])


def eager(df: DataFrame) -> DataFrame:
    """Materialize a persisted DataFrame NOW (one cheap ``count()``) and
    return it, so every plan built against it afterwards sees MEASURED
    ``InMemoryRelation`` statistics instead of the child plan's static
    estimates.

    Why this matters (round-6 100x driver kill): an *unmaterialized*
    cached relation reports its child's optimistic ``sizeInBytes`` to the
    static planner. At 100x corpus scale that estimate came in under
    ``spark.sql.autoBroadcastJoinThreshold`` for a multi-GiB shingle
    relation, the planner picked a broadcast join, and the
    BroadcastExchange blew past ``spark.driver.maxResultSize`` — and AQE
    can *upgrade* a shuffle join to broadcast at runtime but can never
    *demote* a statically-chosen broadcast, so there is no runtime safety
    net for that mis-plan. Once the cache is materialized,
    ``InMemoryRelation.computeStats`` returns the actual cached bytes:
    tiny relations still broadcast (statically or via AQE), corpus-sized
    ones sort-merge — the scale-correct choice at every SF, without
    blanket strategy hints that overpay when a side really is small.

    The count is ~free: the first consumer was going to materialize the
    cache anyway; doing it eagerly just moves that work before dependent
    plan construction (one extra job submission, no extra data pass).
    """
    df.count()
    return df


_SCOPED_PREV: dict[str, list[DataFrame]] = {}


def _rotate(scope: str, *cached: DataFrame) -> None:
    """Self-limiting fallback for callers that never call
    :func:`release_cached` (e.g. a declared query run repeatedly by a
    correctness harness): each builder call unpersists the PREVIOUS
    call's persisted stages under the same ``scope``, so a long-lived
    session holds at most ONE generation per scope instead of one per
    call. Unpersist is always semantics-preserving — if some caller
    still holds an unexecuted plan over the previous stage it
    recomputes, it never breaks — so rotation trades worst-case
    recompute for a bounded memory/disk footprint. Explicit
    ``release_cached`` remains the precise path (double unpersist is a
    no-op)."""
    for handle in _SCOPED_PREV.get(scope, []):
        if any(_same_plan(handle, new) for new in cached):
            # The new call's persist() deduped onto THIS handle's cache
            # entry (Spark's CacheManager keys on the semantic plan, and
            # repeated invocations of the same query build the same
            # plan — it logs "Asked to cache already cached data").
            # Unpersisting the old handle would evict the shared entry
            # and leave the NEW call uncached; keep it instead.
            continue
        handle.unpersist(False)
    _SCOPED_PREV[scope] = list(cached)


def size_gated(
    df: DataFrame,
    limit: int,
    kernel: Callable[[DataFrame], R],
    fallback: Callable[[DataFrame], R],
    scope: str,
    long_cols: tuple[str, ...] = (),
) -> R:
    """The one place an operator chooses between a single-task kernel
    and its distributed path. ``kernel`` and ``fallback`` each take the
    materialized input and return a DataFrame or a tuple of them.

    1. **Materialize**: ``df`` is persisted (MEMORY_AND_DISK) as
       ``base``, so its upstream derivation runs once whichever path
       reads it.
    2. **Measure**: one aggregate job fills that cache and returns the
       row count and the non-null count of every ``long_cols`` column.
    3. **Choose**: ``kernel(base)`` when the count is ``<= limit`` and
       every ``long_cols`` column is ``LongType`` with no nulls (the
       kernels read ids as int64 arrays); ``fallback(base)`` otherwise.
       Callers keep ``limit`` in a module constant, so tests force the
       fallback by patching it to -1.
    4. **Own**: ``base`` and every stage the chosen path attached go
       to :func:`own` under ``scope``, so each returned frame carries
       them and a caller that never releases holds one generation per
       scope.
    5. **Recompute on release**: ``base`` is a plain persist, not a
       ``localCheckpoint``. A lazy frame still built on a released
       ``base`` recomputes it from ``df``'s lineage instead of failing on
       a missing checkpoint block.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    base = persist(df)
    n, *non_null = base.agg(
        F.count(F.lit(1)), *[F.count(c) for c in long_cols]
    ).first()
    fits = n <= limit and all(
        isinstance(base.schema[c].dataType, LongType) and m == n
        for c, m in zip(long_cols, non_null)
    )
    try:
        out = (kernel if fits else fallback)(base)
    except BaseException:
        base.unpersist(False)
        raise
    frames = out if isinstance(out, tuple) else (out,)
    return own(
        out, scope, base, *[h for f in frames for h in getattr(f, CACHE_ATTR, [])]
    )


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    """True when two DataFrames share a semantically-equal analyzed plan
    (the CacheManager's cache key)."""
    try:
        pa = a._jdf.queryExecution().analyzed()
        return bool(pa.sameResult(b._jdf.queryExecution().analyzed()))
    except Exception:  # noqa: BLE001 — fall back to rotating (safe)
        return False
