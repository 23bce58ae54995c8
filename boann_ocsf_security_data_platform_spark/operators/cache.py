"""One lifecycle for cached intermediates.

An operator or entry that reads the same intermediate more than once
caches it with :func:`materialize`; whoever runs the action that consumes
the result opens a :func:`cache_scope` around it, and everything
materialized inside the scope is released when it closes::

    with cache_scope():
        pairs = minhash_near_dup_pairs(docs)
        pairs.filter("jaccard > 0.9").count()   # derived frames are fine
    # every intermediate materialized in the block is unpersisted here

Storage rule: ``MEMORY_AND_DISK_DESER``, or ``DISK_ONLY`` when the caller
has measured the frame as fact-sized (``disk=True``), so large
intermediates never compete with execution memory.

Scopes nest (each releases only its own frames) and release on
exceptions too. The registry is per thread: a scope never releases a
frame another thread (a ``foreachBatch`` thread, say) materialized.
Outside any scope, :func:`materialize` is a plain persist and the caller
owns the frame (``spark.catalog.clearCache()`` frees it). One Spark
caveat: the CacheManager dedupes identical plans, so an inner scope that
materializes a plan an outer scope already holds drops the shared entry
on exit; the outer result stays correct, it just recomputes.

A scope inside an operator or entry may close only after an eager action
(or an eager ``localCheckpoint``) on what it returns; a lazily returned
frame leaves its intermediates to the caller's scope. ``localCheckpoint``
is not part of this lifecycle: it cuts lineage, and its blocks belong to
Spark's ContextCleaner, not the CacheManager.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_local = threading.local()


def _scopes() -> list[list[DataFrame]]:
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def materialize(df: DataFrame, disk: bool = False) -> DataFrame:
    """Persist ``df`` (``DISK_ONLY`` when ``disk``, else
    ``MEMORY_AND_DISK_DESER``) and register it with this thread's
    innermost :func:`cache_scope`, if one is open."""
    df = df.persist(
        StorageLevel.DISK_ONLY if disk else StorageLevel.MEMORY_AND_DISK_DESER
    )
    scopes = _scopes()
    if scopes:
        scopes[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist (blocking) every frame this thread materializes inside
    the block when the block exits, however it exits."""
    frames: list[DataFrame] = []
    scopes = _scopes()
    scopes.append(frames)
    try:
        yield
    finally:
        scopes.pop()
        while frames:
            frames.pop().unpersist(blocking=True)
