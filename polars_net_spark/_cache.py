"""Registry for operator-internal persisted DataFrames and broadcasts.

Several operators stage intermediates behind a persist (shared shingle
projections, band entries, token hashes, the state of an iterative loop)
or ship a driver-built object to the workers as a broadcast.  Locally Spark
LRU-evicts these, but a long-lived session on a real cluster should release
them once the results are consumed.

The one rule: this module is the only one that persists or unpersists a
frame or registers a broadcast.  An operator persists through
``register_cache``, advances an iterative loop's state through
``replace_cache`` and broadcasts through ``register_broadcast``;
``scoped_caches()`` and ``release_caches()`` unpersist, newest first.  An
operator whose result is built on the driver, or whose returned plan reads
none of its caches, releases everything it registered before it returns:
its body runs inside ``with scoped_caches():``.  Only a returned lazy plan
may keep a registration; the next terminal sink or ``release_caches()``
frees it.

Strong references on purpose: the Python wrapper is a few hundred bytes; the
JVM-side cached blocks it points at are exactly what we need to keep
addressable until release.
"""

from __future__ import annotations

import contextlib
from typing import Any, Callable

from pyspark.sql import DataFrame as SparkDF

__all__ = ["register_cache", "release_caches", "cached_count", "scoped_caches"]

# persisted DataFrames and Broadcast handles: anything with ``unpersist()``
_CACHES: list = []


def register_cache(sdf: SparkDF, level=None) -> SparkDF:
    """Persist ``sdf`` at the ``StorageLevel`` ``level`` (Spark's default
    when None) and remember it for later release."""
    sdf = sdf.persist() if level is None else sdf.persist(level)
    _CACHES.append(sdf)
    return sdf


def register_broadcast(sc, obj: Any):
    """Broadcast ``obj`` and remember the handle for later release."""
    handle = sc.broadcast(obj)
    _CACHES.append(handle)
    return handle


def full_count(sdf: SparkDF) -> int:
    """``sdf``'s row count from ONE job that reads every partition.
    ``DataFrame.count()`` aggregates through a shuffle, which adaptive
    execution runs as a second job, and ``isEmpty()`` may stop after the
    first partition.

    The job projects no columns, so no row is converted for the count.  A
    persisted ``sdf`` is still built in full: the cache stores every
    column of every partition whatever the reading scan selects.  Measured
    on a freshly persisted 600,000-row, 16-column lineitem at local[4]:
    one job either way, median 1.53-1.62 s with no columns against
    1.69-1.91 s with all of them (``DataFrame.count()``: three jobs,
    1.75-1.87 s)."""
    return sdf.select()._jdf.queryExecution().toRdd().count()


def replace_cache(
    old: SparkDF,
    new: SparkDF,
    probe: Callable[[SparkDF], Any] = full_count,
    stored: bool = False,
) -> "tuple[SparkDF, Any]":
    """Advance an iterative loop from its registered round ``old`` to the
    next round ``new``; returns ``(new, probe(new))``.

    ``new`` is persisted, unless ``stored`` says a checkpoint already keeps
    its rows, and takes ``old``'s slot in the registry.  The registry's
    length never changes, so every open ``scoped_caches()`` mark stays
    correct (removing ``old`` instead would make a scope opened after it
    release one entry too few).  Then ``probe`` runs on ``new``: a job that
    reads every partition, so the new round is fully materialized before
    ``old``, which its lineage reads, is unpersisted.  ``old`` is
    unpersisted even when the probe raises; ``new`` is registered by then,
    so its scope releases it."""
    slot = [h is old for h in _CACHES].index(True)
    _CACHES[slot] = new = new if stored else new.persist()
    try:
        return new, probe(new)
    finally:
        old.unpersist()


def _release_to(mark: int) -> int:
    """Unpersist registered entries, newest first, until ``mark`` remain;
    returns how many were released."""
    released = 0
    while len(_CACHES) > mark:
        handle = _CACHES.pop()
        try:
            handle.unpersist()
            released += 1
        except Exception:
            pass
    return released


def release_caches() -> int:
    """Unpersist every registered intermediate; returns how many."""
    return _release_to(0)


def cached_count() -> int:
    return len(_CACHES)


@contextlib.contextmanager
def scoped_caches():
    """Release every operator-internal persist registered inside the block.

    ``with pls.scoped_caches(): pairs = minhash_lsh_pairs(df).collect()`` —
    on exit the shingle/band staging frames are unpersisted, so a long-lived
    session doesn't accumulate cached blocks.  Terminal sinks
    (``sink_parquet`` etc.) release automatically; use this for driver-side
    consumption (``rows()``, ``to_pandas``) or multi-result pipelines.
    Releasing is always safe: a released intermediate recomputes
    transparently if the plan is re-executed, and a released broadcast is
    fetched from the driver again.
    """
    mark = len(_CACHES)
    try:
        yield
    finally:
        _release_to(mark)
