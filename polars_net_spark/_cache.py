"""Registry for operator-internal persisted DataFrames and broadcasts.

Several operators stage intermediates behind ``persist()`` (shared shingle
projections, band entries, token hashes — see llm/).  Locally Spark LRU-evicts
these, but a long-lived session on a real cluster should release them once the
results are consumed.  Operators register their persisted frames here, and
``_bounded.ship`` registers the broadcasts it creates; ``release_caches()``
unpersists everything registered so far.

Strong references on purpose: the Python wrapper is a few hundred bytes; the
JVM-side cached blocks it points at are exactly what we need to keep
addressable until release.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame as SparkDF

__all__ = ["register_cache", "release_caches", "cached_count", "scoped_caches"]

# persisted DataFrames and Broadcast handles: anything with ``unpersist()``
_CACHES: list = []


def register_cache(sdf: SparkDF) -> SparkDF:
    """Persist ``sdf`` and remember it for later release."""
    sdf = sdf.persist()
    _CACHES.append(sdf)
    return sdf


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
