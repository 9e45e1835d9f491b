"""The one "small enough?" guard and the one way to ship driver objects.

Rank statistics (a Kaplan–Meier curve, a median interval, exact
quantiles, a Pettitt scan) need one global ordering.  The distributed form
of that ordering is ``operators/distsort.py``: a boundary sketch job, a
prefix-offset job and bucket-keyed windows, so that no task ever holds more
than a bucket.  Below a few tens of thousands of rows that machinery is
pure job overhead; one task sorts the rows in milliseconds.  Iterative
graph and model fits (dedup_clusters, bradley_terry, train_bpe) face the
same choice: a small edge or vocabulary table runs its rounds on the
driver, a large one runs them as Spark jobs.

``bounded`` makes that decision the same way at every site: persist the
input through ``register_cache`` (so the count and every later pass share
one materialisation), count it once with ``full_count`` (one job that
fills every cached partition; ``DataFrame.count()`` on a freshly persisted
frame runs two or three), and compare the count with ``BOUND``.  There is
deliberately no ``limit(BOUND + 1)`` probe: on an expensive upstream the
CollectLimit plan re-scans it, and the cached count costs the same single
pass the consumer needs anyway.

``ship`` gets a driver-side object (a vocabulary dict, a model table, a
matrix) to the worker code as a broadcast, which each worker fetches once
instead of unpickling it with every task.  The handle is registered with
the cache registry, so ``release_caches()`` / ``scoped_caches()``
unpersist it (never destroy it): a released plan that runs again fetches
the value from the driver again.  The caller gets a zero-argument getter
that the worker code calls.  Small objects are not sent in the task
closure instead: no measured workload showed that path winning.

Every bound lives here, and no operator takes a per-call override.  An
operator is held to ``BOUND`` = 65,536 rows unless ``BOUNDS`` names it:

    operator                  bound        unit
    bradley_terry             50,000       comparison edges
    dedup_clusters            400,000      directed edges
    cosine_topk               100,000      query rows
    embedding_near_dup_pairs  200,000      rows
    embedding_threshold_join  200,000      right-side rows
    cell_ranks                5,000,000    (partition, value) cells
    ipf_weights               4,096        category-grid cells
    containment_pairs         32 MiB       bytes of the gram-df table

The three vector operators broadcast their bounded side (the queries, the
right frame, the frame itself) as a numpy matrix; above the bound they run
a broadcast-join (cosine_topk) or hyperplane-bucketed (the other two)
plan.  A common value for all of them would need a measured crossover
for each operator, so each keeps its own.

Each decision is appended to a bounded in-memory record, read with
``decisions()``, as ``{operator, path, n, bound}``; ``path`` is
``"bounded"`` (the single-task or driver-side form) or ``"distributed"``.
A bound of 0 forces the distributed path for every input, the empty one
included: tests force it by setting ``BOUND`` and every ``BOUNDS`` entry
to 0 (the ``force_distributed`` fixture).
"""

from __future__ import annotations

from collections import deque
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame as SparkDF

from ._cache import full_count, register_broadcast, register_cache

__all__ = ["BOUND", "Guarded", "bounded", "ship", "record", "decisions", "clear_decisions"]

# rows one task may sort or the driver may collect: the same 65,536 that
# bounds the train_bpe artifact
BOUND = 65_536

# the operators held to another bound, with the unit the module docstring
# gives; both are read at call time
BOUNDS = {
    "bradley_terry": 50_000,
    "dedup_clusters": 400_000,
    "cosine_topk": 100_000,
    "embedding_near_dup_pairs": 200_000,
    "embedding_threshold_join": 200_000,
    "cell_ranks": 5_000_000,
    "ipf_weights": 4_096,
    # the gram-df table's bytes, taken as if every gram occurrence were
    # distinct: about 2M occurrences at 16 bytes per hashed row
    "containment_pairs": 32 << 20,
}

_DECISIONS: "deque[dict]" = deque(maxlen=1024)


class Guarded(NamedTuple):
    frame: SparkDF  # the persisted input; every later pass reads the cache
    n: int  # its row count
    small: bool  # n <= bound: take the bounded path


def bounded(sdf: SparkDF, operator: str) -> Guarded:
    """Persist ``sdf``, count it once and decide the path for ``operator``
    against its bound."""
    cached = register_cache(sdf)
    n = full_count(cached)
    return Guarded(cached, n, record(operator, n))


def ship(sc, obj: Any) -> Callable[[], Any]:
    """Broadcast ``obj``, register the handle for ``release_caches()`` and
    return a zero-argument getter for the worker code."""
    handle = register_broadcast(sc, obj)
    return lambda: handle.value


def record(operator: str, n: int) -> bool:
    """Compare an already-known size ``n`` with ``operator``'s bound,
    record the decision and return whether ``n`` takes the bounded path.
    For sites that count several inputs in one job, such as
    ``exact_quantiles_multi``'s per-column distinct counts, or whose size
    is known without a job, such as ipf_weights' category grid.  A bound
    of 0 takes the distributed path even for ``n == 0``."""
    limit = BOUNDS.get(operator, BOUND)
    small = limit != 0 and n <= limit
    _DECISIONS.append(
        {
            "operator": operator,
            "path": "bounded" if small else "distributed",
            "n": n,
            "bound": limit,
        }
    )
    return small


def decisions() -> "list[dict]":
    """The most recent decisions, oldest first (at most 1024)."""
    return list(_DECISIONS)


def clear_decisions() -> None:
    _DECISIONS.clear()
