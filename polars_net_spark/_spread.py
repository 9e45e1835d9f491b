"""Guarded round-robin spread for narrow plain-scan chains.

A single-file gate corpus scans as 1-3 tasks, which would serialize a
following mapInArrow kernel onto one core.  But the ``.rdd`` partition
probe physically RE-PLANS the whole upstream (~0.75 s measured on a
window+join chain, see mask_tokens_frame's r12 history), and an upstream
that already shuffled (join / window / aggregate / repartition) has its
parallelism set by those exchanges anyway — so the probe+repartition fires
ONLY when the logical plan is a plain scan chain.  Extracted from
mask_tokens_frame (r12) so every kernel entry point shares the one guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF

__all__ = ["spread_plain_scan"]

_WIDE_NODES = ("Join", "Window", "Aggregate", "Repartition")


def spread_plain_scan(sdf: SparkDF) -> SparkDF:
    """Round-robin repartition ``sdf`` to the session default parallelism —
    but only when its logical plan is a plain scan chain (no Join / Window
    / Aggregate / Repartition) AND the physical scan is narrower than the
    default parallelism.  Returns ``sdf`` unchanged otherwise."""
    par = sdf.sparkSession.sparkContext.defaultParallelism
    try:
        simple = not any(
            k in name
            for name in _node_names(sdf._jdf.queryExecution().logical())
            for k in _WIDE_NODES
        )
        if simple and sdf.rdd.getNumPartitions() < par:
            return sdf.repartition(par)
    except Exception:  # pragma: no cover - plan-introspection guard
        pass
    return sdf


def _node_names(plan) -> "list[str]":
    """Class names of every node of a JVM logical plan, walked through its
    ``children()``.  Only node names count: a column or alias that merely
    contains "Window" or "Join" is not a wide node."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        names.append(node.getClass().getSimpleName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names
