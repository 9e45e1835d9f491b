"""The benchmark's workloads: which gates of ``__spark_entry__.queries()``
each one runs, and why.

Every workload reads the suite's seed-42 tables at scale factor 0.01,
shipped in ``data/sf0.01`` (``data/sf0.001`` for the smoke test).  Each
gate list is a subset of a full gate family, chosen so that one run (fresh
process, set-up, a cold pass, a warm pass and the oracle check) stays under
a minute while the family's build/plan/exec shares and jobs per gate
are kept; ``README.md`` lists the families and those shares.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES_DIR = os.path.join(DATA, "sf0.01")
SMOKE_TABLES_DIR = os.path.join(DATA, "sf0.001")


@dataclass(frozen=True)
class Workload:
    gates: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "relational": Workload(
        gates=(
            "q10_distinct_flags",
            "q17_lag_diff",
            "q18_rolling_avg7",
            "q39_rollup",
            "q43_concat_horizontal",
            "q44_sql_correlated",
            "q48_asof_forward",
            "q74_merge_upsert",
            "q90_group_head_tail",
            "q136_topk_by",
        ),
        why="joins, aggregates, windows and SQL: Catalyst and JVM execution do"
        " the work, no Python workers (bypass workload for operators/llm)",
    ),
    "operators": Workload(
        gates=(
            # stats_driver family: distributed-sort and median jobs run inside the gate call
            "q302_median_ci",
            "q310_rmst",
            # streaming family: micro-batches, state store, checkpoint, upsert sink
            "q267_stream_upsert",
            # text_dedup family: Python-worker Arrow boundary, broadcasts, candidate pairs
            "q154_simhash_pairs",
            "q161_vocab_encode",
        ),
        why="driver-side stats jobs, streaming micro-batches with state and"
        " checkpoints, near-duplicate search through Python workers",
    ),
}
