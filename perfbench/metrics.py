"""Names and units of every metric the benchmark reports.

``BENCHMARK.json`` lists the same names; ``selftest.py`` checks that the
two agree.  End-to-end metrics come from untraced runs, per-layer metrics
from traced runs (``--trace 1``).
"""

from __future__ import annotations

from spans import LAYERS

END_TO_END = {
    "setup_s": "s",  # fresh process to warmed session
    "wall_s": "s",  # sum of gate times in the cold pass
    "gate_geomean_s": "s",  # geometric mean of the cold gate times
    "warm_wall_s": "s",  # sum of gate times in the one warm pass
    "pass_frac": "ratio",  # 1 - fail_frac; fail_frac = failed gates / gates
}

# per-layer: summed over the cold pass unless noted
PER_LAYER = {
    "gate.build_s": "s",
    "gate.plan_s": "s",
    "gate.exec_s": "s",
    # the warm pass
    "gate.warm_build_s": "s",
    "gate.warm_plan_s": "s",
    "gate.warm_exec_s": "s",
    "spark.jobs": "count",
    "spark.jobs_in_build": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_deserialize_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.result_bytes": "B",
    "spark.broadcast_bytes": "B",
    "spark.broadcast_build_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "python.rows_received": "count",
    "python.worker_s": "s",
    "cache.registered": "count",
    "cache.leaked_rdds": "count",
    "cache.storage_peak_bytes": "B",  # largest over the cold pass's gates
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
}
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.self_s"] = "s"
    PER_LAYER[f"{_layer}.calls"] = "count"
PER_LAYER.update({"setup.import_s": "s", "setup.session_s": "s", "setup.warm_s": "s"})
# driver JVM VmHWM after the warm pass: it swings by a third between runs
# with the heap's growth and GC timing, too much for an end-to-end bound
PER_LAYER["driver_peak_rss_mb"] = "MB"
