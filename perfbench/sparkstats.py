"""Spark-side counters for the traced run, read from Spark's own stores.

Nothing here touches the program: jobs and stages come from the driver's
``AppStatusStore`` (``sc._jsc.sc().statusStore()``), SQL plan metrics from
``sharedState().statusStore()``, storage from ``getRDDStorageInfo()`` and
streaming progress from a ``StreamingQueryListener``.  All of them are
filled with ``spark.ui.enabled=false``.  The listener bus is asynchronous,
so every read first waits until it is empty.
"""

from __future__ import annotations

import re

from pyspark.sql.streaming import StreamingQueryListener

STAGE_KEYS = (
    "spark.stages", "spark.tasks", "spark.task_failures", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.executor_deserialize_s", "spark.jvm_gc_s",
    "spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.result_bytes",
)
SQL_KEYS = (
    "spark.broadcast_bytes", "spark.broadcast_build_s", "python.bytes_sent",
    "python.bytes_received", "python.rows_received", "python.worker_s",
)
STREAM_KEYS = (
    "streaming.batches", "streaming.trigger_s", "streaming.state_commit_s",
    "streaming.state_rows",
)

_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1.0,
}
# plan-graph node name -> {SQL metric name: counter}
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
    "time to run Python workers": "python.worker_s",
}
_BROADCAST_METRICS = {
    "data size": "spark.broadcast_bytes",
    "time to collect": "spark.broadcast_build_s",
    "time to build": "spark.broadcast_build_s",
    "time to broadcast": "spark.broadcast_build_s",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as bytes, seconds or a count.

    One-task values read ``1.2 s`` or ``15,000``; many-task values read
    ``total (min, med, max (stageId: taskId))\\n15.3 MiB (...)``.  Sizes
    keep the three or four digits Spark prints.
    """
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*(-?[\d.,]+)\s*([A-Za-z]*)", line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StreamCounters(StreamingQueryListener):
    """Running totals over every streaming progress event of the session."""

    def __init__(self) -> None:
        self.totals = dict.fromkeys(STREAM_KEYS, 0.0)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        t = self.totals
        t["streaming.batches"] += 1
        t["streaming.trigger_s"] += p.durationMs.get("triggerExecution", 0) / 1000
        for op in p.stateOperators:
            t["streaming.state_commit_s"] += op.commitTimeMs / 1000
            t["streaming.state_rows"] += op.numRowsUpdated

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkCounters:
    """Reads what Spark recorded since the previous read."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ctx = self.sc._jsc.sc()
        self._store = self._ctx.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.stream = StreamCounters()
        spark.streams.addListener(self.stream)
        self.drain()
        self._job_mark = max((j.jobId() for j in self._jobs_desc()), default=-1)
        self._exec_seen = self._sql.executionsCount()

    def drain(self) -> None:
        self._ctx.listenerBus().waitUntilEmpty()

    def _jobs_desc(self):
        it = self._store.jobsList(None).iterator()  # newest job first
        while it.hasNext():
            yield it.next()

    def new_jobs(self) -> list:
        """Jobs submitted since the previous call, streaming threads' too."""
        self.drain()
        jobs = []
        for j in self._jobs_desc():
            if j.jobId() <= self._job_mark:
                break
            jobs.append(j)
        if jobs:
            self._job_mark = jobs[0].jobId()
        return jobs

    def stage_totals(self, jobs: list) -> dict[str, float]:
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            out["spark.task_failures"] += s.numFailedTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.executor_deserialize_s"] += s.executorDeserializeTime() / 1e3
            out["spark.jvm_gc_s"] += s.jvmGcTime() / 1e3
            out["spark.input_bytes"] += s.inputBytes()
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["spark.result_bytes"] += s.resultSize()
        return out

    def sql_totals(self) -> dict[str, float]:
        """Broadcast and Python-boundary metrics of the SQL executions that
        started since the previous call."""
        self.drain()
        out = dict.fromkeys(SQL_KEYS, 0.0)
        count = self._sql.executionsCount()
        for ex in _seq(self._sql.executionsList(self._exec_seen, count - self._exec_seen)):
            values = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                if name == "BroadcastExchange":
                    wanted = _BROADCAST_METRICS
                elif _PYTHON_NODE.search(name):
                    wanted = _PYTHON_METRICS
                else:
                    continue
                for m in _seq(node.metrics()):
                    key = wanted.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        out[key] += parse_metric(v.get())
        self._exec_seen = count
        return out

    def storage_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self._ctx.getRDDStorageInfo())

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()
