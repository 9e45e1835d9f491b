"""One benchmark run, in the fresh process ``run.py`` starts.

Set-up (imports, ``get_spark``, the warm-up ``bench.py`` does), then one
cold pass over the workload's gates in seed-permuted order, then one warm
pass over the same order, then the oracle check.  Each gate is built, planned
(``queryExecution().executedPlan()``) and executed through the noop sink,
with ``release_caches()`` after it.  The check runs every gate again with
``toPandas()`` and compares it with ``oracle_sql()`` on DuckDB the way
``tools/oracle_check.py`` does; it is not timed.

With ``--trace 1`` the run also reads Spark's stores after each gate and
records module spans; without it nothing is wrapped or read.  The result
goes to ``--out`` as JSON.

Usage (normally through run.py):
  python3 perfbench/worker.py --workload W --data DIR --seed N
      --trace 0|1 --out FILE [--inject raise:GATE] [--inject wrong:GATE]
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)
sys.path.insert(2, os.path.join(ROOT, "tools"))

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PHASES = ("build_s", "plan_s", "exec_s")


class InjectedFault(RuntimeError):
    """Raised by ``--inject raise:GATE`` in the cold pass only."""


class Tally:
    """Which of the workload's gates failed.  A gate fails if it raised in
    any pass or its checked output mismatched the oracle.  Every failure is
    kept: a later success of the same gate never removes it."""

    def __init__(self, gates: list[str]) -> None:
        self.gates = list(gates)
        self.failures: list[tuple[str, str, str]] = []

    def record(self, pass_name: str, gate: str, error: str | None) -> None:
        if error is not None:
            self.failures.append((pass_name, gate, error))
            print(f"# perfbench {pass_name} FAIL {gate}: {error}", file=sys.stderr, flush=True)

    @property
    def attempted(self) -> int:
        return len(self.gates)

    @property
    def failed(self) -> int:
        return len({gate for _, gate, _ in self.failures})

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted


def _warm_python_worker(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    yield from batches


def warm_up(spark, data_dir: str) -> None:
    """The warm-up ``bench.py`` does before its first gate: the first job,
    the first parquet scan, the full Python worker pool with its common
    imports, and one shuffle + join + aggregate.  Without it, whichever
    gate the seed puts first would carry the pool's spawn (seconds)."""
    spark.range(1).count()
    spark.read.parquet(f"{data_dir}/lineitem.parquet").count()
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 2).repartition(par).mapInArrow(_warm_python_worker, "id long") \
        .write.format("noop").mode("overwrite").save()
    a = spark.range(10_000).selectExpr("id % 97 as k", "id as v")
    a.join(a.groupBy("k").count(), "k").groupBy("k").agg({"v": "sum"}) \
        .write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, args, spark, entry, tracer, counters, gates) -> None:
        from polars_net_spark import cached_count, release_caches

        self.args = args
        self.spark = spark
        self.queries = entry.queries()
        self.tracer = tracer
        self.counters = counters
        self.tally = Tally(gates)
        self.cached_count = cached_count
        self.release_caches = release_caches
        self.inject = dict(x.split(":", 1)[::-1] for x in args.inject)  # gate -> kind

    def gate(self, pass_name: str, name: str) -> dict[str, float]:
        """Build, plan and execute one gate; returns its phase times (and,
        traced, its counters)."""
        tag = f"{pass_name}/{name}"
        traced = self.counters is not None
        rec: dict[str, float] = dict.fromkeys(PHASES, 0.0)
        if traced:
            self.tracer.tag = tag
            self.spark.sparkContext.setJobGroup(tag, tag)
            stream_before = dict(self.counters.stream.totals)
            build_jobs: list = []
        error = None
        t0 = time.perf_counter()
        try:
            if pass_name == "cold" and self.inject.get(name) == "raise":
                raise InjectedFault(f"injected failure in {name}")
            df = self.queries[name](self.spark, self.args.data)
            rec["build_s"] = time.perf_counter() - t0
            if traced:
                build_jobs = self.counters.new_jobs()
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["plan_s"], rec["exec_s"] = t2 - t1, time.perf_counter() - t2
        except Exception as ex:  # a failed gate is counted; the pass goes on
            error = _error(ex)
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                jobs = build_jobs + self.counters.new_jobs()
                rec["spark.jobs"] = len(jobs)
                rec["spark.jobs_in_build"] = len(build_jobs)
                rec.update(self.counters.stage_totals(jobs))
                rec.update(self.counters.sql_totals())
                rec["cache.registered"] = self.cached_count()
                rec["cache.storage_peak_bytes"] = self.counters.storage_bytes()
            self.release_caches()
            if traced:
                rec["cache.leaked_rdds"] = self.counters.persistent_rdds()
                for k, v in self.counters.stream.totals.items():
                    rec[k] = v - stream_before[k]
                self.tracer.tag = ""
                self.spark.sparkContext.setJobGroup(None, None)
        self.tally.record(pass_name, name, error)
        return rec

    def one_pass(self, pass_name: str, order: list[str]) -> list[dict[str, float]]:
        return [self.gate(pass_name, g) for g in order]

    def check(self, order: list[str]) -> None:
        """Untimed: every gate's output against its DuckDB oracle."""
        import duckdb
        import oracle_check
        import pandas as pd

        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in oracle_check.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.args.data}/{t}.parquet')"
                )
            for name in order:
                try:
                    got = self.queries[name](self.spark, self.args.data).toPandas()
                except Exception as ex:
                    self.tally.record("check", name, _error(ex))
                    continue
                finally:
                    self.release_caches()
                if self.inject.get(name) == "wrong":
                    got = got.iloc[:-1]
                try:
                    want = con.execute(oracle[name]).fetchdf()
                except Exception as ex:  # no oracle, or DuckDB cannot run it
                    self.tally.record("check", name, "oracle: " + _error(ex))
                    continue
                self.tally.record("check", name, _mismatch(oracle_check.normalize, pd, got, want))
        finally:
            con.close()


def _error(ex: BaseException) -> str:
    return f"{type(ex).__name__}: {str(ex)[:300]}"


def _mismatch(normalize, pd, got, want) -> str | None:
    """``tools/oracle_check.py``'s comparison: column names, row count,
    then exact order-insensitive values."""
    a, b = normalize(got.copy()), normalize(want.copy())
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs oracle {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return f"values differ: {str(ex)[:300]}"
    return None


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def _sum(recs: list[dict[str, float]], key: str) -> float:
    return sum(r.get(key, 0.0) for r in recs)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser(description="one benchmark run (see run.py)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--inject", action="append", default=[],
                    help="test hook: raise:GATE fails GATE's cold run; "
                    "wrong:GATE drops a row of GATE's checked output")
    args = ap.parse_args()
    spawned = float(os.environ.get("PERFBENCH_SPAWN_T", T_START))

    t0 = time.perf_counter()
    import __spark_entry__
    from polars_net_spark import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(os.getcwd(), "warehouse")},
    )
    t2 = time.perf_counter()
    warm_up(spark, args.data)
    t3 = time.perf_counter()
    setup_s = time.time() - spawned

    tracer = counters = None
    if args.trace:
        from spans import Tracer
        from sparkstats import SparkCounters

        tracer = Tracer()
        tracer.install()
        counters = SparkCounters(spark)

    order = list(WORKLOADS[args.workload].gates)
    random.Random(args.seed).shuffle(order)
    run = Run(args, spark, __spark_entry__, tracer, counters, order)
    start = time.perf_counter()
    cold = run.one_pass("cold", order)
    warm = run.one_pass("warm", order)
    measured_s = time.perf_counter() - start
    rss_mb = _jvm_peak_rss_mb(spark)
    run.check(order)
    if tracer is not None:
        tracer.dump(os.path.join(os.getcwd(), "spans.json"))
    _stop_spark(spark)

    def gate_times(recs):
        return [sum(r[p] for p in PHASES) for r in recs]

    gate_s, warm_s = gate_times(cold), gate_times(warm)
    tally = run.tally
    result = {
        "attempted": tally.attempted,
        "failed": tally.failed,
        "failures": tally.failures,
        "order": order,
        "cold_gate_s": dict(zip(order, gate_s)),
        "warm_gate_s": dict(zip(order, warm_s)),
        "measured_s": measured_s,
    }
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "wall_s": sum(gate_s),
            "gate_geomean_s": math.exp(statistics.fmean(math.log(max(s, 1e-6)) for s in gate_s)),
            "warm_wall_s": sum(warm_s),
            "pass_frac": 1.0 - tally.fail_frac,
        }
        result["metrics"] = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    else:
        layers = tracer.layer_totals("cold")
        setup = {"setup.import_s": t1 - t0, "setup.session_s": t2 - t1, "setup.warm_s": t3 - t2}
        m = {}
        for name, unit in PER_LAYER.items():
            layer, _, field = name.rpartition(".")
            if name.startswith("gate.warm_"):
                v = _sum(warm, name[len("gate.warm_"):])
            elif name.startswith("gate."):
                v = _sum(cold, field)
            elif name == "cache.storage_peak_bytes":
                v = max(r[name] for r in cold)
            elif name in setup:
                v = setup[name]
            elif name == "driver_peak_rss_mb":
                v = rss_mb
            elif layer in layers:
                v = layers[layer][field]
            else:
                v = _sum(cold, name)
            m[name] = (v, unit)
        result["metrics"] = m
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
