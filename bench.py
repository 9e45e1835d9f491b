"""Benchmark harness: runs the engine's query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion through the `noop` sink: every output row
and column is fully computed (a bare count() would let Catalyst prune the
projections), but results never leave the executors — timing measures
compute + shuffle, not driver transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def best_of(runs: "list[float | None]") -> float:
    """One query's recorded time over its runs (``None`` = a failed run):
    the fastest run, or -1.0 if ANY run failed — a later success must never
    hide an earlier failure from ``n_failed``."""
    if not runs or any(r is None for r in runs):
        return -1.0
    return min(runs)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    import __spark_entry__ as e
    from polars_net_spark import get_spark

    spark = get_spark(app_name="polars_net_spark_bench")

    timings: dict[str, float] = {}
    qs = e.queries()
    # warm the JVM, codegen, and the parquet file index so q1 isn't charged
    # for one-time session startup
    spark.range(1).count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # r12: also warm the one-time session machinery the first unlucky query
    # used to absorb (measured ~7 s of pool-spawn landing on whichever gate
    # ran a wide Python stage first): spawn the full Python worker pool with
    # the common imports, and JIT one shuffle+join+aggregate path.  Synthetic
    # range data only — no query input is touched.
    def _warm_workers(it):
        import numpy as _np  # noqa: F401
        import pandas as _pd  # noqa: F401
        import pyarrow as _pa  # noqa: F401
        for b in it:
            yield b

    par = spark.sparkContext.defaultParallelism
    spark.range(par * 2).repartition(par).mapInArrow(
        _warm_workers, "id long"
    ).write.format("noop").mode("overwrite").save()
    a = spark.range(10_000).selectExpr("id % 97 as k", "id as v")
    (a.join(a.groupBy("k").count(), "k")
      .groupBy("k").agg({"v": "sum"})
      .write.format("noop").mode("overwrite").save())
    from polars_net_spark import release_caches

    # r13, noise robustness (opt-in, declared): $SPARK_GRAFT_BENCH_RUNS > 1
    # makes each query's recorded time the MIN of N back-to-back cold-plan
    # runs in this one session — the same methodology per run (fresh plan,
    # noop sink, caches released between runs), so a host stall inflates a
    # single run instead of the committed number.  Default 1 keeps the
    # single-pass driver contract bit-for-bit.
    try:
        n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1")))
    except ValueError:
        n_runs = 1
    if n_runs > 1:
        print(f"# bench: per-query min-of-{n_runs} (SPARK_GRAFT_BENCH_RUNS)",
              file=sys.stderr, flush=True)

    for name, fn in qs.items():
        print(f"# bench start {name}", file=sys.stderr, flush=True)
        runs: list[float | None] = []
        for _ in range(n_runs):
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            except Exception as ex:  # record failures distinctly, keep going
                runs.append(None)
                print(f"# bench error {name}: {type(ex).__name__}: {str(ex)[:200]}", file=sys.stderr)
            finally:
                # operator-internal persists are per-query staging; release so
                # one query's cached blocks never skew the next run's budget
                release_caches()
        timings[name] = best_of(runs)
        if timings[name] >= 0:
            print(f"# bench done  {name} {timings[name]}s", file=sys.stderr, flush=True)

    ok_timings = [t for t in timings.values() if t >= 0]
    total = round(sum(ok_timings), 3)
    # queries dict FIRST, summary scalars LAST: the driver's capture keeps the
    # TAIL of the line when it truncates, so ordering the small fields at the
    # end guarantees metric/value/n_failed always survive truncation
    payload = {
        "queries": timings,
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_failed": len(timings) - len(ok_timings),
        "sec_per_query": round(total / max(len(ok_timings), 1), 3),
        "sf": sf,
    }
    print(json.dumps(payload, separators=(",", ":")))
    # committed artifact with ALL per-query times (the driver's BENCH_r{N}.json
    # has been observed tail-truncated); same JSON, pretty-printed
    try:
        # default-SF runs own BENCH_local.json; other scales write a tagged
        # file so a slope run can never clobber the committed sf0.1 record
        name = "BENCH_local.json" if abs(sf - 0.1) < 1e-9 else f"BENCH_local_sf{sf}.json"
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "w") as f:
            json.dump(payload, f, indent=2)
    except OSError:
        pass  # read-only checkout: stdout line is still the contract


if __name__ == "__main__":
    main()
