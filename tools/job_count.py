"""Count the Spark JOBS a gate submits and split its wall time: the direct
evidence for driver-job-fusion optimizations, which never show in the final
action's plan.  Each gate's guard decisions
(``polars_net_spark._bounded.decisions()``) print next to its job count, so
an A/B shows which path ran.

Each run of a gate is split into three phases:

- build: the gate call, including any jobs an operator runs on the driver
- plan: analysis, optimization and physical planning of the returned frame
- exec: the noop-sink run

Jobs are counted from Spark's status store: every job submitted between the
gate's start and end, whatever thread submitted it (a streaming gate's
micro-batches run on the stream's own thread under the stream's job
group).  ``-n RUNS`` repeats each gate in the same session (the first run
is cold, later ones warm), with ``release_caches()`` after every run.
Without query names every gate of ``queries()`` runs; a gate that raises
is recorded with its error and the sweep goes on.

Usage: python tools/job_count.py [-d SF_DIR] [-n RUNS] [query ...]

Prints one line per run on stderr and one JSON object on stdout:
{gate: {"runs": [{jobs, build, plan, exec, sec}, ...], "decisions": [...]}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 1
    names = []
    i = 0
    while i < len(args):
        if args[i] == "-d":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "-n":
            runs = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    import __spark_entry__ as e
    from polars_net_spark import _bounded, get_spark, release_caches

    spark = get_spark(app_name="job_count")
    sc = spark.sparkContext
    spark.range(1).count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    ctx = sc._jsc.sc()

    def newest_job() -> int:
        # after every event posted so far is in the store; newest job first
        ctx.listenerBus().waitUntilEmpty()
        it = ctx.statusStore().jobsList(None).iterator()
        return it.next().jobId() if it.hasNext() else -1

    qs = e.queries()
    out = {}
    for name in names or list(qs):
        rec = out.setdefault(name, {"runs": []})
        for r in range(runs):
            # a fresh job group per run, so a repeated gate never reads an
            # earlier run's jobs
            sc.setJobGroup(f"probe_{len(rec['runs'])}_{name}", name)
            _bounded.clear_decisions()
            before = newest_job()
            try:
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                t1 = time.time()
                df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.time()
            except Exception as ex:  # noqa: BLE001
                rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
                print(f"{name}: ERROR {rec['error']}", file=sys.stderr)
                break
            finally:
                sc.setJobGroup(None, None)
                release_caches()
            run = {
                "jobs": newest_job() - before,
                "build": round(t1 - t0, 3),
                "plan": round(t2 - t1, 3),
                "exec": round(t3 - t2, 3),
                "sec": round(t3 - t0, 3),
            }
            rec["runs"].append(run)
            if r == 0:
                rec["decisions"] = _bounded.decisions()
            paths = [
                f"{d['operator']}={d['path']}(n={d['n']}, bound={d['bound']})"
                for d in _bounded.decisions()
            ]
            print(
                f"{name}: {run['jobs']} jobs, {run['sec']}s (build {run['build']}, "
                f"plan {run['plan']}, exec {run['exec']}), {' '.join(paths) or '-'}",
                file=sys.stderr,
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
