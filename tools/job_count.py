"""Count Spark driver JOBS a gate submits (plus wall time): the direct
evidence for driver-job-fusion optimizations, which never show in the final
action's plan.  Each gate's guard decisions
(``polars_net_spark._bounded.decisions()``) print next to its job count, so
an A/B shows which path ran.

Jobs are counted from Spark's status store: every job submitted between the
gate's start and end, whatever thread submitted it (a streaming gate's
micro-batches run on the stream's own thread under the stream's job
group).  Each call runs under a fresh job group, so a gate named twice
reports each run's own count.

Usage: python tools/job_count.py [-d SF_DIR] query [query ...]
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
    names = []
    i = 0
    while i < len(args):
        if args[i] == "-d":
            sf_dir = args[i + 1]
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
    for i, name in enumerate(names):
        fn = qs[name]
        sc.setJobGroup(f"probe_{i}_{name}", name)
        _bounded.clear_decisions()
        before = newest_job()
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        sc.setJobGroup(None, None)
        jobs = newest_job() - before
        paths = [
            f"{d['operator']}={d['path']}(n={d['n']}, bound={d['bound']})"
            for d in _bounded.decisions()
        ]
        key = name if name not in out else f"{name}#{i}"
        out[key] = {"jobs": jobs, "sec": dt, "decisions": _bounded.decisions()}
        print(f"{name}: {jobs} jobs, {dt}s, {' '.join(paths) or '-'}", file=sys.stderr)
        release_caches()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
