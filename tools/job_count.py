"""Count Spark driver JOBS a gate submits (plus wall time): the direct
evidence for driver-job-fusion optimizations, which never show in the final
action's plan.  Each gate's guard decisions
(``polars_net_spark._bounded.decisions()``) print next to its job count, so
an A/B shows which path ran.

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

    qs = e.queries()
    out = {}
    for name in names:
        fn = qs[name]
        group = f"probe_{name}"
        sc.setJobGroup(group, name)
        _bounded.clear_decisions()
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        paths = [
            f"{d['operator']}={d['path']}(n={d['n']}, bound={d['bound']})"
            for d in _bounded.decisions()
        ]
        out[name] = {"jobs": len(jobs), "sec": dt, "decisions": _bounded.decisions()}
        print(f"{name}: {len(jobs)} jobs, {dt}s, {' '.join(paths) or '-'}", file=sys.stderr)
        release_caches()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
