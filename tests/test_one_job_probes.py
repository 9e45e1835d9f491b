"""Driver-side probes cost one Spark job each.

(a) No module in ``polars_net_spark/`` counts a ``.limit(...)`` result
    with ``.count()``: that aggregates through a shuffle, a second job
    under adaptive execution.  An emptiness probe is ``isEmpty()``; a
    bounded size probe is ``full_count(x.limit(k + 1))``.
(b) ``_bounded.bounded`` counts its freshly persisted input in one job,
    and that job fills the cache: a later count reads it without
    evaluating the input again.
(c) The distributed min-label loop of the components operators probes
    each round for changed labels in one job.
"""

import ast
import os

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from polars_net_spark import _bounded, release_caches
from polars_net_spark.operators import graph

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "polars_net_spark")


def _limit_counts():
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "count"
                    and isinstance(node.func.value, ast.Call)
                    and isinstance(node.func.value.func, ast.Attribute)
                    and node.func.value.func.attr == "limit"
                ):
                    found.append((os.path.relpath(path, PKG), node.lineno))
    return found


def test_no_count_of_a_limit():
    assert _limit_counts() == []


class _Jobs:
    """Job ids Spark submitted under one job group, read after the listener
    bus has delivered every event posted so far."""

    def __init__(self, sc, group):
        self.sc, self.group = sc, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setJobGroup(None, None)
        return False

    def ids(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))


def test_bounded_counts_in_one_job_that_fills_the_cache(spark):
    sc = spark.sparkContext
    evaluated = sc.accumulator(0)

    def tally(x):
        evaluated.add(1)
        return x

    # a Python UDF so that every evaluation of an input row is counted
    sdf = spark.range(0, 1000, 1, 4).select(F.udf(tally, LongType())("id").alias("v"))
    try:
        with _Jobs(sc, "bounded_one_job") as jobs:
            guarded = _bounded.bounded(sdf, "probe")
            assert len(jobs.ids()) == 1
        assert guarded.n == 1000
        assert evaluated.value == 1000
        assert guarded.frame.count() == 1000
        assert evaluated.value == 1000  # read from the cache, not rebuilt
    finally:
        release_caches()


def test_components_round_probe_is_one_job(spark, monkeypatch):
    sc = spark.sparkContext
    monkeypatch.setattr(_bounded, "BOUND", 0)  # the distributed loop
    real = graph.full_count
    probes = []

    with _Jobs(sc, "components_rounds") as jobs:

        def probe(sdf):
            before = jobs.ids()
            n = real(sdf)
            probes.append(len(jobs.ids() - before))
            return n

        monkeypatch.setattr(graph, "full_count", probe)
        chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
        out = graph.connected_components(chain).collect().rows()
    release_caches()

    assert sorted(out) == [(i, 0) for i in range(7)]
    # path halving needs more than one round on a 7-vertex chain, and the
    # last round finds no label changed
    assert len(probes) >= 2
    assert probes == [1] * len(probes)
