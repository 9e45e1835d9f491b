"""cell_ranks: every tie-aware rank method from the (key, value) cell table
must equal the row-level window rank — same data, both plans."""

import pyspark.sql.functions as F
from pyspark.sql import Window

from polars_net_spark.operators.distsort import cell_ranks


def _window_ref(sdf, vcol, key):
    w = Window.partitionBy(key).orderBy(F.col(vcol).asc())
    tw = Window.partitionBy(key, vcol)
    return sdf.select(
        "id",
        F.rank().over(w).cast("long").alias("rmin"),
        (F.rank().over(w) + F.count(F.lit(1)).over(tw) - 1).cast("long").alias("rmax"),
        ((2 * F.rank().over(w) + F.count(F.lit(1)).over(tw) - 1) / 2.0).alias("ravg"),
        F.dense_rank().over(w).cast("long").alias("rdense"),
    )


def test_matches_window_ranks(spark):
    rows = [
        (i, "ab"[i % 2], float((i * 13) % 7)) for i in range(200)
    ] + [(1000, "a", 3.0), (1001, "a", 3.0)]  # extra ties
    d = spark.createDataFrame(rows, "id long, k string, v double")
    got = {
        r["id"]: (r["rank_min"], r["rank_max"], r["rank_average"], r["rank_dense"])
        for r in cell_ranks(d, "v", partition_by="k").spark.collect()
    }
    ref = {
        r["id"]: (r["rmin"], r["rmax"], r["ravg"], r["rdense"])
        for r in _window_ref(d, "v", "k").collect()
    }
    assert got == ref


def test_global_and_descending(spark):
    rows = [(i, float(v)) for i, v in enumerate([5, 1, 3, 3, 2, 5])]
    d = spark.createDataFrame(rows, "id long, v double")
    out = {r["id"]: r["rank_min"] for r in cell_ranks(d, "v").spark.collect()}
    assert out == {1: 1, 4: 2, 2: 3, 3: 3, 0: 5, 5: 5}
    outd = {
        r["id"]: r["rank_min"]
        for r in cell_ranks(d, "v", descending=True).spark.collect()
    }
    assert outd == {0: 1, 5: 1, 2: 3, 3: 3, 4: 5, 1: 6}


def test_broadcast_join_plan(spark):
    rows = [(i, "k", float(i % 5)) for i in range(100)]
    d = spark.createDataFrame(rows, "id long, k string, v double")
    plan = (
        cell_ranks(d, "v", partition_by="k")
        .spark._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_nulls_rank_like_the_window(spark):
    rows = [
        (0, "a", None), (1, "a", 2.0), (2, "a", 2.0), (3, "a", None),
        (4, "a", 5.0), (5, "b", None), (6, "b", 1.0),
    ]
    d = spark.createDataFrame(rows, "id long, k string, v double")
    got = {
        r["id"]: (r["rank_min"], r["rank_max"], r["rank_average"], r["rank_dense"])
        for r in cell_ranks(d, "v", partition_by="k").spark.collect()
    }
    ref = {
        r["id"]: (r["rmin"], r["rmax"], r["ravg"], r["rdense"])
        for r in _window_ref(d, "v", "k").collect()
    }
    assert got == ref
    # descending: Spark desc puts NULLs last — cell plan must agree
    wd = Window.partitionBy("k").orderBy(F.col("v").desc())
    refd = {r["id"]: r["r"] for r in d.select(
        "id", F.rank().over(wd).cast("long").alias("r")).collect()}
    gotd = {
        r["id"]: r["rank_min"]
        for r in cell_ranks(d, "v", partition_by="k", descending=True).spark.collect()
    }
    assert gotd == refd


def test_broadcast_guard_falls_back_to_shuffle_join(spark, force_distributed):
    rows = [(i, "k", float(i % 5)) for i in range(100)]
    d = spark.createDataFrame(rows, "id long, k string, v double")
    base = {
        r["id"]: r["rank_min"]
        for r in cell_ranks(d, "v", partition_by="k").spark.collect()
    }
    # a bound below the 5-cell table → plain (non-broadcast) join, same answer
    force_distributed()
    lf = cell_ranks(d, "v", partition_by="k")
    plan = lf.spark._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan
    assert {r["id"]: r["rank_min"] for r in lf.spark.collect()} == base


def test_unknown_method_raises(spark):
    import pytest

    d = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(ValueError, match="unknown rank methods"):
        cell_ranks(d, "v", methods=("min", "median"))
