"""The plain-scan spread guard and bench.py's min-of-N selection."""

import pytest
from pyspark.sql import functions as F

import bench
from polars_net_spark._spread import spread_plain_scan


def test_best_of_keeps_every_failure_visible():
    assert bench.best_of([1.5]) == 1.5
    assert bench.best_of([None]) == -1.0
    assert bench.best_of([2.0, 1.25, 3.0]) == 1.25
    # a later success must not overwrite an earlier failure, nor the reverse
    assert bench.best_of([None, 0.5]) == -1.0
    assert bench.best_of([0.5, None]) == -1.0


@pytest.mark.parametrize("name", ["WindowStart", "JoinKey", "Aggregated", "RepartitionId"])
def test_spread_ignores_column_names(spark, name):
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("needs more than one default partition")
    sdf = spark.range(0, 100, 1, 1).withColumnRenamed("id", name).filter(F.col(name) > 3)
    assert spread_plain_scan(sdf).rdd.getNumPartitions() == par


def test_spread_skips_wide_plans(spark):
    sdf = spark.range(0, 100, 1, 1).groupBy((F.col("id") % 3).alias("k")).count()
    assert spread_plain_scan(sdf) is sdf
