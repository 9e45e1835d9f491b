"""The one distsort shape: ``with_bucket_offsets`` is
``with_range_buckets`` followed by ``with_prefix_offsets``, and calling it
must give the same totals and per-row global cumulant (offset +
within-bucket running sum) as calling the two steps by hand.  The module
also pins the true global cumulant, contiguous bucket ids under heavy ties,
desc offsets with NaN sketch bounds, and empty / all-null / single-bucket
inputs.  (The file name dates from a fused one-job variant of
``with_bucket_offsets``, since removed.)"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_net_spark.operators.distsort import (
    with_bucket_offsets,
    with_prefix_offsets,
    with_range_buckets,
)


def _global_cum(df, gb, value_col, sum_col, off_col, desc=False):
    order = F.col(value_col).desc() if desc else F.col(value_col).asc()
    w = (
        Window.partitionBy(gb)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return {
        r["v"]: r["c"]
        for r in df.select(
            F.col(value_col).alias("v"),
            (F.col(off_col) + F.sum(sum_col).over(w)).alias("c"),
        ).collect()
    }


@pytest.mark.parametrize("desc", [False, True])
def test_fused_matches_two_job_chain(spark, desc):
    # ties, skew (hot value), negatives, one huge outlier
    vals = [1.0] * 50 + [2.5] * 3 + [-7.0] * 10 + [float(i) for i in range(40)] + [9e9]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    cells = sdf.groupBy(F.col("v").alias("__v__")).agg(
        F.count(F.lit(1)).alias("__cnt__")
    )

    b_old, gb_old = with_range_buckets(cells, "__v__", desc=desc, nbuckets=8)
    d_old, tot_old = with_prefix_offsets(b_old, gb_old, {"cnt": F.col("__cnt__")})
    d_new, gb_new, tot_new = with_bucket_offsets(
        cells, "__v__", {"cnt": F.col("__cnt__")}, desc=desc, nbuckets=8
    )

    assert tot_new == tot_old
    cum_old = _global_cum(d_old, gb_old, "__v__", "__cnt__", "__off_cnt__", desc)
    cum_new = _global_cum(d_new, gb_new, "__v__", "__cnt__", "__off_cnt__", desc)
    assert cum_new == cum_old
    # the cumulant must be the true global running count under the ordering
    ordered = sorted(cum_new, reverse=desc)
    running = 0
    counts = {v: vals.count(v) for v in set(vals)}
    for v in ordered:
        running += counts[v]
        assert cum_new[v] == running


def test_fused_multi_sums_and_single_bucket(spark):
    sdf = spark.createDataFrame(
        [(float(i % 7), float(i)) for i in range(100)], "v double, w double"
    )
    out, gb, tot = with_bucket_offsets(
        sdf, "v", {"c": F.lit(1), "w": F.col("w")}, nbuckets=1
    )
    assert tot["c"] == 100
    assert tot["w"] == sum(float(i) for i in range(100))
    # single bucket: offsets are all zero
    rows = out.select("__off_c__", "__off_w__").distinct().collect()
    assert rows == [pytest.approx((0.0, 0.0))] or [
        (r["__off_c__"], r["__off_w__"]) for r in rows
    ] == [(0.0, 0.0)]


def test_fused_empty_and_all_null(spark):
    empty = spark.createDataFrame([], "v double")
    out, gb, tot = with_bucket_offsets(empty, "v", {"c": F.lit(1)}, nbuckets=4)
    assert tot["c"] == 0
    assert out.count() == 0

    nulls = spark.createDataFrame([(None,), (None,)], "v double")
    out2, gb2, tot2 = with_bucket_offsets(nulls, "v", {"c": F.lit(1)}, nbuckets=4)
    # contract says filter nulls upstream, but degenerate input must not
    # blow up: every row lands in bucket 0 with offset 0
    rows = out2.select(gb2, "__off_c__").distinct().collect()
    assert [(r[gb2], r["__off_c__"]) for r in rows] == [(0, 0.0)]


def test_exact_quantiles_multi_matches_single(spark, force_distributed):
    from polars_net_spark.operators.distsort import (
        exact_quantiles,
        exact_quantiles_multi,
    )

    rows = [(float(i % 13) * 1.5, float(i)) for i in range(300)]
    rows += [(None, 4.0), (7.5, None)]
    sdf = spark.createDataFrame(rows, "a double, b double")
    probs = [0.0, 0.25, 0.5, 0.75, 0.99, 1.0]
    multi = exact_quantiles_multi(sdf, {"a": "a", "b": "b"}, probs)
    for c in ("a", "b"):
        single = exact_quantiles(sdf, c, probs)
        assert multi[c] == single, c
    # distributed path parity: force every column past the bound
    force_distributed()
    big = spark.range(5000).selectExpr(
        "cast(id as double) as a", "cast(id % 50 as double) as b"
    )
    m2 = exact_quantiles_multi(big, {"a": "a", "b": "b"}, probs)
    for c in ("a", "b"):
        s2 = exact_quantiles(big, c, probs)
        assert m2[c] == s2, c


def test_pettitt_driver_path_matches_distributed(spark, force_distributed):
    from polars_net_spark.operators.regression import pettitt_test

    rows = []
    # level shift at t=60 plus ties in values and duplicate times
    for t in range(120):
        v = 10.0 + (5.0 if t >= 60 else 0.0) + float(t % 7) * 0.25
        rows.append((float(t), v))
        if t % 10 == 0:
            rows.append((float(t), v + 1.0))  # duplicate time -> avg collapse
    sdf = spark.createDataFrame(rows, "t double, v double")
    drv = pettitt_test(sdf, "t", "v").collect().rows()
    force_distributed()
    dist = pettitt_test(sdf, "t", "v").collect().rows()
    assert drv == dist


def test_fused_bucket_ids_contiguous_under_heavy_ties(spark):
    """Duplicated sketch boundaries must not leave gaps in bucket ids:
    ±1-neighbor consumers (with_halo_buckets) depend on contiguity along
    the value axis — the r13 rmst/sessionize regression."""
    sdf = spark.createDataFrame(
        [(5.0,)] * 40 + [(10.0,)] * 40 + [(20.0,)] * 40, "v double"
    )
    out, gb, _tot = with_bucket_offsets(sdf, "v", {"c": F.lit(1)}, nbuckets=32)
    ids = sorted(r[gb] for r in out.select(gb).distinct().collect())
    assert ids == list(range(len(ids)))


def test_fused_desc_offsets_with_nan_scores(spark):
    """NaN scores put several NaN bounds in the sketch.  The live bucket id
    counts them once (array_distinct), so the literal ids must as well:
    with a NaN kept per sketch slot, every desc id (NaN > x in Spark) was
    shifted and the offsets were read against the wrong buckets — the
    gains_chart / average_precision / qini / abc / bh_adjust shape."""
    nan = float("nan")
    vals = [float(i % 17) for i in range(60)] + [nan] * 60
    sdf = spark.createDataFrame([(v,) for v in vals], "s double")
    out, gb, tot = with_bucket_offsets(
        sdf, "s", {"c": F.lit(1)}, desc=True, nbuckets=8
    )
    assert tot["c"] == len(vals)
    w = Window.partitionBy(gb).orderBy(F.col("s").desc())
    ranks = sorted(
        r["r"]
        for r in out.select(
            (F.col("__off_c__") + F.row_number().over(w)).cast("long").alias("r")
        ).collect()
    )
    # a global desc rank: each position exactly once
    assert ranks == list(range(1, len(vals) + 1))
