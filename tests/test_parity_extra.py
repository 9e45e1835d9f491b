"""Additional reference-parity fixtures: timezone wall-clock invariants (F9),
join/asof edge cases, remaining frame/expr/series behaviors."""

import datetime as dt

import pytest

import polars_net_spark as pl
from polars_net_spark import Series, col, lit
from polars_net_spark.testing import assert_frame_equal


# -- F9 timezone wall-clock invariants (DataTypeTests.cs:254-324) -------------


def test_tz_roundtrip_wall_clock(spark):
    # a Tokyo wall-clock reinterpreted as UTC instant and converted back must
    # show the original wall-clock
    wall = dt.datetime(2024, 6, 1, 9, 30, 0)
    df = pl.from_records([(wall,)], ["ts"])
    as_utc_instant = df.select(col("ts").dt.replace_time_zone("Asia/Tokyo").alias("t"))
    back = as_utc_instant.select(col("t").dt.convert_time_zone("Asia/Tokyo").alias("w"))
    assert back.rows()[0][0] == wall
    # and the instant itself is 9h earlier in UTC
    assert as_utc_instant.rows()[0][0] == dt.datetime(2024, 6, 1, 0, 30, 0)


def test_tz_convert_preserves_instant(spark):
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    df = pl.from_records([(t,)], ["ts"])
    ny = df.select(col("ts").dt.convert_time_zone("America/New_York").alias("w"))
    tokyo = df.select(col("ts").dt.convert_time_zone("Asia/Tokyo").alias("w"))
    # wall-clock difference NY↔Tokyo in winter = 14h
    delta = tokyo.rows()[0][0] - ny.rows()[0][0]
    assert delta == dt.timedelta(hours=14)


# -- joins / asof edges -------------------------------------------------------


def test_join_custom_suffix(spark):
    a = pl.from_records([(1, "x")], ["k", "v"])
    b = pl.from_records([(1, "y")], ["k", "v"])
    out = a.join(b, on="k", suffix="_b")
    assert out.columns == ["k", "v", "v_b"]


def test_asof_tolerance_duration_string(spark):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = pl.from_records([(base,)], ["t"])
    right = pl.from_records(
        [(base - dt.timedelta(minutes=90), "old"), (base - dt.timedelta(minutes=20), "recent")],
        ["t", "v"],
    )
    within = left.join_asof(right, on="t", tolerance="30m")
    assert within.rows()[0][1] == "recent"
    narrow = left.join_asof(right, on="t", tolerance="10m")
    assert narrow.rows()[0][1] is None


def test_asof_no_by_numeric(spark):
    left = pl.from_records([(10.5,), (99.0,)], ["t"])
    right = pl.from_records([(10.0, "a"), (50.0, "b")], ["t", "v"])
    out = left.join_asof(right, on="t")
    assert {r[0]: r[1] for r in out.rows()} == {10.5: "a", 99.0: "b"}


def test_full_join_null_keys_unmatched(spark):
    a = pl.from_records([(None, 1)], "k long, va long")
    b = pl.from_records([(None, 2)], "k long, vb long")
    out = a.join(b, on="k", how="full")
    assert out.height == 2  # null keys never match → both sides dangle


# -- frame / expr extras ------------------------------------------------------


def test_with_columns_kwargs(people):
    out = people.with_columns(double_sal=col("salary") * 2)
    assert out.filter(col("name") == "Bob").rows()[0][-1] == 400.0


def test_unique_keep_last(spark):
    df = pl.from_records([(1, "a"), (1, "b")], ["k", "v"])
    kept = df.unique(subset=["k"], keep="last")
    assert kept.rows() == [(1, "b")]


def test_sort_nulls_last(spark):
    df = pl.from_records([(None,), (2,), (1,)], ["x"])
    out = df.sort("x", nulls_last=True)
    assert [r[0] for r in out.rows()] == [1, 2, None]
    out_desc = df.sort("x", descending=True, nulls_last=True)
    assert [r[0] for r in out_desc.rows()] == [2, 1, None]


def test_item_out_of_range(people):
    with pytest.raises(IndexError):
        people.item(99, "name")


def test_describe_requires_numeric(spark):
    df = pl.from_records([("a",)], ["s"])
    with pytest.raises(ValueError):
        df.describe()


def test_floor_div_negative(spark):
    # floor semantics (not truncation): -7 // 2 == -4
    df = pl.from_records([(-7, 2)], ["a", "b"])
    assert df.select((col("a") // col("b")).alias("f")).rows()[0][0] == -4


def test_fill_null_with_expr(spark):
    df = pl.from_records([(None, 5.0), (2.0, 9.0)], ["x", "y"])
    out = df.select(col("x").fill_null(col("y")).alias("f"))
    assert [r[0] for r in out.rows()] == [5.0, 2.0]


def test_shift_negative_is_lead(spark):
    df = pl.from_records([(1, "a"), (2, "b"), (3, "c")], ["i", "v"])
    out = df.select(col("i"), col("v").shift(-1, order_by=[col("i")]).alias("nxt")).sort("i")
    assert [r[1] for r in out.rows()] == ["b", "c", None]


def test_series_truediv_and_comparisons(spark):
    s = Series("x", [2.0, 4.0])
    assert (s / 2).to_list() == [1.0, 2.0]
    assert s.lt_eq(2.0).to_list() == [True, False]
    assert s.neq(4.0).to_list() == [True, False]


def test_assert_frame_equal_helper(people):
    assert_frame_equal(people, people.sort("age"))
    shuffled_cols = people.select(col("salary"), col("name"), col("age"))
    with pytest.raises(AssertionError):
        assert_frame_equal(people, shuffled_cols)
    assert_frame_equal(people, shuffled_cols, check_column_order=False)


def test_dynamic_offset_and_datapoint_label(spark):
    base = dt.datetime(2024, 1, 1, 10, 7)
    f = pl.from_records(
        [(base + dt.timedelta(minutes=10 * i), i) for i in range(4)], ["Time", "Val"]
    )
    out = (
        f.lazy()
        .group_by_dynamic("Time", every="30m", offset="5m", label="datapoint")
        .agg(col("Val").len().alias("n"))
        .collect()
    )
    # label=datapoint → index is the first point of each bucket (a real data ts)
    idx = sorted(r[0] for r in out.rows())
    assert idx[0] == base


def test_group_by_dynamic_by_keys(spark):
    base = dt.datetime(2024, 1, 1, 10, 0)
    rows = [(base + dt.timedelta(minutes=10 * i), "a" if i % 2 == 0 else "b", 1) for i in range(6)]
    f = pl.from_records(rows, ["Time", "k", "Val"])
    out = (
        f.lazy()
        .group_by_dynamic("Time", every="1h", group_by=["k"])
        .agg(col("Val").len().alias("n"))
        .collect()
    )
    d = {r[0]: r[2] for r in out.rows()}
    assert d == {"a": 3, "b": 3}


def test_rolling_min_max(spark):
    df = pl.from_records([(i, float(i % 3)) for i in range(5)], ["i", "x"])
    out = df.select(
        col("i"),
        col("x").rolling_min(2, min_periods=1, order_by=[col("i")]).alias("mn"),
        col("x").rolling_max(2, min_periods=1, order_by=[col("i")]).alias("mx"),
    ).sort("i")
    rows = out.rows()
    assert [r[1] for r in rows] == [0.0, 0.0, 1.0, 0.0, 0.0]
    assert [r[2] for r in rows] == [0.0, 1.0, 2.0, 2.0, 1.0]


def test_backward_fill_limit(spark):
    df = pl.from_records([(1, None), (2, None), (3, 9.0)], ["i", "x"])
    out = df.select(col("i"), col("x").backward_fill(limit=1, order_by=[col("i")]).alias("b")).sort("i")
    assert [r[1] for r in out.rows()] == [None, 9.0, 9.0]


def test_streaming_parquet_sink(spark, tmp_path):
    from pyspark.sql import types as T

    from polars_net_spark.streaming import scan_stream_parquet

    schema = T.StructType([T.StructField("v", T.LongType(), True)])
    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], schema).write.parquet(src)
    sf = scan_stream_parquet(src, schema, spark=spark)
    out_dir = str(tmp_path / "out")
    q = sf.write_parquet(out_dir, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    q.stop()
    assert pl.scan_parquet(out_dir, spark=spark).collect().height == 2


def test_cosine_topk_expr_equals_numpy(spark, force_distributed):
    from polars_net_spark.frame import LazyFrame
    from polars_net_spark.llm import cosine_topk
    from pyspark.sql import functions as F

    e = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 3))
    a = sorted(cosine_topk(e, q, k=3).collect().rows())
    force_distributed()  # the broadcast-join (expr) path
    b = sorted(cosine_topk(e, q, k=3).collect().rows())
    assert a == b


def _cross_join_pairs(sdf, threshold, round_to=6):
    """The O(n²) Column-expression reference for embedding_near_dup_pairs:
    every id_a < id_b pair of a crossJoin, cosine rounded, then
    thresholded."""
    from pyspark.sql import functions as F

    def norm(v):
        return F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
        )

    base = sdf.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), norm(F.col("v")).alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), norm(F.col("v")).alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), round_to))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def test_embedding_pairs_expr_equals_numpy(spark):
    from polars_net_spark.llm import embedding_near_dup_pairs

    e = pl.scan_parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(embedding_near_dup_pairs(e, threshold=0.45).collect().rows())
    b = sorted(tuple(r) for r in _cross_join_pairs(e._sdf, 0.45).collect())
    assert a == b


# -- round-2 ADVICE regression tests ------------------------------------------


def test_unique_maintain_order(spark):
    df = pl.from_records(
        [(3, "c"), (1, "a"), (3, "x"), (2, "b"), (1, "z")], ["k", "v"]
    )
    out = df.lazy().unique(subset=["k"], keep="first", maintain_order=True).collect()
    # first appearance of each key, in original row order
    assert out.rows() == [(3, "c"), (1, "a"), (2, "b")]
    out_any = df.lazy().unique(subset=["k"], maintain_order=True).collect()
    assert out_any.rows() == [(3, "c"), (1, "a"), (2, "b")]


def test_list_get_strict_null_element_ok(spark):
    import pyspark.sql.functions as F

    df = pl.from_records([([1, None, 3],)], ["xs"])
    # in-bounds null element must NOT raise with null_on_oob=False
    out = df.select(pl.col("xs").list.get(1, null_on_oob=False).alias("e")).rows()
    assert out == [(None,)]
    # genuinely out of bounds must raise
    import pytest as _pytest

    with _pytest.raises(Exception):
        df.select(pl.col("xs").list.get(9, null_on_oob=False).alias("e")).rows()


def test_explode_mismatched_lengths_raises(spark):
    import pytest as _pytest

    df = pl.from_records([([1, 2], ["a"])], ["xs", "ys"])
    with _pytest.raises(Exception):
        df.lazy().explode("xs", "ys").collect().rows()
    ok = pl.from_records([([1, 2], ["a", "b"])], ["xs", "ys"])
    assert ok.lazy().explode("xs", "ys").collect().rows() == [(1, "a"), (2, "b")]


def test_scan_csv_try_parse_dates_dtype(spark, tmp_path):
    p = str(tmp_path / "d.csv")
    with open(p, "w") as f:
        f.write("d,t,s\n2024-01-02,2024-01-02 03:04:05,hello\n2024-02-03,2024-02-03 10:00:00,world\n")
    lf = pl.scan_csv(p, has_header=True, try_parse_dates=True)
    dt = dict(lf._sdf.dtypes)
    assert dt["d"] == "date"
    assert dt["t"] == "timestamp"
    assert dt["s"] == "string"


def test_decimal_series_roundtrip(spark):
    """i128 Decimal parity (reference native_shim/src/series.rs:138-170):
    emulated via Spark DecimalType — construct, aggregate, round-trip."""
    from decimal import Decimal

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amt", T.DecimalType(38, 10)),
    ])
    rows = [(1, Decimal("12345678901234567.1234567890")),
            (2, Decimal("-0.0000000001")),
            (3, Decimal("99999999999999999999999999.9999999999"))]
    df = pl.from_records(rows, schema)
    got = dict(df.lazy().select(pl.col("id"), pl.col("amt")).collect().rows())
    assert got[1] == Decimal("12345678901234567.1234567890")
    assert got[2] == Decimal("-0.0000000001")
    assert got[3] == Decimal("99999999999999999999999999.9999999999")
    total = df.lazy().select(pl.col("amt").sum().alias("s")).collect().rows()[0][0]
    import decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 50  # Spark decimal sums are exact; match that precision
        expected = sum(r[1] for r in rows)
    assert total == expected
    # parquet round-trip preserves scale/precision
    import tempfile, os, shutil
    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "dec.parquet")
        df.lazy().sink_parquet(p)
        back = pl.scan_parquet(p).collect()
        assert dict(back.rows())[3] == got[3]
        assert dict(back.lazy()._sdf.dtypes)["amt"] == "decimal(38,10)"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_time_of_day_codec_roundtrip(spark):
    """Time-of-day codec parity (reference native_shim/src/datatypes.rs:69):
    time emulated as i64 nanoseconds-since-midnight; verify the ns↔clock
    mapping and its inverse survive a frame round-trip."""
    ns = [0, 3_600_000_000_000, 86_399_999_999_999]  # 00:00, 01:00, 23:59:59.999999999
    df = pl.from_records([(i, v) for i, v in enumerate(ns)], ["id", "t_ns"])
    out = df.lazy().with_columns(
        (pl.col("t_ns") // 3_600_000_000_000).alias("hh"),
        ((pl.col("t_ns") % 3_600_000_000_000) // 60_000_000_000).alias("mm"),
        ((pl.col("t_ns") % 60_000_000_000) // 1_000_000_000).alias("ss"),
        (pl.col("t_ns") % 1_000_000_000).alias("nanos"),
    ).collect()
    rows = {r[0]: r for r in out.rows()}
    assert (rows[0][2], rows[0][3], rows[0][4], rows[0][5]) == (0, 0, 0, 0)
    assert (rows[1][2], rows[1][3]) == (1, 0)
    assert (rows[2][2], rows[2][3], rows[2][4], rows[2][5]) == (23, 59, 59, 999_999_999)
    # inverse: rebuild ns from parts
    back = out.lazy().with_columns(
        (pl.col("hh") * 3_600_000_000_000 + pl.col("mm") * 60_000_000_000
         + pl.col("ss") * 1_000_000_000 + pl.col("nanos")).alias("rebuilt")
    ).collect()
    assert all(r[1] == r[6] for r in back.rows())
