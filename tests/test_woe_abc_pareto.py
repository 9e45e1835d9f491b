"""Tests for woe_iv_report, abc_analysis, and pareto_front (q255-q257)."""

import math

import pytest

from polars_net_spark.operators.analytics import abc_analysis, pareto_front
from polars_net_spark.operators.regression import woe_iv_report


def rows(lf):
    return lf.collect().rows()


class TestWoeIv:
    def test_symmetric_split(self, spark):
        data = [("hi", 1)] * 8 + [("hi", 0)] * 2 + [("lo", 1)] * 2 + [("lo", 0)] * 8
        df = spark.createDataFrame(data, "c string, y int")
        out = {r[0]: r for r in rows(woe_iv_report(df, "c", "y"))}
        pe, pne = 8.5 / 10.5, 2.5 / 10.5
        assert out["hi"][3] == pytest.approx(math.log(pe / pne), abs=1e-6)
        assert out["lo"][3] == pytest.approx(-math.log(pe / pne), abs=1e-6)
        assert out["hi"][4] == out["lo"][4]  # symmetric IV terms

    def test_zero_cell_smoothing_finite(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 0)], "c string, y int"
        )
        out = {r[0]: r for r in rows(woe_iv_report(df, "c", "y"))}
        assert all(math.isfinite(r[3]) for r in out.values())

    def test_uninformative_feature_near_zero_iv(self, spark):
        data = [("a", 1), ("a", 0), ("b", 1), ("b", 0)]
        df = spark.createDataFrame(data, "c string, y int")
        out = rows(woe_iv_report(df, "c", "y"))
        assert sum(r[4] for r in out) == pytest.approx(0.0, abs=1e-9)


class TestAbc:
    def test_classes_and_crossing_convention(self, spark):
        df = spark.createDataFrame(
            [("a", 50.0), ("b", 30.0), ("c", 15.0), ("d", 5.0)], "k string, v double"
        )
        out = {r[0]: r for r in rows(abc_analysis(df, "k", "v"))}
        assert out["a"][4] == "A" and out["b"][4] == "A"  # b CROSSES 0.8 -> A
        assert out["c"][4] == "B" and out["d"][4] == "C"
        assert [out[k][2] for k in "abcd"] == [1, 2, 3, 4]
        assert out["d"][3] == 1.0

    def test_rows_collapse_to_keys(self, spark):
        df = spark.createDataFrame(
            [("a", 10.0), ("a", 40.0), ("b", 50.0)], "k string, v double"
        )
        out = {r[0]: r for r in rows(abc_analysis(df, "k", "v"))}
        assert out["a"][1] == 50.0 and out["b"][1] == 50.0
        assert {out["a"][2], out["b"][2]} == {1, 2}  # deterministic tie ranks

    def test_bad_thresholds(self, spark):
        df = spark.createDataFrame([("a", 1.0)], "k string, v double")
        with pytest.raises(ValueError):
            abc_analysis(df, "k", "v", thresholds=(0.9, 0.8))


class TestParetoFront:
    def test_skyline(self, spark):
        pts = [(1.0, 5.0), (2.0, 4.0), (3.0, 3.0), (1.0, 4.0), (0.5, 5.0), (2.5, 2.0)]
        df = spark.createDataFrame(pts, "x double, y double")
        out = sorted(rows(pareto_front(df, "x", "y")))
        assert out == [(1.0, 5.0), (2.0, 4.0), (3.0, 3.0)]

    def test_duplicates_of_frontier_point_stay(self, spark):
        df = spark.createDataFrame(
            [(1.0, 1.0), (1.0, 1.0), (0.5, 0.5)], "x double, y double"
        )
        out = rows(pareto_front(df, "x", "y"))
        assert len(out) == 2 and all(r == (1.0, 1.0) for r in out)

    def test_single_dominator(self, spark):
        df = spark.createDataFrame(
            [(5.0, 5.0), (1.0, 4.0), (4.0, 1.0)], "x double, y double"
        )
        assert rows(pareto_front(df, "x", "y")) == [(5.0, 5.0)]

    def test_extra_columns_survive(self, spark):
        df = spark.createDataFrame(
            [("p", 1.0, 2.0), ("q", 2.0, 1.0), ("r", 1.0, 1.0)],
            "id string, x double, y double",
        )
        ids = {r[0] for r in rows(pareto_front(df, "x", "y"))}
        assert ids == {"p", "q"}

    def test_matches_brute_force_across_buckets(self, spark):
        # 320 points over 40 tied x values (8 rows each, repeated max-y
        # rows): frontier groups sit in every one of the session's 8 range
        # buckets, and the first group of each bucket is decided by the
        # prefix-max carried over the larger-x buckets
        pts = [
            (float(i % 40), float(39 - i % 40 + 3 * (i % 40 * 7 % 3) + (i * 29) % 7 // 5))
            for i in range(320)
        ]
        df = spark.createDataFrame(pts, "x double, y double")
        ref = sorted(
            (x, y)
            for x, y in pts
            if not any(
                a >= x and b >= y and (a > x or b > y) for a, b in pts
            )
        )
        out = sorted(rows(pareto_front(df, "x", "y")))
        assert len(ref) > 8
        assert out == ref
