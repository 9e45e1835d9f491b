"""Round-7 operators: KMV / count-min sketches, MAD outliers, log-rank
test, Zipf fit, profile drift diff, Holt forecast, Bradley-Terry."""

import pytest

from pyspark.sql import functions as F


def rows(lf):
    return [tuple(r) for r in lf.collect().rows()]


class TestKmv:
    def test_exact_under_k(self, spark):
        from polars_net_spark.operators.sketches import kmv_distinct

        d = spark.range(50).selectExpr("id as v")
        assert rows(kmv_distinct(d, "v", k=256)) == [(50, 50)]

    def test_estimate_within_error(self, spark):
        from polars_net_spark.operators.sketches import kmv_distinct

        d = spark.range(100_000).selectExpr("id % 20000 as v")
        (_, est), = rows(kmv_distinct(d, "v", k=512))
        # se ~ 1/sqrt(k-2) ~ 4.4%; allow 4 sigma
        assert abs(est - 20000) / 20000 < 0.18

    def test_keyed_and_deterministic(self, spark):
        from polars_net_spark.operators.sketches import kmv_distinct

        d = spark.range(5000).selectExpr("id % 997 as v", "id % 3 as g")
        a = sorted(rows(kmv_distinct(d, "v", by="g", k=64)))
        b = sorted(rows(kmv_distinct(d.repartition(13), "v", by="g", k=64)))
        assert a == b and len(a) == 3
        for _, n, est in a:
            assert n == 64 and est > 0

    def test_k_validation(self, spark):
        from polars_net_spark.operators.sketches import kmv_distinct

        with pytest.raises(ValueError):
            kmv_distinct(spark.range(3), "id", k=1)


class TestCms:
    def test_overestimate_bound_and_hits(self, spark):
        from polars_net_spark.operators.sketches import cms_build, cms_query

        d = spark.range(2000).selectExpr("id % 100 as v")
        sk = cms_build(d, "v", depth=4, width=4096)
        q = spark.createDataFrame([(0,), (5,), (777,)], "v long")
        out = dict(
            (r[0], r[1]) for r in rows(cms_query(sk, q, "v", depth=4, width=4096))
        )
        # wide sketch, 100 distinct values: collisions vanishingly rare
        assert out[0] == 20 and out[5] == 20
        assert out[777] >= 0  # unseen value: min cell may be 0 or a collision
        # CMS never underestimates
        assert all(v >= 0 for v in out.values())

    def test_sketch_size_bounded(self, spark):
        from polars_net_spark.operators.sketches import cms_build

        d = spark.range(10_000).selectExpr("id as v")
        sk = cms_build(d, "v", depth=3, width=64)
        n = sk.spark.count()
        assert n <= 3 * 64
        total = sk.spark.agg(F.sum("cnt")).first()[0]
        assert total == 3 * 10_000  # each value hits every row once


class TestMadOutliers:
    def test_flags_outlier_keyed(self, spark):
        from polars_net_spark.operators.analytics import mad_outliers

        d = spark.createDataFrame(
            [("a", float(v)) for v in [10, 11, 12, 10, 11, 12, 10, 50]],
            ["g", "x"],
        )
        out = {(r[0], r[1]): (r[2], r[3]) for r in rows(mad_outliers(d, "x", by="g"))}
        assert out[("a", 50.0)][1] is True
        assert all(not flag for (g, x), (_, flag) in out.items() if x != 50.0)

    def test_zero_mad_convention(self, spark):
        from polars_net_spark.operators.analytics import mad_outliers

        d = spark.createDataFrame([(5.0,)] * 6 + [(9.0,)], "x double")
        out = rows(mad_outliers(d, "x"))
        # >= half at the median -> MAD 0 -> null z, nothing flagged
        assert all(r[1] is None and r[2] is False for r in out)

    def test_global_plan_no_data_sized_single_partition_window(self, spark):
        from polars_net_spark.operators.analytics import mad_outliers

        d = spark.range(100).selectExpr("cast(id as double) as x")
        lf = mad_outliers(d, "x")
        plan = lf.spark._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan  # medians are aggregates, no window at all


class TestLogRank:
    def test_identical_groups_zero(self, spark):
        from polars_net_spark.operators.analytics import log_rank_test

        r = [("a", t, 1) for t in [1, 2, 3, 4, 5]] + [
            ("b", t, 1) for t in [1, 2, 3, 4, 5]
        ]
        d = spark.createDataFrame(r, ["g", "t", "e"])
        (n, g1, o1, e1, var, chi2), = rows(log_rank_test(d, "t", "e", "g"))
        assert n == 10 and g1 == "a" and chi2 == 0.0 and o1 == 5 and e1 == 5.0

    def test_hand_computed_separated(self, spark):
        from polars_net_spark.operators.analytics import log_rank_test

        r = [("a", t, 1) for t in [1, 1, 2, 2, 3]] + [
            ("b", t, 1) for t in [8, 9, 9, 10, 11]
        ]
        d = spark.createDataFrame(r, ["g", "t", "e"])
        (n, g1, o1, e1, var, chi2), = rows(log_rank_test(d, "t", "e", "g"))
        # hand computation: E1 = 1 + 0.75 + 1/6; V = 4/9*... (see docstring)
        assert o1 == 5
        assert e1 == pytest.approx(1.916667, abs=1e-6)
        assert var == pytest.approx(0.985119, abs=1e-6)
        assert chi2 == pytest.approx(9.650554, abs=1e-5)

    def test_censoring_reduces_at_risk(self, spark):
        from polars_net_spark.operators.analytics import log_rank_test

        # censored subjects count in at-risk until their time, add no events
        r = [("a", 1, 1), ("a", 2, 0), ("b", 3, 1), ("b", 4, 0)]
        d = spark.createDataFrame(r, ["g", "t", "e"])
        (n, g1, o1, e1, var, chi2), = rows(log_rank_test(d, "t", "e", "g"))
        assert n == 4 and o1 == 1
        # t=1: n1=2, n=4 -> E1 += 0.5 ; t=3: n1=0, n=2 -> E1 += 0
        assert e1 == pytest.approx(0.5)

    def test_requires_two_groups(self, spark):
        from polars_net_spark.operators.analytics import log_rank_test

        d = spark.createDataFrame([("a", 1, 1)], ["g", "t", "e"])
        with pytest.raises(ValueError, match="exactly 2 groups"):
            log_rank_test(d, "t", "e", "g")


class TestZipf:
    def test_recovers_slope_minus_one(self, spark):
        from polars_net_spark.llm.text import zipf_fit

        words = []
        for i in range(1, 101):
            words += [f"w{i:03d}"] * max(1, 1000 // i)
        d = spark.createDataFrame([(" ".join(words),)], "text string")
        (n, slope, intercept, r2), = rows(zipf_fit(d))
        assert n == 100
        assert slope == pytest.approx(-1.0, abs=0.05)
        assert r2 > 0.99

    def test_single_term_degenerate(self, spark):
        from polars_net_spark.llm.text import zipf_fit

        d = spark.createDataFrame([("hello hello hello",)], "text string")
        (n, slope, intercept, r2), = rows(zipf_fit(d))
        assert n == 1 and slope is None and r2 is None


class TestProfileDiff:
    def test_null_flood_and_cardinality_collapse(self, spark):
        from polars_net_spark.operators.describe import profile_diff

        a = spark.createDataFrame(
            [(1, "x", 1.0), (2, "y", None), (3, "x", 3.0)], "id int, c string, v double"
        )
        b = spark.createDataFrame([(1, None, None), (2, None, None)], "id int, c string, v double")
        out = {r[0]: r[1:] for r in rows(profile_diff(a, b))}
        assert out["c"][2:5] == (0.0, 1.0, 1.0)        # null rate 0 -> 1
        assert out["c"][7] == 0.0                       # distinct collapse
        assert out["id"][-1] is False                   # mode unchanged
        assert out["v"][-1] is True

    def test_added_dropped_columns_surface(self, spark):
        from polars_net_spark.operators.describe import profile_diff

        a = spark.createDataFrame([(1, "p")], "id int, old_col string")
        b = spark.createDataFrame([(1, 2.0)], "id int, new_col double")
        out = {r[0]: r for r in rows(profile_diff(a, b))}
        assert out["old_col"][2] is None  # n_cur null
        assert out["new_col"][1] is None  # n_ref null
        assert "id" in out


class TestHoltForecast:
    def test_ses_constant_series(self, spark):
        from polars_net_spark.operators.analytics import holt_forecast

        d = spark.createDataFrame([(t, 7.0) for t in range(10)], ["t", "v"])
        (n, level, trend, fc), = rows(holt_forecast(d, "v", "t", alpha=0.3))
        assert n == 10 and level == 7.0 and trend == 0.0 and fc == 7.0

    def test_holt_linear_exact(self, spark):
        from polars_net_spark.operators.analytics import holt_forecast

        d = spark.createDataFrame(
            [("a", t, 2.0 * t + 1.0) for t in range(10)], ["g", "t", "v"]
        )
        (g, n, level, trend, fc), = rows(
            holt_forecast(d, "v", "t", by="g", alpha=0.4, beta=0.3, horizon=3)
        )
        # Holt is exact on a noiseless line: level = last value, trend = slope
        assert (level, trend, fc) == (19.0, 2.0, 25.0)

    def test_holt_needs_two_points(self, spark):
        from polars_net_spark.operators.analytics import holt_forecast

        d = spark.createDataFrame([(0, 5.0)], ["t", "v"])
        (n, level, trend, fc), = rows(holt_forecast(d, "v", "t", alpha=0.5, beta=0.5))
        assert n == 1 and level is None and fc is None

    def test_order_insensitive_to_partitioning(self, spark):
        from polars_net_spark.operators.analytics import holt_forecast

        import random

        vals = [(t, float(((t * 37) % 11))) for t in range(50)]
        shuffled = list(vals)
        random.Random(7).shuffle(shuffled)
        d1 = spark.createDataFrame(vals, ["t", "v"])
        d2 = spark.createDataFrame(shuffled, ["t", "v"]).repartition(7)
        assert rows(holt_forecast(d1, "v", "t", alpha=0.5, beta=0.5)) == rows(
            holt_forecast(d2, "v", "t", alpha=0.5, beta=0.5)
        )

    def test_alpha_validation(self, spark):
        from polars_net_spark.operators.analytics import holt_forecast

        with pytest.raises(ValueError):
            holt_forecast(spark.range(3), "id", "id", alpha=0.0)


class TestBradleyTerry:
    def test_transitive_ordering(self, spark):
        from polars_net_spark.llm.preference import bradley_terry

        r = (
            [("A", "B")] * 9 + [("B", "A")] + [("B", "C")] * 9 + [("C", "B")]
            + [("A", "C")] * 9 + [("C", "A")]
        )
        d = spark.createDataFrame(r, "chosen string, rejected string")
        out = sorted(rows(bradley_terry(d, iterations=8)))
        assert out[0][0] == "A" and out[0][3] > out[1][3] > out[2][3]
        assert sum(x[3] for x in out) == pytest.approx(1.0, abs=1e-4)

    def test_symmetric_equal_scores(self, spark):
        from polars_net_spark.llm.preference import bradley_terry

        r = [("A", "B")] * 5 + [("B", "A")] * 5
        d = spark.createDataFrame(r, "chosen string, rejected string")
        out = dict((x[0], x[3]) for x in rows(bradley_terry(d)))
        assert out["A"] == pytest.approx(out["B"])

    def test_zero_win_item(self, spark):
        from polars_net_spark.llm.preference import bradley_terry

        r = [("A", "B")] * 4
        d = spark.createDataFrame(r, "chosen string, rejected string")
        out = dict((x[0], x[3]) for x in rows(bradley_terry(d, iterations=4)))
        assert out["B"] == 0.0 and out["A"] == pytest.approx(1.0)


class TestAnova:
    def test_separated_groups(self, spark):
        from polars_net_spark.operators.regression import anova_oneway

        d = spark.createDataFrame(
            [("a", v) for v in [1.0, 2.0, 3.0]]
            + [("b", v) for v in [4.0, 5.0, 6.0]]
            + [("c", v) for v in [10.0, 11.0, 12.0]],
            ["g", "x"],
        )
        (k, n, f, df1, df2, eta), = rows(anova_oneway(d, "g", "x"))
        # hand computation: SSB = 126, SSW = 6 -> F = (126/2)/(6/6) = 63
        assert (k, n, df1, df2) == (3, 9, 2, 6)
        assert f == pytest.approx(63.0)
        assert eta == pytest.approx(126.0 / 132.0)

    def test_identical_groups_f_zero(self, spark):
        from polars_net_spark.operators.regression import anova_oneway

        d = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)], ["g", "x"]
        )
        (k, n, f, df1, df2, eta), = rows(anova_oneway(d, "g", "x"))
        assert f == 0.0 and eta == 0.0

    def test_degenerate_single_group(self, spark):
        from polars_net_spark.operators.regression import anova_oneway

        d = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["g", "x"])
        (k, n, f, df1, df2, eta), = rows(anova_oneway(d, "g", "x"))
        assert k == 1 and f is None


class TestInfoGain:
    def test_perfect_predictor(self, spark):
        import math

        from polars_net_spark.operators.regression import info_gain_report

        d = spark.createDataFrame(
            [("x", "p", 1), ("x", "q", 0), ("y", "p", 1),
             ("y", "q", 0), ("x", "p", 1), ("y", "q", 0)],
            ["f1", "f2", "y"],
        )
        out = {r[0]: r[1:] for r in rows(info_gain_report(d, ["f1", "f2"], "y"))}
        # f2 = p <=> y = 1: IG(f2) = H(y) = ln 2, gain ratio 1
        assert out["f2"][1] == pytest.approx(math.log(2), abs=1e-5)
        assert out["f2"][3] == pytest.approx(math.log(2), abs=1e-5)
        assert out["f2"][4] == pytest.approx(1.0, abs=1e-5)
        assert out["f1"][3] < out["f2"][3]

    def test_constant_feature_zero_gain_null_ratio(self, spark):
        from polars_net_spark.operators.regression import info_gain_report

        d = spark.createDataFrame([("c", 0), ("c", 1)], ["f", "y"])
        (feat, n, hl, hc, ig, gr), = rows(info_gain_report(d, ["f"], "y"))
        assert ig == 0.0 and gr is None

    def test_nulls_form_category(self, spark):
        from polars_net_spark.operators.regression import info_gain_report

        d = spark.createDataFrame(
            [(None, 1), (None, 1), ("a", 0), ("a", 0)], "f string, y int"
        )
        (feat, n, hl, hc, ig, gr), = rows(info_gain_report(d, ["f"], "y"))
        # null category perfectly separates the label
        assert n == 4 and ig == pytest.approx(hl)


class TestMsprt:
    def test_matches_python_reference(self, spark):
        import math

        import numpy as np

        from polars_net_spark.operators.regression import msprt_report

        rng = np.random.RandomState(1)
        for mu, expect_reject in [(0.5, True), (0.0, False)]:
            vals = [(int(i), float(v)) for i, v in enumerate(rng.normal(mu, 1.0, 400))]
            d = spark.createDataFrame(vals, ["t", "x"]).repartition(8)
            (n, s_n, sigma, llmax, p, rej), = rows(
                msprt_report(d, "x", "t", mu0=0.0, tau=1.0)
            )
            xs = [v for _, v in vals]
            s2 = float(np.var(xs, ddof=1))
            S, ref = 0.0, -1e18
            for k, x in enumerate(xs, 1):
                S += x
                ref = max(ref, 0.5 * math.log(s2 / (s2 + k)) + S * S / (2 * s2 * (s2 + k)))
            assert llmax == pytest.approx(ref, abs=1e-4)
            assert rej is expect_reject

    def test_needs_variance(self, spark):
        from polars_net_spark.operators.regression import msprt_report

        d = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["t", "x"])
        with pytest.raises(ValueError):
            msprt_report(d, "x", "t")


class TestDegreeReport:
    def test_star_disassortative(self, spark):
        from polars_net_spark.operators.graph import degree_report

        star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
        (nn, ne, md, mx, r), = rows(degree_report(star))
        assert (nn, ne, mx) == (6, 5, 5)
        assert r == pytest.approx(-1.0)

    def test_regular_graph_null(self, spark):
        from polars_net_spark.operators.graph import degree_report

        ring = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)], ["src", "dst"])
        (nn, ne, md, mx, r), = rows(degree_report(ring))
        assert (nn, ne, md, mx) == (6, 6, 2.0, 2) and r is None

    def test_dedup_and_loops(self, spark):
        from polars_net_spark.operators.graph import degree_report

        e = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (3, 3), (2, 3)], ["src", "dst"]
        )
        (nn, ne, md, mx, r), = rows(degree_report(e))
        assert (nn, ne) == (3, 2)  # loop dropped, duplicates collapsed


class TestRollupMerge:
    def test_merge_equals_full_recompute(self, spark):
        from polars_net_spark.operators.merge import build_rollup, merge_rollup

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        full = sorted(rows(build_rollup(ev, "event_type", ["value"])))
        state = build_rollup(ev.filter("event_id % 3 = 0"), "event_type", ["value"])
        s1 = merge_rollup(state, ev.filter("event_id % 3 = 1"), "event_type", ["value"])
        s2 = merge_rollup(s1, ev.filter("event_id % 3 = 2"), "event_type", ["value"],
                          batch_is_state=False)
        merged = sorted(rows(s2))
        assert [r[0] for r in full] == [r[0] for r in merged]
        for ra, rb in zip(full, merged):
            for a, b in zip(ra, rb):
                if isinstance(a, float):
                    assert b == pytest.approx(a, abs=1e-9)
                else:
                    assert a == b

    def test_state_plus_state(self, spark):
        from polars_net_spark.operators.merge import build_rollup, merge_rollup

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        a = build_rollup(ev.filter("event_id % 2 = 0"), "event_type", ["value"])
        b = build_rollup(ev.filter("event_id % 2 = 1"), "event_type", ["value"])
        m = sorted(rows(merge_rollup(a, b, "event_type", ["value"], batch_is_state=True)))
        full = sorted(rows(build_rollup(ev, "event_type", ["value"])))
        assert [r[:2] for r in m] == [r[:2] for r in full]

    def test_nulls_counted_in_n_not_in_col_n(self, spark):
        from polars_net_spark.operators.merge import build_rollup

        d = spark.createDataFrame([("a", 1.0), ("a", None)], ["k", "v"])
        (k, n, vs, vmin, vmax, vn), = rows(build_rollup(d, "k", ["v"]))
        assert n == 2 and vn == 1 and vs == 1.0


class TestDpCounts:
    def test_deterministic_and_clipped(self, spark):
        from polars_net_spark.operators.analytics import dp_count_report

        d = spark.createDataFrame([("a",)] * 50 + [("b",)] * 1, "k string")
        a = sorted(rows(dp_count_report(d, "k", epsilon=1.0)))
        b = sorted(rows(dp_count_report(d.repartition(7), "k", epsilon=1.0)))
        assert a == b  # seeded draw is partition-independent
        for k, n, noisy in a:
            assert noisy >= 0.0
        # tighter epsilon -> more noise for the same key
        loose = dict((r[0], abs(r[2] - r[1])) for r in rows(dp_count_report(d, "k", epsilon=10.0)))
        tight = dict((r[0], abs(r[2] - r[1])) for r in rows(dp_count_report(d, "k", epsilon=0.1)))
        assert tight["a"] > loose["a"]

    def test_epsilon_validation(self, spark):
        from polars_net_spark.operators.analytics import dp_count_report

        with pytest.raises(ValueError):
            dp_count_report(spark.range(3), "id", epsilon=0.0)


class TestCollapseRare:
    def test_share_and_count_rules(self, spark):
        from polars_net_spark.operators.analytics import collapse_rare_levels

        d = spark.createDataFrame(
            [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 2 + [(None,)] * 3, "k string"
        )
        by_share = dict(
            (r[0], r[1])
            for r in collapse_rare_levels(d, "k", min_share=0.1)
            .spark.groupBy("k").count().collect()
        )
        assert by_share == {"a": 50, "b": 30, "__other__": 2, None: 3}
        by_count = dict(
            (r[0], r[1])
            for r in collapse_rare_levels(d, "k", min_count=40)
            .spark.groupBy("k").count().collect()
        )
        assert by_count == {"a": 50, "__other__": 32, None: 3}

    def test_other_columns_untouched(self, spark):
        from polars_net_spark.operators.analytics import collapse_rare_levels

        d = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], ["id", "k"])
        out = sorted(rows(collapse_rare_levels(d, "k", min_count=2)))
        assert out == [(1, "x"), (2, "x"), (3, "__other__")]


class TestSnapshotRowsDiff:
    def test_statuses_and_changed_cols(self, spark):
        from polars_net_spark.operators.validate import snapshot_rows_diff

        a = spark.createDataFrame(
            [(1, "x", 1.0), (2, "y", 2.0), (3, "z", 3.0)], "id int, c string, v double"
        )
        b = spark.createDataFrame(
            [(2, "y", 2.0), (3, "zz", 9.0), (4, "w", 4.0)], "id int, c string, v double"
        )
        out = {r[0]: (r[1], sorted(r[2])) for r in rows(snapshot_rows_diff(a, b, "id"))}
        assert out == {
            1: ("removed", []),
            3: ("changed", ["c", "v"]),
            4: ("added", []),
        }
        full = rows(snapshot_rows_diff(a, b, "id", include_unchanged=True))
        assert ("unchanged" in [r[1] for r in full]) and len(full) == 4

    def test_null_safe_compare(self, spark):
        from polars_net_spark.operators.validate import snapshot_rows_diff

        a = spark.createDataFrame([(1, None)], "id int, c string")
        b = spark.createDataFrame([(1, None)], "id int, c string")
        assert rows(snapshot_rows_diff(a, b, "id")) == []  # null == null


class TestDupStats:
    def test_counts(self, spark):
        from polars_net_spark.llm.dedup import dedup_cluster_stats

        d = spark.createDataFrame(
            [("dup",)] * 5 + [("u1",), ("u2",), ("u3",)], "text string"
        ).selectExpr("text", "monotonically_increasing_id() as doc_id")
        (n, nc, nd, rate, mx, share), = rows(dedup_cluster_stats(d))
        assert (n, nc, nd, mx) == (8, 4, 4, 5)
        assert rate == 0.5 and share == 1.0

    def test_no_dups(self, spark):
        from polars_net_spark.llm.dedup import dedup_cluster_stats

        d = spark.createDataFrame([("a",), ("b",)], "text string")
        (n, nc, nd, rate, mx, share), = rows(dedup_cluster_stats(d))
        assert nd == 0 and rate == 0.0 and share == 0.0


class TestNeyman:
    def test_allocation_sums_and_prefers_noisy(self, spark):
        from polars_net_spark.llm.sampling import neyman_allocation

        s = spark.createDataFrame(
            [("a", float(v)) for v in range(100)]
            + [("b", 5.0)] * 100
            + [("c", float(v % 7)) for v in range(50)],
            ["g", "x"],
        )
        out = {r[0]: r[1:] for r in rows(neyman_allocation(s, "g", "x", 30))}
        assert sum(v[2] for v in out.values()) == 30
        assert out["a"][2] > out["c"][2] > out["b"][2]  # sigma-driven
        assert out["b"][2] == 2  # zero-sigma stratum gets the floor

    def test_caps_respected(self, spark):
        from polars_net_spark.llm.sampling import neyman_allocation

        s = spark.createDataFrame(
            [("tiny", 1.0), ("tiny", 9.0)] + [("big", float(v)) for v in range(50)],
            ["g", "x"],
        )
        out = {r[0]: r[3] for r in rows(neyman_allocation(s, "g", "x", 40))}
        assert out["tiny"] <= 2  # cannot exceed population

    def test_total_n_validation(self, spark):
        from polars_net_spark.llm.sampling import neyman_allocation

        with pytest.raises(ValueError):
            neyman_allocation(spark.range(3), "id", "id", total_n=0)

    def test_cap_overflow_redistributes(self, spark):
        # the r7 ADVICE scenario: a high-weight stratum hits its population
        # cap; the overflow must be redistributed, not silently dropped.
        from polars_net_spark.llm.sampling import neyman_allocation

        data = (
            [("a", float(v) * 100.0) for v in range(5)]          # n=5, huge sigma
            + [("b", 5.0 + 0.1 * (v % 2)) for v in range(100)]   # n=100, tiny sigma
            + [("c", 7.0 + 0.1 * (v % 2)) for v in range(100)]   # n=100, tiny sigma
        )
        s = spark.createDataFrame(data, ["g", "x"])
        out = {r[0]: r[3] for r in rows(neyman_allocation(s, "g", "x", 50))}
        assert sum(out.values()) == 50          # full budget allocated
        assert out["a"] == 5                     # capped at population
        assert out["b"] >= 20 and out["c"] >= 20  # overflow went to open strata

    def test_total_n_infeasible_raises(self, spark):
        from polars_net_spark.llm.sampling import neyman_allocation

        s = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], ["g", "x"]
        )
        with pytest.raises(ValueError, match="exceeds the population"):
            neyman_allocation(s, "g", "x", total_n=5)
        with pytest.raises(ValueError, match="below the floor sum"):
            neyman_allocation(s, "g", "x", total_n=3)


class TestBradleyTerryDriverPath:
    def test_driver_and_distributed_paths_agree(self, spark, force_distributed):
        from polars_net_spark.llm.preference import bradley_terry

        r = (
            [("A", "B")] * 9 + [("B", "A")] + [("B", "C")] * 9 + [("C", "B")]
            + [("A", "C")] * 9 + [("C", "A")]
        )
        d = spark.createDataFrame(r, "chosen string, rejected string")
        drv = sorted(rows(bradley_terry(d, iterations=8)))
        force_distributed()
        dist = sorted(rows(bradley_terry(d, iterations=8)))
        assert drv == dist


class TestMedianCi:
    def test_brackets_true_median(self, spark):
        import numpy as np

        from polars_net_spark.operators.regression import median_ci

        rng = np.random.RandomState(3)
        d = spark.createDataFrame(
            [(float(v),) for v in rng.exponential(10.0, 2001)], "x double"
        ).repartition(8)
        (n, med, lo, hi, z), = rows(median_ci(d, "x"))
        import math

        true_med = 10.0 * math.log(2)
        assert n == 2001 and lo < med < hi
        assert lo < true_med < hi  # 95% CI on 2001 draws: essentially certain

    def test_small_n_validation(self, spark):
        from polars_net_spark.operators.regression import median_ci

        d = spark.createDataFrame([(1.0,)], "x double")
        with pytest.raises(ValueError):
            median_ci(d, "x")

    def test_partition_invariant(self, spark):
        from polars_net_spark.operators.regression import median_ci

        vals = [(float((v * 37) % 101),) for v in range(500)]
        a = rows(median_ci(spark.createDataFrame(vals, "x double"), "x"))
        b = rows(median_ci(spark.createDataFrame(vals, "x double").repartition(13), "x"))
        assert a == b


class TestCochranArmitage:
    def test_hand_computed_trend(self, spark):
        from polars_net_spark.operators.regression import cochran_armitage

        r = (
            [(1.0, 1)] * 10 + [(1.0, 0)] * 90 + [(2.0, 1)] * 30 + [(2.0, 0)] * 70
            + [(3.0, 1)] * 50 + [(3.0, 0)] * 50
        )
        d = spark.createDataFrame(r, ["s", "y"])
        (n, k, pbar, t, var, z), = rows(cochran_armitage(d, "s", "y"))
        # T = 220 - 0.3*600 = 40; Var = 0.21*(1400 - 1200) = 42
        assert (n, k) == (300, 3)
        assert t == pytest.approx(40.0) and var == pytest.approx(42.0)
        assert z == pytest.approx(40.0 / 42.0 ** 0.5, abs=1e-5)

    def test_flat_rates_zero(self, spark):
        from polars_net_spark.operators.regression import cochran_armitage

        r = [(1.0, 1)] * 30 + [(1.0, 0)] * 70 + [(2.0, 1)] * 30 + [(2.0, 0)] * 70
        d = spark.createDataFrame(r, ["s", "y"])
        (_, _, _, t, _, z), = rows(cochran_armitage(d, "s", "y"))
        assert t == 0.0 and z == 0.0

    def test_degenerate_null_z(self, spark):
        from polars_net_spark.operators.regression import cochran_armitage

        d = spark.createDataFrame([(1.0, 1), (1.0, 0)], ["s", "y"])
        (_, k, _, _, var, z), = rows(cochran_armitage(d, "s", "y"))
        assert k == 1 and var == 0.0 and z is None
