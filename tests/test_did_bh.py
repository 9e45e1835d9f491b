"""Tests for did_report and bh_adjust (q260-q261 operators)."""

import pytest

from polars_net_spark.operators.regression import bh_adjust, did_report


def rows(lf):
    return lf.collect().rows()


class TestDid:
    def test_known_effect(self, spark):
        # control: 10 -> 12 (+2); treatment: 20 -> 27 (+7); DiD = +5
        data = []
        for v in [9.0, 10.0, 11.0]:
            data.append(("c", "pre", v))
        for v in [11.0, 12.0, 13.0]:
            data.append(("c", "post", v))
        for v in [19.0, 20.0, 21.0]:
            data.append(("t", "pre", v))
        for v in [26.0, 27.0, 28.0]:
            data.append(("t", "post", v))
        df = spark.createDataFrame(data, "g string, per string, y double")
        out = rows(did_report(df, "g", "per", "y", "t", "post"))[0]
        n, mcp, mcq, mtp, mtq, did, se, z = out
        assert n == 12
        assert (mcp, mcq, mtp, mtq) == (10.0, 12.0, 20.0, 27.0)
        assert did == pytest.approx(5.0)
        # each cell var = 1, n = 3 -> se = sqrt(4/3)
        assert se == pytest.approx((4 / 3) ** 0.5, abs=1e-6)
        assert z == pytest.approx(5.0 / (4 / 3) ** 0.5, abs=1e-6)

    def test_parallel_trends_zero(self, spark):
        data = [("c", 0, 1.0), ("c", 0, 3.0), ("c", 1, 2.0), ("c", 1, 4.0),
                ("t", 0, 5.0), ("t", 0, 7.0), ("t", 1, 6.0), ("t", 1, 8.0)]
        df = spark.createDataFrame(data, "g string, per int, y double")
        out = rows(did_report(df, "g", "per", "y", "t", 1))[0]
        assert out[5] == pytest.approx(0.0)

    def test_singleton_cell_null_se(self, spark):
        data = [("c", 0, 1.0), ("c", 1, 2.0), ("t", 0, 3.0), ("t", 1, 4.0)]
        df = spark.createDataFrame(data, "g string, per int, y double")
        out = rows(did_report(df, "g", "per", "y", "t", 1))[0]
        assert out[5] == pytest.approx(0.0) and out[6] is None and out[7] is None


class TestBhAdjust:
    def test_matches_statsmodels_reference(self, spark):
        # classic example: p = [.01, .02, .03, .04, .05] m=5
        # raw = [.05, .05, .05, .05, .05] -> all adjust to 0.05
        ps = [0.01, 0.02, 0.03, 0.04, 0.05]
        df = spark.createDataFrame([(i, p) for i, p in enumerate(ps)],
                                   "id long, p double")
        out = {r[0]: r[2] for r in rows(bh_adjust(df, "p", id_cols="id"))}
        for i in range(5):
            assert out[i] == pytest.approx(0.05, abs=1e-9)

    def test_suffix_min_and_clamp(self, spark):
        # p = [.001, .8, .9] m=3: raw = [.003, 1.2, .9] -> adj = [.003, .9, .9]
        df = spark.createDataFrame(
            [(1, 0.001), (2, 0.8), (3, 0.9)], "id long, p double"
        )
        out = {r[0]: r[2] for r in rows(bh_adjust(df, "p", id_cols="id"))}
        assert out[1] == pytest.approx(0.003, abs=1e-9)
        assert out[2] == pytest.approx(0.9, abs=1e-9)
        assert out[3] == pytest.approx(0.9, abs=1e-9)

    def test_ties_adjust_identically(self, spark):
        df = spark.createDataFrame(
            [(1, 0.02), (2, 0.02), (3, 0.5)], "id long, p double"
        )
        out = {r[0]: r[2] for r in rows(bh_adjust(df, "p", id_cols="id"))}
        assert out[1] == out[2] == pytest.approx(0.03, abs=1e-9)  # .02*3/2

    @staticmethod
    def _check_reference(spark, ps):
        df = spark.createDataFrame([(i, p) for i, p in enumerate(ps)],
                                   "id long, p double")
        out = {r[0]: r[2] for r in rows(bh_adjust(df, "p", id_cols="id"))}
        m = len(ps)
        order = sorted(range(m), key=lambda i: (ps[i], i))
        raw = [ps[i] * m / (k + 1) for k, i in enumerate(order)]
        suffix = raw[:]
        for k in range(m - 2, -1, -1):
            suffix[k] = min(suffix[k], suffix[k + 1])
        ref = {order[k]: min(1.0, suffix[k]) for k in range(m)}
        for i in range(m):
            assert out[i] == pytest.approx(ref[i], abs=1e-6)

    def test_matches_scipy_on_random_block(self, spark):
        # deterministic pseudo-random p's, checked against the textbook
        # O(m log m) reference implementation
        self._check_reference(spark, [((i * 37) % 97 + 1) / 98.0 for i in range(40)])

    def test_matches_reference_across_buckets(self, spark):
        # 320 p-values over 31 tied levels: the suffix-min carries across
        # all 8 range buckets, and tied p's straddle bucket boundaries
        self._check_reference(
            spark, [((i * 7) % 31 + 1) / 40.0 for i in range(320)]
        )

    def test_null_p_drops(self, spark):
        df = spark.createDataFrame([(1, 0.5), (2, None)], "id long, p double")
        assert len(rows(bh_adjust(df, "p"))) == 1


class TestIpf:
    def test_converges_to_targets(self, spark):
        from polars_net_spark.operators.regression import ipf_weights

        data = ([("a", "x")] * 30 + [("a", "y")] * 10
                + [("b", "x")] * 20 + [("b", "y")] * 40)
        df = spark.createDataFrame(data, "r string, c string")
        out = rows(ipf_weights(df, "r", "c", {"a": 0.5, "b": 0.5},
                               {"x": 0.6, "y": 0.4}, iterations=8))
        masses = {(r[0], r[1]): r[4] for r in out}
        assert sum(v for (r, _), v in masses.items() if r == "a") == pytest.approx(0.5, abs=1e-4)
        assert sum(v for (_, c), v in masses.items() if c == "x") == pytest.approx(0.6, abs=1e-4)
        # weight * observed share reproduces mass
        for (r, c, n, w, m) in out:
            assert w * (n / 100.0) == pytest.approx(m, abs=1e-5)

    def test_weights_normalize_and_prune(self, spark):
        from polars_net_spark.operators.regression import ipf_weights

        df = spark.createDataFrame(
            [("a", "x"), ("a", "x"), ("b", "x"), ("zzz", "x")], "r string, c string"
        )
        out = rows(ipf_weights(df, "r", "c", {"a": 1, "b": 1}, {"x": 1},
                               iterations=2))
        # 'zzz' not in targets -> dropped; shares renormalize over kept cells
        assert {r[0] for r in out} == {"a", "b"}
        assert sum(r[4] for r in out) == pytest.approx(1.0, abs=1e-9)

    def test_empty_targets_raise(self, spark):
        from polars_net_spark.operators.regression import ipf_weights
        df = spark.createDataFrame([("a", "x")], "r string, c string")
        with pytest.raises(ValueError):
            ipf_weights(df, "r", "c", {}, {"x": 1})

    def test_zero_marginal_gives_null_on_both_paths(self, spark):
        """A zero column target empties row a's only column; the next row
        rake divides by a zero marginal.  Both paths give null there (the
        driver path used to raise ZeroDivisionError)."""
        from polars_net_spark.operators.regression import ipf_weights

        df = spark.createDataFrame(
            [("a", "x")] * 3 + [("b", "x")] * 2 + [("b", "y")] * 5,
            "r string, c string",
        )
        rt, ct = {"a": 0.5, "b": 0.5}, {"x": 0.0, "y": 1.0}
        drv = sorted(rows(ipf_weights(df, "r", "c", rt, ct, iterations=3)))
        # zero-share padding keys push the grid past the driver-path bound
        # without changing the normalized targets
        rt_pad = {**rt, **{f"pr{i}": 0.0 for i in range(70)}}
        ct_pad = {**ct, **{f"pc{i}": 0.0 for i in range(70)}}
        dist = sorted(rows(ipf_weights(df, "r", "c", rt_pad, ct_pad, iterations=3)))
        assert drv == dist
        by_cell = {(r[0], r[1]): r for r in drv}
        assert by_cell[("a", "x")][3] is None and by_cell[("a", "x")][4] is None
        assert by_cell[("b", "y")][4] == pytest.approx(1.0)

    def test_empty_result_schema_with_names_needing_backticks(self, spark):
        from polars_net_spark.operators.regression import ipf_weights

        df = spark.createDataFrame([("zzz", "x")], "`row key` string, `col-key` string")
        out = ipf_weights(df, "row key", "col-key", {"a": 1}, {"x": 1})
        assert out.spark.columns == ["row key", "col-key", "n", "weight", "mass"]
        assert rows(out) == []


class TestKendall:
    def test_matches_scipy_example(self, spark):
        from polars_net_spark.operators.regression import kendall_tau
        df = spark.createDataFrame(
            list(zip([1, 2, 3, 4, 5], [2, 1, 4, 3, 5])), "x long, y long"
        )
        tau, n, c, d = rows(kendall_tau(df, "x", "y"))[0]
        assert (tau, n, c, d) == (0.6, 5, 8, 2)

    def test_perfect_and_inverse(self, spark):
        from polars_net_spark.operators.regression import kendall_tau
        df = spark.createDataFrame([(i, i) for i in range(6)], "x long, y long")
        assert rows(kendall_tau(df, "x", "y"))[0][0] == 1.0
        df2 = spark.createDataFrame([(i, -i) for i in range(6)], "x long, y long")
        assert rows(kendall_tau(df2, "x", "y"))[0][0] == -1.0

    def test_tie_correction(self, spark):
        from polars_net_spark.operators.regression import kendall_tau
        df = spark.createDataFrame(
            [(1, 1), (1, 2), (2, 1), (2, 2)], "x long, y long"
        )
        tau, n, c, d = rows(kendall_tau(df, "x", "y"))[0]
        assert tau == 0.0 and c == 1 and d == 1

    def test_constant_column_null(self, spark):
        from polars_net_spark.operators.regression import kendall_tau
        df = spark.createDataFrame([(1, 1), (1, 2)], "x long, y long")
        assert rows(kendall_tau(df, "x", "y"))[0][0] is None


class TestCramersOdds:
    def test_cramers_v_known(self, spark):
        from polars_net_spark.operators.regression import cramers_v
        df = spark.createDataFrame(
            [("x", "p")] * 30 + [("x", "q")] * 10
            + [("y", "p")] * 10 + [("y", "q")] * 30,
            "a string, b string",
        )
        v, chi2, dof, n = rows(cramers_v(df, "a", "b"))[0]
        assert (v, chi2, dof, n) == (0.5, 20.0, 1, 80)

    def test_cramers_v_independence_zero(self, spark):
        from polars_net_spark.operators.regression import cramers_v
        df = spark.createDataFrame(
            [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")], "a string, b string"
        )
        assert rows(cramers_v(df, "a", "b"))[0][0] == 0.0

    def test_odds_ratio_known(self, spark):
        from polars_net_spark.operators.regression import odds_ratio
        df = spark.createDataFrame(
            [(1, 1)] * 20 + [(1, 0)] * 80 + [(0, 1)] * 10 + [(0, 0)] * 90,
            "e int, o int",
        )
        a, b, c, d, orr, rr, se, z = rows(odds_ratio(df, "e", "o"))[0]
        assert (a, b, c, d) == (20, 80, 10, 90)
        assert orr == 2.25 and rr == 2.0
        assert se == pytest.approx((1/20 + 1/80 + 1/10 + 1/90) ** 0.5, abs=1e-6)

    def test_empty_cell_null_or(self, spark):
        from polars_net_spark.operators.regression import odds_ratio
        df = spark.createDataFrame([(1, 1), (0, 0)], "e int, o int")
        out = rows(odds_ratio(df, "e", "o"))[0]
        assert out[4] is None and out[7] is None


class TestMcnemarCohens:
    def test_mcnemar_classic(self, spark):
        from polars_net_spark.operators.regression import mcnemar_test
        rows_ = [(0, 1)] * 15 + [(1, 0)] * 5 + [(1, 1)] * 30 + [(0, 0)] * 50
        df = spark.createDataFrame(rows_, "b int, a int")
        n, n01, n10, chi2 = rows(mcnemar_test(df, "b", "a"))[0]
        assert (n, n01, n10) == (100, 15, 5)
        assert chi2 == pytest.approx((10 - 1) ** 2 / 20, abs=1e-6)

    def test_mcnemar_no_discordance_null(self, spark):
        from polars_net_spark.operators.regression import mcnemar_test
        df = spark.createDataFrame([(1, 1), (0, 0)], "b int, a int")
        assert rows(mcnemar_test(df, "b", "a"))[0][3] is None

    def test_mcnemar_no_correction(self, spark):
        from polars_net_spark.operators.regression import mcnemar_test
        df = spark.createDataFrame([(0, 1)] * 4 + [(1, 0)] * 2, "b int, a int")
        chi2 = rows(mcnemar_test(df, "b", "a", correction=False))[0][3]
        assert chi2 == pytest.approx(4 / 6, abs=1e-6)

    def test_cohens_d_known(self, spark):
        from polars_net_spark.operators.regression import cohens_d
        data = ([("c", float(v)) for v in [1, 2, 3, 4, 5]]
                + [("t", float(v)) for v in [3, 4, 5, 6, 7]])
        df = spark.createDataFrame(data, "g string, y double")
        out = rows(cohens_d(df, "y", "g", "t"))[0]
        assert out[5] == pytest.approx(2 / 2.5 ** 0.5, abs=1e-5)
        assert out[6] == pytest.approx(out[5] * (1 - 3 / 31), abs=1e-5)

    def test_cohens_d_zero_variance_null(self, spark):
        from polars_net_spark.operators.regression import cohens_d
        df = spark.createDataFrame(
            [("c", 1.0), ("c", 1.0), ("t", 2.0), ("t", 2.0)], "g string, y double"
        )
        assert rows(cohens_d(df, "y", "g", "t"))[0][5] is None


class TestBrierLorenz:
    def test_perfectly_calibrated_decomposition(self, spark):
        from polars_net_spark.llm.evaluation import brier_decomposition
        rows_ = ([(0.25, 1)] * 25 + [(0.25, 0)] * 75
                 + [(0.75, 1)] * 75 + [(0.75, 0)] * 25)
        df = spark.createDataFrame(rows_, "s double, y int")
        n, bs, rel, res, unc = rows(brier_decomposition(df, "s", "y"))[0]
        assert n == 200 and rel == 0.0
        assert res == pytest.approx(0.0625) and unc == pytest.approx(0.25)
        assert bs == pytest.approx(0.1875)

    def test_uninformative_forecast(self, spark):
        from polars_net_spark.llm.evaluation import brier_decomposition
        df = spark.createDataFrame(
            [(0.5, 1)] * 5 + [(0.5, 0)] * 5, "s double, y int"
        )
        n, bs, rel, res, unc = rows(brier_decomposition(df, "s", "y"))[0]
        assert rel == 0.0 and res == 0.0 and bs == unc == 0.25

    def test_lorenz_step_points(self, spark):
        from polars_net_spark.operators.analytics import lorenz_curve
        df = spark.createDataFrame([(float(v),) for v in [1, 1, 1, 1, 6]], "v double")
        out = dict(rows(lorenz_curve(df, "v", n_points=5)))
        # only complete distinct levels count: bottom 4/5 rows hold 4/10;
        # grid points before the first complete level emit share 0.0, so
        # the output is ALWAYS n_points rows
        assert out == {0.2: 0.0, 0.4: 0.0, 0.6: 0.0, 0.8: 0.4, 1.0: 1.0}

    def test_lorenz_equality_diagonal(self, spark):
        from polars_net_spark.operators.analytics import lorenz_curve
        df = spark.createDataFrame([(float(v),) for v in range(1, 101)], "v double")
        out = dict(rows(lorenz_curve(df, "v", n_points=4)))
        assert out[1.0] == 1.0
        assert out[0.5] == pytest.approx(sum(range(1, 51)) / sum(range(1, 101)), abs=1e-6)

    def test_lorenz_negative_raises(self, spark):
        from polars_net_spark.operators.analytics import lorenz_curve
        df = spark.createDataFrame([(-1.0,), (2.0,)], "v double")
        with pytest.raises(ValueError, match="non-negative"):
            lorenz_curve(df, "v")
