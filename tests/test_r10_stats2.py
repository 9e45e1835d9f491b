"""Round-10 batch 2: kruskal_wallis, breusch_pagan, granger_lag1,
ljung_box, holm_adjust — brute-force pure-Python cross-checks."""

import math

from polars_net_spark.operators.regression import (
    breusch_pagan,
    granger_lag1,
    holm_adjust,
    kruskal_wallis,
    ljung_box,
)


def rows(lf):
    return [tuple(r) for r in lf.spark.collect()]


class TestKruskalWallis:
    def test_matches_brute_force_with_ties(self, spark):
        data = {
            "a": [1.0, 2.0, 2.0, 5.0],
            "b": [2.0, 4.0, 6.0],
            "c": [7.0, 8.0, 8.0, 9.0, 2.0],
        }
        rows_in = [(g, v) for g, vs in data.items() for v in vs]
        d = spark.createDataFrame(rows_in, "g string, v double")
        (h, hc, df, n, k), = rows(kruskal_wallis(d, "g", "v"))

        allv = sorted(v for vs in data.values() for v in vs)
        N = len(allv)
        # tie-averaged ranks
        rank_of = {}
        i = 0
        while i < len(allv):
            j = i
            while j < len(allv) and allv[j] == allv[i]:
                j += 1
            rank_of[allv[i]] = (i + 1 + j) / 2.0
            i = j
        rg = {g: sum(rank_of[v] for v in vs) for g, vs in data.items()}
        h_ref = 12.0 / (N * (N + 1)) * sum(
            rg[g] ** 2 / len(vs) for g, vs in data.items()
        ) - 3 * (N + 1)
        from collections import Counter

        cnt = Counter(allv)
        corr = 1 - sum(t**3 - t for t in cnt.values()) / (N**3 - N)
        assert (df, n, k) == (2, N, 3)
        assert abs(h - h_ref) < 1e-6
        assert abs(hc - h_ref / corr) < 1e-6


class TestBreuschPagan:
    def test_heteroscedastic_detected(self, spark):
        # variance grows with x -> LM large; homoscedastic -> LM small
        import random

        rnd = random.Random(7)
        het = [(float(i), 2.0 * i + rnd.gauss(0, 0.1 + 0.3 * i)) for i in range(200)]
        hom = [(float(i), 2.0 * i + rnd.gauss(0, 3.0)) for i in range(200)]
        d1 = spark.createDataFrame(het, "x double, y double")
        d2 = spark.createDataFrame(hom, "x double, y double")
        (lm1, df1, r2_1, *_), = rows(breusch_pagan(d1, "x", "y"))
        (lm2, *_), = rows(breusch_pagan(d2, "x", "y"))
        assert lm1 > 20.0 and lm2 < 10.0 and df1 == 1

    def test_matches_brute_force(self, spark):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
        ys = [1.1, 2.3, 2.8, 4.5, 4.9, 6.6]
        d = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
        (lm, df, r2, slope, intercept, n), = rows(breusch_pagan(d, "x", "y"))
        nn = len(xs)
        mx, my = sum(xs) / nn, sum(ys) / nn
        sxx = sum((a - mx) ** 2 for a in xs)
        sxy = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
        b_ref = sxy / sxx
        a_ref = my - b_ref * mx
        e2 = [(y - a_ref - b_ref * x) ** 2 for x, y in zip(xs, ys)]
        me = sum(e2) / nn
        cov = sum((x - mx) * (e - me) for x, e in zip(xs, e2)) / nn
        vx = sxx / nn
        ve = sum((e - me) ** 2 for e in e2) / nn
        r2_ref = cov * cov / (vx * ve)
        assert n == nn
        assert abs(slope - b_ref) < 1e-6 and abs(intercept - a_ref) < 1e-6
        assert abs(lm - nn * r2_ref) < 1e-5


class TestGrangerLag1:
    def test_causal_vs_noise(self, spark):
        # y_t = 0.9 x_{t-1} + small noise -> huge F; y independent -> small F
        import random

        rnd = random.Random(3)
        xs = [rnd.gauss(0, 1) for _ in range(300)]
        y_caus = [0.0]
        y_ind = [0.0]
        for t in range(1, 300):
            y_caus.append(0.9 * xs[t - 1] + rnd.gauss(0, 0.1))
            y_ind.append(rnd.gauss(0, 1))
        rows_in = [(i, xs[i], y_caus[i], y_ind[i]) for i in range(300)]
        d = spark.createDataFrame(rows_in, "t int, x double, yc double, yi double")
        (f1, beta1, *_), = rows(granger_lag1(d, "x", "yc", "t"))
        (f2, *_), = rows(granger_lag1(d, "x", "yi", "t"))
        assert f1 > 100.0 and abs(beta1 - 0.9) < 0.05
        assert f2 < 10.0

    def test_matches_brute_force(self, spark):
        xs = [1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 5.5, 7.0]
        ys = [2.0, 2.5, 3.5, 3.0, 5.0, 4.5, 6.0, 6.5]
        rows_in = [(i, x, y) for i, (x, y) in enumerate(zip(xs, ys))]
        d = spark.createDataFrame(rows_in, "t int, x double, y double")
        (f, beta, rss_u, rss_r, n), = rows(granger_lag1(d, "x", "y", "t"))
        Y = ys[1:]
        Y1 = ys[:-1]
        X1 = xs[:-1]
        nn = len(Y)
        my, my1, mx1 = sum(Y) / nn, sum(Y1) / nn, sum(X1) / nn
        syy = sum((a - my) ** 2 for a in Y)
        s11 = sum((a - my1) ** 2 for a in Y1)
        s22 = sum((a - mx1) ** 2 for a in X1)
        s12 = sum((a - my1) * (b - mx1) for a, b in zip(Y1, X1))
        q1 = sum((a - my) * (b - my1) for a, b in zip(Y, Y1))
        q2 = sum((a - my) * (b - mx1) for a, b in zip(Y, X1))
        det = s11 * s22 - s12 * s12
        bb = (s22 * q1 - s12 * q2) / det
        cc = (s11 * q2 - s12 * q1) / det
        rssu_ref = syy - bb * q1 - cc * q2
        rssr_ref = syy - q1 * q1 / s11
        f_ref = (rssr_ref - rssu_ref) * (nn - 3) / rssu_ref
        assert n == nn
        assert abs(rss_u - rssu_ref) < 1e-5 and abs(rss_r - rssr_ref) < 1e-5
        assert abs(f - f_ref) < 1e-4 and abs(beta - cc) < 1e-6


class TestLjungBox:
    def test_matches_brute_force(self, spark):
        vals = [math.sin(i / 3.0) + 0.1 * ((i * 17) % 7) for i in range(120)]
        d = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "t int, v double")
        (q, df, n), = rows(ljung_box(d, "v", "t", lags=3))

        # canonical ACF estimator (statsmodels acf convention): full-series
        # mean centers both factors, lag-0 variance is the denominator
        nn = len(vals)
        mu = sum(vals) / nn
        den = sum((x - mu) ** 2 for x in vals)
        rs = [
            sum((vals[i] - mu) * (vals[i - l] - mu) for i in range(l, nn)) / den
            for l in (1, 2, 3)
        ]
        q_ref = nn * (nn + 2) * sum(r * r / (nn - l) for r, l in zip(rs, (1, 2, 3)))
        assert (df, n) == (3, nn)
        assert abs(q - q_ref) < 1e-4

    def test_white_noise_small_q(self, spark):
        import random

        rnd = random.Random(11)
        vals = [rnd.gauss(0, 1) for _ in range(400)]
        d = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "t int, v double")
        (q, df, n), = rows(ljung_box(d, "v", "t", lags=5))
        assert q < 20.0  # chi2(5) 99th pct ~ 15; generous band


class TestHolmAdjust:
    @staticmethod
    def _check_brute_force(spark, ps):
        d = spark.createDataFrame([(i, p) for i, p in enumerate(ps)], "id int, p double")
        out = {r[0]: r[2] for r in rows(holm_adjust(d, "p", id_cols="id"))}
        m = len(ps)
        order = sorted(range(m), key=lambda i: (ps[i], i))
        adj_ref = {}
        running = 0.0
        for rank, i in enumerate(order, start=1):
            running = max(running, (m - rank + 1) * ps[i])
            adj_ref[i] = min(1.0, running)
        for i in range(m):
            assert abs(out[i] - adj_ref[i]) < 1e-6

    def test_matches_brute_force(self, spark):
        ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212, 0.216]
        self._check_brute_force(spark, ps)

    def test_matches_brute_force_across_buckets(self, spark):
        # 320 p-values over 29 tied levels, small enough that the cap does
        # not flatten them: the prefix-max crosses all 8 range buckets
        self._check_brute_force(
            spark, [((i * 11) % 29 + 1) / 50_000.0 for i in range(320)]
        )

    def test_monotone_and_capped(self, spark):
        ps = [0.5, 0.9, 0.2, 0.8, 0.04]
        d = spark.createDataFrame([(i, p) for i, p in enumerate(ps)], "id int, p double")
        got = rows(holm_adjust(d, "p", id_cols="id"))
        by_p = sorted(got, key=lambda r: r[1])
        adjs = [r[2] for r in by_p]
        assert adjs == sorted(adjs) and max(adjs) <= 1.0
