"""Round-11 batch 3: theta_forecast, brunner_munzel, winnowing, fellegi-
sunter — brute-force pure-Python cross-checks."""

import math

import pytest

from polars_net_spark.llm.dedup import winnowing_fingerprints, winnowing_pairs
from polars_net_spark.operators.analytics import theta_forecast
from polars_net_spark.operators.joins_ext import fellegi_sunter_score
from polars_net_spark.operators.regression import brunner_munzel


def rows(lf):
    return [tuple(r) for r in lf.spark.collect()]


class TestThetaForecast:
    def test_matches_brute_force(self, spark):
        vals = [10.0, 12.0, 11.5, 13.0, 14.2, 13.8, 15.1, 16.0]
        d = spark.createDataFrame(
            [("s", i, v) for i, v in enumerate(vals)], "k string, t int, v double"
        )
        (k, n, slope, intercept, lvl, fc), = rows(
            theta_forecast(d, "v", "t", by="k", alpha=0.4, horizon=2)
        )
        nn = len(vals)
        st = sum(range(nn))
        stt = sum(i * i for i in range(nn))
        sx = sum(vals)
        stx = sum(i * v for i, v in enumerate(vals))
        b = (nn * stx - st * sx) / (nn * stt - st * st)
        a = (sx - b * st) / nn
        zs = [2 * v - (a + b * i) for i, v in enumerate(vals)]
        lv = zs[0]
        for z in zs[1:]:
            lv = 0.4 * z + 0.6 * lv
        fc_ref = 0.5 * (lv + (a + b * (nn - 1 + 2)))
        assert (k, n) == ("s", nn)
        assert abs(slope - b) < 1e-6 and abs(intercept - a) < 1e-6
        assert abs(lvl - lv) < 1e-6 and abs(fc - fc_ref) < 1e-6

    def test_linear_series_recovers_trend(self, spark):
        # on an exactly-linear series the theta-2 line equals the series,
        # SES converges along it, and the forecast continues the line
        vals = [3.0 + 2.0 * i for i in range(20)]
        d = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "t int, v double"
        )
        (n, slope, intercept, lvl, fc), = rows(theta_forecast(d, "v", "t", horizon=1))
        assert abs(slope - 2.0) < 1e-9 and abs(intercept - 3.0) < 1e-9
        # on a linear series the theta-2 line IS the series, SES lags it by
        # slope*(1-alpha)/alpha = 2 (alpha 0.5), and the forecast is the
        # average of ses_level and the exact trend extrapolation (43)
        assert abs(lvl - 39.0) < 1e-3
        assert abs(fc - 0.5 * (lvl + 43.0)) < 1e-6
        assert lvl < fc < 43.0

    def test_bad_alpha(self, spark):
        d = spark.createDataFrame([(0, 1.0)], "t int, v double")
        with pytest.raises(ValueError, match="alpha"):
            theta_forecast(d, "v", "t", alpha=0.0)


class TestBrunnerMunzel:
    @staticmethod
    def _check_brute_force(spark, xs, ys):
        d = spark.createDataFrame(
            [("a", v) for v in xs] + [("b", v) for v in ys], "g string, v double"
        )
        (w, df, ph, ra, rb, na, nb), = rows(brunner_munzel(d, "g", "v", "a", "b"))

        def midranks(vals, pool):
            sp = sorted(pool)
            return [
                (sp.index(v) + 1 + len(sp) - sp[::-1].index(v) - 1 + 1) / 2.0
                for v in vals
            ]

        allv = xs + ys
        Rx = midranks(xs, allv)
        Ry = midranks(ys, allv)
        rx = midranks(xs, xs)
        ry = midranks(ys, ys)
        nx, ny = len(xs), len(ys)
        mx, my = sum(Rx) / nx, sum(Ry) / ny
        dx = [R - r for R, r in zip(Rx, rx)]
        dy = [R - r for R, r in zip(Ry, ry)]
        sx2 = sum((v - sum(dx) / nx) ** 2 for v in dx) / (nx - 1)
        sy2 = sum((v - sum(dy) / ny) ** 2 for v in dy) / (ny - 1)
        va, vb = nx * sx2, ny * sy2
        w_ref = nx * ny * (my - mx) / ((nx + ny) * math.sqrt(va + vb))
        df_ref = (va + vb) ** 2 / (va**2 / (nx - 1) + vb**2 / (ny - 1))
        ph_ref = (my - (ny + 1) / 2.0) / nx
        assert (na, nb) == (nx, ny)
        assert abs(ra - mx) < 1e-6 and abs(rb - my) < 1e-6
        assert abs(w - w_ref) < 1e-6
        assert abs(df - df_ref) < 1e-4
        assert abs(ph - ph_ref) < 1e-6

    def test_matches_brute_force(self, spark):
        xs = [1.0, 2.0, 1.5, 3.2, 2.8, 1.1, 2.2, 3.0]
        ys = [2.5, 3.5, 4.0, 2.9, 3.3, 4.2, 3.9, 2.5, 4.8, 3.1]
        self._check_brute_force(spark, xs, ys)

    def test_matches_brute_force_across_buckets(self, spark):
        # 330 rows over 23 tied values: every value (so every one of the
        # session's 8 range buckets) holds both groups, and the per-group
        # prefix offsets carry across every bucket boundary
        vals = [(i % 3 != 0, float((i * 13) % 23)) for i in range(330)]
        xs = [v for is_a, v in vals if is_a]
        ys = [v + 0.5 * (v > 11) for is_a, v in vals if not is_a]
        self._check_brute_force(spark, xs, ys)

    def test_degenerate_raises(self, spark):
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        d = spark.createDataFrame(
            [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)], "g string, v double"
        )
        with pytest.raises((PySparkException, Py4JJavaError), match="zero rank variance"):
            rows(brunner_munzel(d, "g", "v", "a", "b"))


def _brute_fps(text, k, w):
    t = "".join(ch for ch in text.lower() if ch.isalnum())
    M, B = 1_000_000_007, 131
    hs = []
    for i in range(len(t) - k + 1):
        h = 0
        for ch in t[i : i + k]:
            h = (h * B + ord(ch)) % M
        hs.append(h)
    fps = {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
    return fps


class TestWinnowing:
    def test_fingerprints_match_brute_force(self, spark):
        texts = [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs!"),
        ]
        d = spark.createDataFrame(texts, "doc_id int, text string")
        out = {
            r["id"]: set(r["fingerprints"])
            for r in winnowing_fingerprints(d, k=5, window=4).spark.collect()
        }
        for i, t in texts:
            assert out[i] == _brute_fps(t, 5, 4), i

    def test_shared_substring_guarantee(self, spark):
        # any shared run >= k + w - 1 chars must share >= 1 fingerprint
        shared = "identicalplagiarizedpassagehere"
        texts = [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "totally different opening " + shared + " and ending"),
            (3, "no overlap with anything else at all zzz"),
        ]
        d = spark.createDataFrame(texts, "doc_id int, text string")
        pairs = rows(winnowing_pairs(d, k=5, window=4, threshold=0.1))
        keys = {(a, b) for a, b, *_ in pairs}
        assert (1, 2) in keys
        assert not any(3 in (a, b) for a, b in keys)

    def test_pairs_score_matches_brute_force(self, spark):
        texts = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta DIFFERENT TAIL"),
        ]
        d = spark.createDataFrame(texts, "doc_id int, text string")
        (ida, idb, shared, score), = rows(
            winnowing_pairs(d, k=5, window=4, threshold=0.0)
        )
        f1 = _brute_fps(texts[0][1], 5, 4)
        f2 = _brute_fps(texts[1][1], 5, 4)
        assert (ida, idb) == (1, 2)
        assert shared == len(f1 & f2)
        assert abs(score - len(f1 & f2) / min(len(f1), len(f2))) < 1e-6


class TestFellegiSunter:
    def test_weights_and_decisions(self, spark):
        d = spark.createDataFrame(
            [
                (1, True, True),
                (2, True, False),
                (3, False, False),
                (4, None, True),
            ],
            "pair_id int, name_agree boolean, city_agree boolean",
        )
        out = {
            r["pair_id"]: (r["fs_score"], r["fs_decision"])
            for r in fellegi_sunter_score(
                d,
                {"name_agree": (0.9, 0.1), "city_agree": (0.8, 0.2)},
                upper=3.0,
                lower=-3.0,
            ).spark.collect()
        }
        wn_a, wn_d = math.log2(0.9 / 0.1), math.log2(0.1 / 0.9)
        wc_a, wc_d = math.log2(0.8 / 0.2), math.log2(0.2 / 0.8)
        assert abs(out[1][0] - (wn_a + wc_a)) < 1e-6 and out[1][1] == "match"
        assert abs(out[2][0] - (wn_a + wc_d)) < 1e-6 and out[2][1] == "possible"
        assert abs(out[3][0] - (wn_d + wc_d)) < 1e-6 and out[3][1] == "non_match"
        assert abs(out[4][0] - wc_a) < 1e-6  # null = no evidence

    def test_validates_probs(self, spark):
        d = spark.createDataFrame([(1, True)], "id int, a boolean")
        with pytest.raises(ValueError, match="0 < u < m < 1"):
            fellegi_sunter_score(d, {"a": (0.2, 0.9)})
