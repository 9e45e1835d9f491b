"""Round-9 batch 2: confusion_report, gumbel_fit, kmv_jaccard,
connected_components."""
import math

import pytest

from polars_net_spark import _bounded
from polars_net_spark.operators.analytics import gumbel_fit
from polars_net_spark.operators.graph import connected_components
from polars_net_spark.operators.mleval import confusion_report
from polars_net_spark.operators.sketches import kmv_jaccard


def rows(lf):
    return [tuple(r) for r in lf.spark.collect()]


class TestConfusion:
    def test_counts_and_metrics(self, spark):
        # 4 TP, 1 FP, 3 TN, 2 FN
        data = (
            [(0.9, 1)] * 4 + [(0.8, 0)] * 1 + [(0.2, 0)] * 3 + [(0.1, 1)] * 2
        )
        d = spark.createDataFrame(data, "p double, y int")
        (thr, n, tp, fp, tn, fn, acc, prec, rec, spec, f1, bal, mcc), = rows(
            confusion_report(d, "p", "y")
        )
        assert (tp, fp, tn, fn) == (4, 1, 3, 2) and n == 10
        assert acc == 0.7 and prec == 0.8 and abs(rec - 4 / 6) < 1e-6
        assert spec == 0.75
        ref_mcc = (4 * 3 - 1 * 2) / math.sqrt(5 * 6 * 4 * 5)
        assert abs(mcc - ref_mcc) < 1e-6
        f1_ref = 2 * 0.8 * (4 / 6) / (0.8 + 4 / 6)
        assert abs(f1 - f1_ref) < 1e-6

    def test_degenerate_all_negative_nulls(self, spark):
        d = spark.createDataFrame([(0.1, 0), (0.2, 0)], "p double, y int")
        (r,) = rows(confusion_report(d, "p", "y"))
        # precision/recall/f1/mcc null; specificity/accuracy defined
        assert r[7] is None and r[8] is None and r[10] is None and r[12] is None
        assert r[6] == 1.0 and r[9] == 1.0

    def test_threshold_is_ge(self, spark):
        d = spark.createDataFrame([(0.5, 1), (0.49, 1)], "p double, y int")
        (r,) = rows(confusion_report(d, "p", "y", threshold=0.5))
        assert r[2] == 1 and r[5] == 1  # tp=1 (0.5 counts), fn=1


class TestGumbel:
    def test_recovers_known_params(self, spark):
        import numpy as np

        rng = np.random.RandomState(17)
        mu, beta = 50.0, 8.0
        x = mu - beta * np.log(-np.log(rng.rand(20000)))
        d = spark.createDataFrame([(float(v),) for v in x], "v double")
        out = rows(gumbel_fit(d, "v"))
        assert [r[0] for r in out] == [10, 100, 1000]
        got_mu, got_beta = out[0][2], out[0][3]
        assert abs(got_mu - mu) < 0.5 and abs(got_beta - beta) < 0.4
        # return level formula at T=100
        rl = got_mu - got_beta * math.log(-math.log(1 - 1 / 100))
        assert abs(out[1][1] - rl) < 1e-4  # rl recomputed from 6dp-rounded params

    def test_validation(self, spark):
        d = spark.createDataFrame([(1.0,)] * 5, "v double")
        with pytest.raises(ValueError, match="zero variance"):
            gumbel_fit(d, "v")
        with pytest.raises(ValueError, match=">= 2"):
            gumbel_fit(d, "v", return_periods=(1,))


class TestKmvJaccard:
    def test_exact_under_k(self, spark):
        # both segments < k distinct -> everything exact
        d = spark.createDataFrame(
            [("a", i) for i in range(100)] + [("b", i) for i in range(50, 150)],
            "g string, v int",
        )
        (k, jac, nu, da, db, ue, ie), = rows(
            kmv_jaccard(d, "v", "g", "a", "b", k=512)
        )
        assert da == 100 and db == 100 and ue == 150 and ie == 50
        assert abs(jac - 50 / 150) < 1e-6

    def test_estimate_in_band(self, spark):
        d = spark.createDataFrame(
            [("a", i) for i in range(2000)]
            + [("b", i) for i in range(1000, 3000)],
            "g string, v int",
        ).repartition(9)
        (k, jac, nu, da, db, ue, ie), = rows(
            kmv_jaccard(d, "v", "g", "a", "b", k=256)
        )
        # true J = 1000/3000 = 1/3; k=256 -> se ~ 1/sqrt(254) ~ 6%
        assert 0.2 < jac < 0.5
        assert 1500 < da < 2500 and 2200 < ue < 3800

    def test_deterministic_vs_partitioning(self, spark):
        d = spark.createDataFrame(
            [("a", i % 700) for i in range(5000)]
            + [("b", (i * 3) % 900) for i in range(5000)],
            "g string, v int",
        )
        a = rows(kmv_jaccard(d, "v", "g", "a", "b"))
        b = rows(kmv_jaccard(d.repartition(17), "v", "g", "a", "b"))
        assert a == b

    def test_non_string_group_types(self, spark):
        # boolean groups render 'true' in Spark but 'True' in str() —
        # membership must compare natively, not via string renderings
        d = spark.createDataFrame(
            [(True, i) for i in range(100)] + [(False, i) for i in range(50, 150)],
            "g boolean, v int",
        )
        (k, jac, nu, da, db, ue, ie), = rows(
            kmv_jaccard(d, "v", "g", True, False, k=512)
        )
        assert da == 100 and db == 100 and ue == 150 and ie == 50
        # integer groups too (native equality, exact small case)
        d2 = spark.createDataFrame(
            [(7, i) for i in range(40)] + [(9, i) for i in range(20, 60)],
            "g int, v int",
        )
        (_, jac2, _, da2, db2, ue2, ie2), = rows(
            kmv_jaccard(d2, "v", "g", 7, 9, k=512)
        )
        assert da2 == 40 and db2 == 40 and ue2 == 60 and ie2 == 20


class TestConnectedComponents:
    def test_islands(self, spark):
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)],
            "src int, dst int",
        )
        out = rows(connected_components(e))
        comp = {}
        for vid, c in out:
            comp.setdefault(c, set()).add(vid)
        assert comp == {1: {1, 2, 3}, 10: {10, 11, 12}, 20: {20, 21}}

    def test_undirected_and_loops(self, spark):
        e = spark.createDataFrame(
            [(5, 4), (4, 5), (6, 6), (4, 6)], "src int, dst int"
        )
        out = rows(connected_components(e))
        assert {c for _, c in out} == {4} and len(out) == 3

    def test_chain_needs_rounds(self, spark):
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "src int, dst int"
        )
        out = rows(connected_components(e, max_rounds=20))
        assert all(c == 0 for _, c in out) and len(out) == 13

    def test_max_rounds_raises(self, spark, monkeypatch):
        # the round limit guards the distributed loop only: force it
        monkeypatch.setattr(_bounded, "BOUND", 0)
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "src int, dst int"
        )
        with pytest.raises(RuntimeError, match="connected_components did not converge"):
            connected_components(e, max_rounds=2)

    def test_bounded_side_is_exact_at_any_round_limit(self, spark):
        # the same 31-vertex chain below the bound: union-find in driver
        # memory, which max_rounds never truncates
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "src int, dst int"
        )
        _bounded.clear_decisions()
        out = sorted(rows(connected_components(e, max_rounds=2)))
        assert out == [(i, 0) for i in range(31)]
        (rec,) = [d for d in _bounded.decisions() if d["operator"] == "connected_components"]
        assert (rec["path"], rec["n"]) == ("bounded", 60)
