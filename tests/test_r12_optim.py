"""Round-12 optimization internals: results must be identical to the plans
they replaced (exact_quantiles vs the global F.percentile aggregate; the
winsorize exact path riding it; the md5-parity kernels are covered by their
existing brute-force suites)."""

import math
import random

import pytest
from pyspark.sql import functions as F

from polars_net_spark import LazyFrame
from polars_net_spark.operators.distsort import exact_quantiles


@pytest.fixture(scope="module")
def spark():
    from polars_net_spark import get_spark

    return get_spark()


class TestExactQuantiles:
    @pytest.mark.parametrize("threshold", [65_536, 0])
    def test_matches_percentile_with_ties(self, spark, force_distributed, threshold):
        # the default bound 65_536 takes the driver (collected
        # distinct-count) path; a bound of 0 forces the distributed
        # sketch/offsets path — both must be bit-identical to the
        # F.percentile reference.
        if threshold == 0:
            force_distributed()
        rng = random.Random(7)
        vals = [round(rng.uniform(0, 100), 1) for _ in range(5000)]
        vals += [50.0] * 400 + [0.0] * 10  # heavy tie blocks
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        probs = [0.0, 0.05, 0.25, 0.5, 0.9, 0.95, 1.0]
        got = exact_quantiles(df, "v", probs)
        ref = df.agg(
            F.percentile(F.col("v"), F.array(*[F.lit(p) for p in probs]))
        ).first()[0]
        for g, r in zip(got, ref):
            assert g == pytest.approx(float(r), abs=0.0), (g, r)

    def test_global_consumers_match_old_percentile_plans(self, spark):
        """r12 wiring: trimmed_mean (global), with_scaled robust (global),
        with_qcut exact, and lift_table edges must equal the fused
        F.percentile plans they replaced."""
        rng = random.Random(23)
        vals = [round(rng.gauss(50, 20), 2) for _ in range(3000)]
        df = spark.createDataFrame(
            [(i, v, float(i % 2)) for i, v in enumerate(vals)],
            "id long, v double, y double",
        )
        # trimmed mean, no by=
        from polars_net_spark.operators.analytics import (
            trimmed_mean_by_key,
            with_scaled,
        )

        got = trimmed_mean_by_key(df, "v", trim=0.1).collect().rows()[0]
        lo, hi = df.agg(
            F.percentile(F.col("v"), F.array(F.lit(0.1), F.lit(0.9)))
        ).first()[0]
        band = [v for v in vals if lo <= v <= hi]
        assert got[0] == pytest.approx(round(sum(band) / len(band), 6), abs=1e-9)
        assert got[1] == len(band)

        # robust scaling, no by=
        med, q1, q3 = df.agg(
            F.percentile(F.col("v"), F.array(F.lit(0.5), F.lit(0.25), F.lit(0.75)))
        ).first()[0]
        rows = with_scaled(df, ["v"], method="robust", round_to=6).collect().rows()
        for r in rows[:50]:
            expect = round((r[1] - med) / (q3 - q1), 6)
            assert r[-1] == pytest.approx(expect, abs=1e-9)

        # qcut exact: bucket counts of quartiles
        from polars_net_spark import LazyFrame as LF

        qc = LF(df).with_qcut("v", 4, "qb").spark.groupBy("qb").count().collect()
        counts = {r["qb"]: r["count"] for r in qc}
        assert sum(counts.values()) == 3000 and len(counts) == 4

        # lift_table: reproduce deciles with the percentile edges
        from polars_net_spark.llm.evaluation import lift_table

        lt = lift_table(df, "v", "y", n_bins=5).collect().rows()
        assert sum(r[1] for r in lt) == 3000  # every row lands in a bin

    def test_null_rows_excluded(self, spark):
        df = spark.createDataFrame(
            [(1.0,), (None,), (2.0,), (3.0,), (None,)], "v double"
        )
        assert exact_quantiles(df, "v", [0.5]) == [2.0]

    def test_empty_returns_nones(self, spark):
        df = spark.createDataFrame([], "v double")
        assert exact_quantiles(df, "v", [0.25, 0.75]) == [None, None]

    def test_nan_falls_back_to_percentile(self, spark):
        vals = [1.0, 2.0, 3.0, float("nan")]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = exact_quantiles(df, "v", [0.5])
        ref = df.agg(F.percentile(F.col("v"), F.lit(0.5))).first()[0]
        assert (got[0] == ref) or (
            math.isnan(got[0]) and math.isnan(ref)
        )

    def test_winsorize_exact_matches_old_plan(self, spark):
        rng = random.Random(11)
        vals = [round(rng.gauss(100, 25), 3) for _ in range(2000)]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v double")
        out = {
            r["id"]: r["w"]
            for r in LazyFrame(df).winsorize("v", 0.05, 0.95, out_col="w")
            .spark.collect()
        }
        lo, hi = df.agg(
            F.percentile(F.col("v"), F.array(F.lit(0.05), F.lit(0.95)))
        ).first()[0]
        for i, v in enumerate(vals):
            assert out[i] == min(max(v, lo), hi), i
