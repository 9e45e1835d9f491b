"""Branch parity for the one bound guard (polars_net_spark._bounded).

Each operator behind the guard runs twice on the same input: once with
``_bounded.BOUND`` at its default (the single-task / driver path for these
small inputs) and once forced to the distsort path.  Rows must be identical
after the operator's own rounding, an input that one path rejects must be
rejected by the other, and each call must record exactly one decision with
the path the rule implies.  The small-input tests elsewhere reach only the
bounded path, so this module is what keeps the distsort side covered.
"""

import math

import pytest

from polars_net_spark import _bounded
from polars_net_spark.operators.analytics import rmst, survival_curve
from polars_net_spark.operators.distsort import exact_quantiles, exact_quantiles_multi
from polars_net_spark.operators.regression import median_ci, pettitt_test

NAN, INF = float("nan"), float("inf")
DEFAULT_BOUND = _bounded.BOUND

# (t, e, v): survival reads (t, e), median_ci / exact_quantiles read t,
# pettitt_test reads (t, v)
FIXTURES = {
    "ties": [(float(i % 4), i % 2, float(i % 3)) for i in range(40)],
    "one_row": [(3.0, 1, 1.0)],
    "two_rows": [(1.0, 1, 2.0), (2.0, 0, 1.0)],
    "all_censored": [(float(i % 5), 0, float(i)) for i in range(20)],
    "one_time": [(7.0, 1, float(i)) for i in range(12)],
    "nonfinite": [
        (float(i % 7) if i % 11 else NAN, i % 3, float(i % 5) if i % 7 else NAN)
        for i in range(40)
    ]
    + [(INF, 1, 2.0), (-INF, 0, INF), (INF, 0, -INF), (NAN, 1, 1.0)],
    "empty": [],
    "repartitioned": [
        (float((i * 37) % 101), int(i % 4 != 0), float((i * 13) % 29))
        for i in range(400)
    ],
}


PROBS = [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]


def _rows(lf):
    return lf.collect().rows()


OPERATORS = {
    # name: (decision the call records, call)
    "survival_curve": ("survival_curve", lambda d: _rows(survival_curve(d, "t", "e"))),
    "rmst": ("survival_curve", lambda d: _rows(rmst(d, "t", "e", tau=3.5))),
    "median_ci": ("median_ci", lambda d: _rows(median_ci(d, "t"))),
    "exact_quantiles": (
        "exact_quantiles",
        lambda d: [exact_quantiles(d, "t", PROBS)],
    ),
    # one column, so one decision per call
    "exact_quantiles_multi": (
        "exact_quantiles_multi",
        lambda d: [exact_quantiles_multi(d, {"t": "t"}, PROBS)["t"]],
    ),
    "pettitt_test": ("pettitt_test", lambda d: _rows(pettitt_test(d, "t", "v"))),
}


def _canon(rows):
    """Rows comparable with ==: NaN (never equal to itself) becomes a tag."""
    def cell(x):
        return "NaN" if isinstance(x, float) and math.isnan(x) else x

    return sorted((tuple(cell(x) for x in r) for r in rows), key=repr)


def _run(monkeypatch, bound, operator, call, sdf):
    monkeypatch.setattr(_bounded, "BOUND", bound)
    _bounded.clear_decisions()
    try:
        result = ("rows", _canon(call(sdf)))
    except ValueError as ex:
        result = ("raises", type(ex).__name__)
    recs = [d for d in _bounded.decisions() if d["operator"] == operator]
    assert len(recs) == 1, recs  # one count per call (rmst reuses the curve's)
    return result, recs[0]


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_both_sides_of_the_bound_agree(spark, monkeypatch, op, fixture):
    operator, call = OPERATORS[op]
    data = FIXTURES[fixture]
    sdf = spark.createDataFrame(data, "t double, e int, v double")
    if fixture == "repartitioned":
        sdf = sdf.repartition(7)
    # 0 sends every non-empty input to distsort; the empty input needs -1
    forced = 0 if data else -1
    small, rec_small = _run(monkeypatch, DEFAULT_BOUND, operator, call, sdf)
    big, rec_big = _run(monkeypatch, forced, operator, call, sdf)

    assert rec_small["path"] == "bounded"
    assert rec_small["bound"] == DEFAULT_BOUND
    assert rec_big["path"] == "distsort"
    assert rec_big["bound"] == forced
    assert rec_small["n"] == rec_big["n"]
    assert big == small


def test_decision_record_is_bounded(spark):
    sdf = spark.createDataFrame([(1.0,)], "x double")
    _bounded.clear_decisions()
    maxlen = _bounded._DECISIONS.maxlen
    for _ in range(maxlen + 3):
        _bounded._DECISIONS.append({"operator": "pad", "path": "bounded", "n": 0, "bound": 0})
    guarded = _bounded.bounded(sdf, "probe")
    log = _bounded.decisions()
    assert len(log) == maxlen
    assert log[-1] == {"operator": "probe", "path": "bounded", "n": 1, "bound": DEFAULT_BOUND}
    assert guarded.n == 1 and guarded.small
    assert guarded.frame.storageLevel.useMemory or guarded.frame.storageLevel.useDisk
    _bounded.clear_decisions()


def test_explicit_driver_threshold_still_wins(spark):
    """exact_quantiles / exact_quantiles_multi / pettitt_test keep their
    driver_threshold argument; it overrides the module bound for that
    call."""
    sdf = spark.createDataFrame([(float(i), 0, float(i % 3)) for i in range(10)],
                                "t double, e int, v double")
    _bounded.clear_decisions()
    exact_quantiles(sdf, "t", [0.5], driver_threshold=0)
    exact_quantiles_multi(sdf, {"t": "t", "v": "v"}, [0.5], driver_threshold=5)
    pettitt_test(sdf, "t", "v", driver_threshold=0).collect()
    assert [
        (d["operator"], d["path"], d["n"], d["bound"]) for d in _bounded.decisions()
    ] == [
        ("exact_quantiles", "distsort", 10, 0),
        ("exact_quantiles_multi", "distsort", 10, 5),
        ("exact_quantiles_multi", "bounded", 3, 5),
        ("pettitt_test", "distsort", 10, 0),
    ]
