"""One cache lifecycle (``polars_net_spark/_cache.py``).

(a) No module but ``_cache.py`` persists, unpersists or names the registry.
(b) ``replace_cache`` advances loop state inside nested ``scoped_caches()``
    blocks without disturbing any scope's mark.
(c) Every operator that caches internally and returns a driver-built row
    or a plan that reads none of its caches leaves Spark's CacheManager
    empty, on a successful input and on its documented raise input.
"""

import ast
import os

import pytest

from polars_net_spark import _cache
from polars_net_spark._cache import cached_count, register_cache, replace_cache, scoped_caches

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "polars_net_spark")


def _registry_uses():
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), PKG).replace(os.sep, "/")
            if not name.endswith(".py") or rel == "_cache.py":
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "unpersist", "cache")
                ):
                    found.append((rel, node.lineno, node.func.attr))
                elif (
                    (isinstance(node, ast.Name) and node.id == "_CACHES")
                    or (isinstance(node, ast.Attribute) and node.attr == "_CACHES")
                    or (isinstance(node, ast.alias) and node.name == "_CACHES")
                ):
                    found.append((rel, getattr(node, "lineno", None), "_CACHES"))
    return found


def test_only_cache_module_persists():
    assert _registry_uses() == []


# --- (b) loop state inside nested scopes ------------------------------------


class _Handle:
    def __init__(self, name, log):
        self.name, self.log = name, log

    def persist(self, *level):
        return self

    def unpersist(self):
        self.log.append(self.name)


def test_replace_keeps_every_scope_mark():
    log = []
    start = cached_count()
    with scoped_caches():
        register_cache(_Handle("before", log))
        state = register_cache(_Handle("s0", log))
        for r in (1, 2, 3):
            with scoped_caches():
                register_cache(_Handle(f"tmp{r}", log))
                with scoped_caches():
                    register_cache(_Handle(f"inner{r}", log))
                    state, probed = replace_cache(state, _Handle(f"s{r}", log), lambda h: h.name)
                    assert probed == f"s{r}"
                    # the old round goes only after the probe has run
                    assert log[-1] == f"s{r - 1}"
                # each exit releases exactly what its own scope registered
                assert log[-1] == f"inner{r}"
            assert log[-1] == f"tmp{r}"
            assert cached_count() == start + 2
        assert _cache._CACHES[-1] is state
    assert log[-2:] == ["s3", "before"]
    assert cached_count() == start


def test_replace_releases_old_when_probe_raises():
    log = []
    start = cached_count()

    def probe(h):
        raise RuntimeError("probe failed")

    with pytest.raises(RuntimeError, match="probe failed"):
        with scoped_caches():
            state = register_cache(_Handle("old", log))
            replace_cache(state, _Handle("new", log), probe, stored=True)
    assert log == ["old", "new"]
    assert cached_count() == start


# --- (c) CacheManager empty after every touched operator --------------------


def _cases():
    from polars_net_spark.llm.similarity import kmeans_report
    from polars_net_spark.llm.vocab import train_bpe
    from polars_net_spark.operators.analytics import eb_shrunk_rates, weibull_fit
    from polars_net_spark.operators.graph import bfs_distances, k_core
    from polars_net_spark.operators import regression as rg

    chain = [(i, i + 1) for i in range(10)]
    # a triangle whose tail peels one vertex per round, past two checkpoints
    tailed = [(100, 101), (101, 102), (100, 102), (11, 100)] + [(i, i + 1) for i in range(11)]
    trend = [(float(t), float(t % 3 + t)) for t in range(8)]
    step = [(float(t), 1.0 if t < 6 else 5.0) for t in range(12)]
    surv = [(1.0, 1, 0.5), (2.0, 1, 1.5), (3.0, 0, 0.2), (4.0, 1, 2.0), (5.0, 0, 1.0)]
    logit = [(float(x), int(x in (1, 3, 4, 6))) for x in range(8)]
    vecs = [(i, [float(i % 2), float(i // 2)]) for i in range(6)]
    docs = ["low lower lowest", "new newer newest", "wide wider widest"] * 3
    # name -> (ddl, success rows, raise rows or None, fn); a name ending in
    # _distributed runs with every bound at 0
    return {
        "mann_kendall": ("t double, v double", trend, trend[:2],
                         lambda d: rg.mann_kendall(d, "t", "v")),
        "jackknife_ratio_ci": ("n double, d double, g long",
                               [(1.0, 2.0, 1), (2.0, 3.0, 2), (3.0, 3.0, 3)], [(1.0, 2.0, 1)],
                               lambda d: rg.jackknife_ratio_ci(d, "n", "d", "g")),
        "huber_fit": ("x double, y double", [(1.0, 2.0), (2.0, 4.1), (3.0, 6.0), (4.0, 30.0)],
                      [(1.0, 2.0)], lambda d: rg.huber_fit(d, "x", "y")),
        "fe_regression": ("y double, x double, u long",
                          [(1.0, 1.0, 1), (2.5, 2.0, 1), (2.0, 1.0, 2), (4.0, 3.0, 2)],
                          [(1.0, 1.0, 1)], lambda d: rg.fe_regression(d, "y", "x", "u")),
        "pettitt_bounded": ("t double, v double", step, step[:2],
                            lambda d: rg.pettitt_test(d, "t", "v")),
        "pettitt_distributed": ("t double, v double", step, step[:2],
                                lambda d: rg.pettitt_test(d, "t", "v")),
        "cox_ph": ("t double, e long, x double", surv, [(t, 0, x) for t, _, x in surv],
                   lambda d: rg.cox_ph(d, "t", "e", "x")),
        "logistic_fit": ("x double, y long", logit, [(x, 1) for x, _ in logit],
                         lambda d: rg.logistic_fit(d, "x", "y")),
        "weibull_fit": ("v double", [(float(v),) for v in (1, 2, 2, 3, 5, 8)], [(1.0,), (-2.0,)],
                        lambda d: weibull_fit(d, "v")),
        "eb_shrunk_rates": ("k string, s double",
                            [(k, float(s)) for k, s in zip("aaabbbccc", (1, 0, 0, 1, 1, 0, 1, 1, 1))],
                            [("a", 1.0), ("b", 0.0)], lambda d: eb_shrunk_rates(d, "k", "s")),
        "kmeans_report": ("vec_id long, embedding array<double>", vecs, vecs[:1],
                          lambda d: kmeans_report(d, k=2, iters=2)),
        "k_core": ("src long, dst long", tailed, chain,
                   lambda d, rounds=30: k_core(d, 2, max_rounds=rounds)),
        "bfs_distances": ("src long, dst long", chain, chain,
                          lambda d, rounds=20: bfs_distances(d, [0], max_rounds=rounds)),
        "train_bpe_distributed": ("text string", [(t,) for t in docs], None,
                                  lambda d: train_bpe(d, num_merges=7, checkpoint_every=3)),
    }


# the raise inputs of k_core and bfs_distances are a round limit, not rows
RAISE_KW = {"k_core": {"rounds": 1}, "bfs_distances": {"rounds": 1}}


def _cache_manager_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name,outcome", [
    (name, outcome)
    for name, case in sorted(_cases().items())
    for outcome in ("success", "raise")[: 1 if case[2] is None else 2]
])
def test_operator_leaves_no_cached_blocks(spark, force_distributed, name, outcome):
    ddl, ok_rows, bad_rows, fn = _cases()[name]
    if name.endswith("_distributed"):
        force_distributed()
    rows = ok_rows if outcome == "success" else bad_rows
    frame = spark.createDataFrame(rows, ddl)
    spark.catalog.clearCache()
    if outcome == "success":
        assert fn(frame).spark.collect()
    else:
        with pytest.raises((ValueError, RuntimeError)):
            fn(frame, **RAISE_KW.get(name, {})).spark.collect()
    assert _cache_manager_empty(spark)
