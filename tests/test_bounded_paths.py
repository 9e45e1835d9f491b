"""Branch parity for the one bound guard and the one ship helper
(polars_net_spark._bounded).

Each operator behind the guard runs twice on the same input: once with the
bound at its default (the single-task / driver path for these small
inputs) and once forced to the distributed path.  Rows must be identical
after the operator's own rounding, an input that one path rejects must be
rejected by the other, and each call must record exactly one decision with
the path the rule implies.  The small-input tests elsewhere reach only the
bounded path, so this module is what keeps the distributed side covered.
The sites that ship a driver-side object to the workers each register one
broadcast, and a plan collected again after ``release_caches()`` gives the
same rows.
"""

import math
from functools import partial

import pytest
from pyspark import Broadcast

from polars_net_spark import _bounded, _cache, release_caches
from polars_net_spark.llm.chunking import build_sft_examples
from polars_net_spark.llm.dedup import (
    containment_pairs,
    dedup_clusters,
    embedding_near_dup_pairs,
)
from polars_net_spark.llm.preference import bradley_terry
from polars_net_spark.llm.quality import bigram_logprob_frame
from polars_net_spark.llm.similarity import cosine_topk, embedding_threshold_join
from polars_net_spark.llm.vocab import (
    bpe_encode_frame,
    build_vocab,
    encode_tokens_frame,
    train_bpe,
)
from polars_net_spark.operators.analytics import rmst, survival_curve
from polars_net_spark.operators.graph import connected_components
from polars_net_spark.operators.distsort import (
    cell_ranks,
    exact_quantiles,
    exact_quantiles_multi,
)
from polars_net_spark.operators.regression import ipf_weights, median_ci, pettitt_test

NAN, INF = float("nan"), float("inf")
DEFAULT_BOUND = _bounded.BOUND
CONTAINMENT_BYTES = _bounded.BOUNDS["containment_pairs"]


def test_every_bound_is_pinned():
    """The one table of path bounds: a change to any of them moves inputs
    from one path to the other, so it must be deliberate."""
    assert _bounded.BOUND == 65_536
    assert _bounded.BOUNDS == {
        "bradley_terry": 50_000,
        "dedup_clusters": 400_000,
        "cosine_topk": 100_000,
        "embedding_near_dup_pairs": 200_000,
        "embedding_threshold_join": 200_000,
        "cell_ranks": 5_000_000,
        "ipf_weights": 4_096,
        "containment_pairs": 32 * 1024 * 1024,
    }


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


def _islands_and_chain():
    """26 ten-id islands (ids 0..259, some split into several components,
    edges in both orientations) beside a 40-edge chain 1000..1040 whose
    minimum sits at one end: 301 vertices, the chain the longest path."""
    rows = []
    for g in range(26):
        base = g * 10
        for i in range(10):
            j = (i * 7 + 3) % 10
            if i != j:
                rows.append((base + j, base + i) if i % 3 else (base + i, base + j))
    return rows + [(1040 - i, 1039 - i) for i in range(40)]


# connected_components' edge lists: fixture -> (DDL, rows)
EDGES = {
    "empty": ("src long, dst long", []),
    "one_edge": ("src long, dst long", [(7, 3)]),
    "self_loops": ("src long, dst long", [(3, 3), (5, 5), (3, 3)]),
    "null_endpoints": (
        "src long, dst long", [(1, None), (None, 2), (None, None), (4, 3), (None, 4)]
    ),
    "duplicates": (
        "src long, dst long", [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (9, 8), (8, 9)]
    ),
    "string_ids": (
        "src string, dst string", [("b", "a"), ("c", "b"), ("x", "y"), ("y", "y"), ("é", "z")]
    ),
    "islands_and_chain": ("src long, dst long", _islands_and_chain()),
}


def _min_id_labels(rows):
    """Reference components: (vertex, minimum id of its component) over the
    non-null, non-loop edges, by graph search."""
    adj: dict = {}
    for a, b in rows:
        if a is not None and b is not None and a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    label: dict = {}
    for v in sorted(adj):
        if v in label:
            continue
        stack = [v]  # sorted order: v is its component's minimum
        while stack:
            u = stack.pop()
            if u not in label:
                label[u] = v
                stack.extend(adj[u])
    return [(v, c) for v, c in label.items()]


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
    # above the 41 rounds a plain min-label loop needs on the 40-edge chain
    "connected_components": (
        "connected_components", lambda d: _rows(connected_components(d, max_rounds=64))
    ),
}
SIDES = [
    (op, fixture)
    for op in sorted(OPERATORS)
    for fixture in sorted(EDGES if op == "connected_components" else FIXTURES)
]


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


@pytest.mark.parametrize("op,fixture", SIDES)
def test_both_sides_of_the_bound_agree(spark, monkeypatch, op, fixture):
    operator, call = OPERATORS[op]
    if op == "connected_components":
        ddl, data = EDGES[fixture]
    else:
        ddl, data = "t double, e int, v double", FIXTURES[fixture]
    sdf = spark.createDataFrame(data, ddl)
    if fixture == "repartitioned":
        sdf = sdf.repartition(7)
    # a bound of 0 sends every input to the distributed path, the empty
    # one included
    forced = 0
    small, rec_small = _run(monkeypatch, DEFAULT_BOUND, operator, call, sdf)
    big, rec_big = _run(monkeypatch, forced, operator, call, sdf)

    assert rec_small["path"] == "bounded"
    assert rec_small["bound"] == DEFAULT_BOUND
    assert rec_big["path"] == "distributed"
    assert rec_big["bound"] == forced
    assert rec_small["n"] == rec_big["n"]
    assert big == small
    if op == "connected_components":
        assert small == ("rows", _canon(_min_id_labels(data)))


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


# ---------------------------------------------------------------------------
# sites that keep their own decision and only record it


def _records(operator):
    return [d for d in _bounded.decisions() if d["operator"] == operator]


def test_recorded_sites_log_one_decision_per_call(spark, force_distributed):
    cells = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, v double"
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps over it"),
         (3, "nothing in common here")],
        "doc_id long, text string",
    )
    raking = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("b", "y")], "r string, c string"
    )
    calls = [
        ("cell_ranks", lambda: cell_ranks(cells, "v", "k"), 3),
        # 10 hashed gram occurrences, 8 bytes of gram and 8 of df each
        ("containment_pairs",
         lambda: containment_pairs(docs, threshold=0.5, prefix_order="df", max_gram_df=5),
         160),
        ("ipf_weights",
         lambda: ipf_weights(raking, "r", "c", {"a": 0.5, "b": 0.5}, {"x": 0.5, "y": 0.5}),
         4),
    ]
    for forced in (False, True):
        if forced:
            force_distributed()
        for operator, call, n in calls:
            _bounded.clear_decisions()
            call().collect()
            expected = ("distributed", n, 0) if forced else (
                "bounded", n, _bounded.BOUNDS[operator]
            )
            recs = _records(operator)
            assert [(d["path"], d["n"], d["bound"]) for d in recs] == [expected], operator
    _bounded.clear_decisions()


def test_containment_broadcast_is_bounded_by_bytes(spark, monkeypatch):
    """Few but long string grams: 10 occurrences of 3,002-byte grams.  The
    recorded size is their bytes plus 8 per df, so a byte bound below it
    takes the shuffle side (no broadcast hint in the plan) although the
    occurrence count is tiny, and both sides give the same pairs."""
    words = [c * 1000 for c in "abcdefgh"]
    docs = spark.createDataFrame(
        [(1, " ".join(words[:5])), (2, " ".join(words[:6])), (3, " ".join(words[3:]))],
        "doc_id long, text string",
    )
    n_bytes = 10 * 3002 + 10 * 8

    def run():
        _bounded.clear_decisions()
        sdf = containment_pairs(docs, threshold=0.5, prefix_order="df", gram_hash=False).spark
        rows = sorted(tuple(r) for r in sdf.collect())
        hinted = "strategy=broadcast" in sdf._jdf.queryExecution().analyzed().toString()
        (rec,) = _records("containment_pairs")
        return rows, hinted, (rec["path"], rec["n"], rec["bound"])

    wide = run()
    assert wide[1:] == (True, ("bounded", n_bytes, CONTAINMENT_BYTES))
    monkeypatch.setitem(_bounded.BOUNDS, "containment_pairs", n_bytes - 1)
    narrow = run()
    assert narrow[1:] == (False, ("distributed", n_bytes, n_bytes - 1))
    assert narrow[0] == wide[0]
    assert (1, 2, 1.0) in wide[0]
    release_caches()
    _bounded.clear_decisions()


# ---------------------------------------------------------------------------
# ship: every site registers one broadcast, before and after release

_WORDS = "alpha beta gamma delta eps zeta eta theta iota kappa".split()
DOCS = [
    (i, " ".join(_WORDS[(i * k + k * k) % len(_WORDS)] for k in range(1 + i % 6)))
    for i in range(40)
]
VECS = [
    (i, [float((i * 7 + j * 3) % 5) + (0.0 if i % 3 else 1e-3 * j) for j in range(4)])
    for i in range(30)
]


def _ship_sites(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    sft = spark.createDataFrame(
        [(i, t, t[::-1]) for i, t in DOCS], "doc_id long, prompt string, response string"
    )
    vecs = spark.createDataFrame(VECS, "vec_id long, embedding array<double>")
    vocab = build_vocab(docs, vocab_size=6)
    merges = train_bpe(docs, num_merges=8)
    return {
        "encode_tokens_frame": lambda: encode_tokens_frame(docs, vocab),
        "bpe_encode_frame": lambda: bpe_encode_frame(docs, merges),
        "build_sft_examples": lambda: build_sft_examples(sft, vocab),
        "bigram_logprob_frame": lambda: bigram_logprob_frame(docs, vocab_size=5),
        "cosine_topk": lambda: cosine_topk(vecs, vecs.filter("vec_id < 7"), k=3),
        "embedding_threshold_join": lambda: embedding_threshold_join(
            vecs, vecs.filter("vec_id < 9"), threshold=0.9
        ),
        "embedding_near_dup_pairs": lambda: embedding_near_dup_pairs(vecs, threshold=0.9),
    }


SHIP_SITES = [
    "bigram_logprob_frame",
    "bpe_encode_frame",
    "build_sft_examples",
    "cosine_topk",
    "embedding_near_dup_pairs",
    "embedding_threshold_join",
    "encode_tokens_frame",
]


def _broadcasts():
    return sum(isinstance(h, Broadcast) for h in _cache._CACHES)


@pytest.mark.parametrize("site", SHIP_SITES)
def test_ship_sites_release_and_rerun(spark, site):
    build = _ship_sites(spark)[site]
    release_caches()
    lf = build()
    assert _broadcasts() == 1
    rows = _canon(lf.collect().rows())
    assert rows
    release_caches()  # unpersists the broadcast: the plan fetches it again
    assert _broadcasts() == 0
    assert _canon(lf.collect().rows()) == rows


# ---------------------------------------------------------------------------
# the driver-or-distributed iterative fits, both sides on the same inputs

PAIRS = {
    "empty": [],
    "one_row": [(1, 2)],
    "all_ties": [(1, 2)] * 5 + [(2, 1)] * 5,
    "many": [(i % 150, (i * 7 + 3) % 150) for i in range(320)],
}
COMPARISONS = {
    "empty": [],
    "one_row": [("a", "b")],
    "all_ties": [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")] * 4,
    "many": [(f"i{(i * 5) % 13}", f"i{(i * 3 + 1 + i % 4) % 13}") for i in range(360)],
}
CORPORA = {
    "empty": [],
    "one_row": [(0, "low lower lowest")],
    "all_ties": [(i, "abc def ghi") for i in range(3)],
    "many": DOCS * 8,
}

FITS = {
    # name: (schema, fixtures, call(frame))
    "dedup_clusters": ("id_a long, id_b long", PAIRS, dedup_clusters),
    "bradley_terry": ("chosen string, rejected string", COMPARISONS, bradley_terry),
    "train_bpe": ("doc_id long, text string", CORPORA, partial(train_bpe, num_merges=6)),
}


@pytest.mark.parametrize("fixture", ["empty", "one_row", "all_ties", "many"])
@pytest.mark.parametrize("operator", sorted(FITS))
def test_driver_and_distributed_fits_agree(spark, force_distributed, operator, fixture):
    schema, fixtures, call = FITS[operator]
    data = fixtures[fixture]
    sdf = spark.createDataFrame(data, schema)
    # the public default keeps these inputs on the driver; 0 forces every
    # input to the distributed path, the empty one included
    results = []
    for path in ("bounded", "distributed"):
        if path == "distributed":
            force_distributed()
        _bounded.clear_decisions()
        before = _cache.cached_count()
        lf = call(sdf)
        if operator == "train_bpe":
            # the merge table is a local list: the word-count cache is
            # released before train_bpe returns
            assert _cache.cached_count() == before
        results.append(_canon(lf.collect().rows()))
        (rec,) = _records(operator)
        assert rec["path"] == path
    release_caches()
    assert results[0] == results[1]
    assert bool(results[0]) == bool(data)


# ---------------------------------------------------------------------------
# the vector operators: a broadcast numpy matrix below the bound, a
# broadcast join (cosine_topk) or hyperplane buckets above it

_SPREAD = [(i, [float(i), 1.0, float(i % 2)]) for i in range(1, 8)]
VEC_FIXTURES = {
    "empty": [],
    "one_row": [(0, [1.0, 2.0, 3.0])],
    "all_ties": [(i, [1.0, 2.0, 3.0]) for i in range(6)],
    "zero_norm": [(0, [0.0, 0.0, 0.0])] + _SPREAD,
    "null_vector": [(0, None)] + _SPREAD,
}
VECTOR_OPS = {
    "cosine_topk": lambda d: _rows(cosine_topk(d, d.filter("vec_id < 4"), k=3)),
    "embedding_near_dup_pairs": lambda d: _rows(embedding_near_dup_pairs(d, threshold=0.5)),
    "embedding_threshold_join": lambda d: _rows(
        embedding_threshold_join(d, d.filter("vec_id % 2 = 0"), threshold=0.5)
    ),
}


@pytest.mark.parametrize("fixture", sorted(VEC_FIXTURES))
@pytest.mark.parametrize("operator", sorted(VECTOR_OPS))
def test_vector_operators_agree_on_both_sides(spark, force_distributed, operator, fixture):
    """cosine_topk's two paths are bit-identical.  The bucketed pairs of
    the other two are a subset of the numpy pairs with identical cosines
    (buckets may cost recall, never precision), and all of them when every
    vector is the same, since equal vectors share every bucket."""
    sdf = spark.createDataFrame(VEC_FIXTURES[fixture], "vec_id long, embedding array<double>")
    _bounded.clear_decisions()
    small = _canon(VECTOR_OPS[operator](sdf))
    force_distributed()
    big = _canon(VECTOR_OPS[operator](sdf))
    recs = _records(operator)
    assert [d["path"] for d in recs] == ["bounded", "distributed"]
    assert recs[0]["n"] == recs[1]["n"]
    if operator == "cosine_topk" or fixture == "all_ties":
        assert big == small
    else:
        assert set(big) <= set(small)
    if fixture == "all_ties":
        assert small
    release_caches()
