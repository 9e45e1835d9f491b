"""Preference-pair construction for RLHF/DPO training data.

Given scored responses grouped by prompt, emit (chosen, rejected) training
pairs.  The reference repo has no RLHF surface; this extends the
training-data-pipeline block (flatten_chat_frame is the SFT sibling) with the
standard preference-optimization prep step.

Scale design: ``strategy='best_worst'`` is ONE groupBy aggregate — chosen and
rejected are struct-max/struct-min aggregates (score, id, response), which
combine map-side, so 100 TB of responses reduces to one partial-aggregated
shuffle keyed by prompt and one output row per prompt.  No window, no sort.
``strategy='all_pairs'`` self-joins within the prompt key (O(k²) pairs per
prompt of k responses — use only when responses-per-prompt is bounded; the
docstring contract mirrors the group-materializing aggregates elsewhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .._bounded import bounded
from .._cache import register_cache
from ..frame import LazyFrame

__all__ = ["preference_pairs"]


def preference_pairs(
    frame: "LazyFrame | SparkDF",
    group_col: str = "prompt_id",
    response_col: str = "text",
    score_col: str = "score",
    id_col: str = "doc_id",
    min_margin: float = 0.0,
    strategy: str = "best_worst",
    round_to: int = 6,
) -> LazyFrame:
    """(group, chosen_id, rejected_id, chosen, rejected, margin) pairs.

    best_worst: per group the highest-scored response is ``chosen`` and the
    lowest-scored is ``rejected`` (ties broken by id — highest id wins the
    chosen side, lowest id the rejected side, so the result is deterministic
    and engine-portable).  Self-pairs (single-response groups) are always
    dropped; ``min_margin`` additionally requires
    ``score(chosen) - score(rejected) >= min_margin``.

    all_pairs: every ordered pair with a score gap ≥ max(min_margin, >0)
    within the group.
    """
    sdf = frame if isinstance(frame, SparkDF) else frame.spark
    score = F.col(score_col).cast("double")
    if strategy == "best_worst":
        # struct ordering = (score, id, response) lexicographic; id is unique
        # so response never participates — it rides along for extraction.
        packed = sdf.select(
            F.col(group_col),
            F.struct(
                score.alias("s"),
                F.col(id_col).alias("i"),
                F.col(response_col).alias("r"),
            ).alias("__p__"),
        )
        agg = packed.groupBy(group_col).agg(
            F.max("__p__").alias("hi"), F.min("__p__").alias("lo")
        )
        out = (
            agg.select(
                F.col(group_col),
                F.col("hi.i").alias("chosen_id"),
                F.col("lo.i").alias("rejected_id"),
                F.col("hi.r").alias("chosen"),
                F.col("lo.r").alias("rejected"),
                F.round(F.col("hi.s") - F.col("lo.s"), round_to).alias("margin"),
            )
            .filter(F.col("chosen_id") != F.col("rejected_id"))
            .filter(F.col("hi.s") - F.col("lo.s") >= F.lit(min_margin))
        )
        return LazyFrame(out)
    if strategy == "all_pairs":
        gap = max(min_margin, 0.0)
        base = sdf.select(
            F.col(group_col),
            F.col(id_col).alias("i"),
            F.col(response_col).alias("r"),
            score.alias("s"),
        )
        a = base.select(
            group_col,
            F.col("i").alias("chosen_id"),
            F.col("r").alias("chosen"),
            F.col("s").alias("sa"),
        )
        b = base.select(
            group_col,
            F.col("i").alias("rejected_id"),
            F.col("r").alias("rejected"),
            F.col("s").alias("sb"),
        )
        cond = (F.col("sa") > F.col("sb")) & (
            F.col("sa") - F.col("sb") >= F.lit(gap)
        )
        out = (
            a.join(b, on=group_col)
            .filter(cond)
            .select(
                group_col,
                "chosen_id",
                "rejected_id",
                "chosen",
                "rejected",
                F.round(F.col("sa") - F.col("sb"), round_to).alias("margin"),
            )
        )
        return LazyFrame(out)
    raise ValueError(f"unknown strategy {strategy!r}")


def bradley_terry(
    frame: "LazyFrame | SparkDF",
    winner_col: str = "chosen",
    loser_col: str = "rejected",
    iterations: int = 8,
    round_to: int = 6,
) -> LazyFrame:
    """Bradley–Terry strength scores from pairwise preference outcomes —
    the model behind RLHF reward-data QA and ranker evaluation: item i
    beats j with probability pᵢ/(pᵢ+pⱼ).  Fit by Hunter's (2004) MM
    iteration: pᵢ ← Wᵢ / Σ_j nᵢⱼ/(pᵢ+pⱼ) over items j compared with i,
    with Wᵢ total wins and nᵢⱼ the number of i-vs-j comparisons.  A FIXED
    ``iterations`` count (monotone in likelihood; default 8 is
    plateau-close on typical preference sets) keeps the result a
    deterministic function of the data — replayable by an external
    engine as unrolled rounds.  Scores normalize to sum 1; an item with
    zero wins converges to score 0 (kept, not dropped).

    Scale shape mirrors pagerank: comparisons collapse once to canonical
    (lo, hi, n, wins_lo) edges (one map-side-combining aggregate), and
    each round is one item-keyed join of scores onto edge endpoints + one
    item-keyed sum — all equi-joins, rounds bounded by ``iterations``.
    When the comparison GRAPH is small (≤ 50,000 edges, its ``_bounded``
    bound — the item-catalog case: brands, model variants, prompt
    templates), the
    MM rounds run on the DRIVER over the collected edge list instead of
    6 × 3 Spark stages over a few hundred rows — same arithmetic, same
    result, an order of magnitude less wall (the dedup_clusters
    driver-path pattern, through ``_bounded.bounded``).  The distributed
    path remains for web-scale item spaces.

    Output: (item, n_comparisons, wins, score) — score descending is the
    preference ranking."""
    sdf = _sdf_pref(frame)
    w = F.col(winner_col).cast("string")
    l = F.col(loser_col).cast("string")
    base = sdf.filter(w.isNotNull() & l.isNotNull() & (w != l)).select(
        w.alias("__w__"), l.alias("__l__")
    )
    lo, hi = F.least("__w__", "__l__"), F.greatest("__w__", "__l__")
    # persist the edge aggregate once, then a plain count (limit-based
    # probing re-runs the upstream aggregate incrementally — the
    # dedup_clusters lesson)
    edges, _, small = bounded(
        base.groupBy(lo.alias("a"), hi.alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("__w__") == F.least("__w__", "__l__")).cast("long")).alias("wa"),
        ),
        "bradley_terry",
    )
    per_item = (
        edges.select(F.col("a").alias("item"), F.col("n"), F.col("wa").alias("wins"))
        .unionByName(
            edges.select(
                F.col("b").alias("item"), F.col("n"), (F.col("n") - F.col("wa")).alias("wins")
            )
        )
        .groupBy("item")
        .agg(F.sum("n").alias("n_comparisons"), F.sum("wins").alias("wins"))
    )
    if small:
        erows = [(r["a"], r["b"], int(r["n"]), int(r["wa"])) for r in edges.collect()]
        wins: dict = {}
        ncmp: dict = {}
        for a, b, n, wa in erows:
            wins[a] = wins.get(a, 0) + wa
            wins[b] = wins.get(b, 0) + (n - wa)
            ncmp[a] = ncmp.get(a, 0) + n
            ncmp[b] = ncmp.get(b, 0) + n
        ps = {i: 1.0 for i in wins}
        for _ in range(int(iterations)):
            dn = {i: 0.0 for i in ps}
            for a, b, n, _wa in erows:
                t = n / (ps[a] + ps[b])
                dn[a] += t
                dn[b] += t
            ps = {i: (wins[i] / dn[i] if dn[i] > 0 else 0.0) for i in ps}
        tp = sum(ps.values())
        data = sorted(
            (i, int(ncmp[i]), int(wins[i]),
             round(ps[i] / tp, round_to) if tp > 0 else 0.0)
            for i in ps
        )
        out = sdf.sparkSession.createDataFrame(
            data, "item string, n_comparisons bigint, wins bigint, score double"
        )
        return LazyFrame(out)
    per_item = register_cache(per_item)
    p = per_item.select("item", F.lit(1.0).alias("p"))
    for _ in range(int(iterations)):
        ej = (
            edges.join(p.select(F.col("item").alias("a"), F.col("p").alias("pa")), "a")
            .join(p.select(F.col("item").alias("b"), F.col("p").alias("pb")), "b")
        )
        denom = (
            ej.select(F.col("a").alias("item"), (F.col("n") / (F.col("pa") + F.col("pb"))).alias("t"))
            .unionByName(
                ej.select(F.col("b").alias("item"), (F.col("n") / (F.col("pa") + F.col("pb"))).alias("t"))
            )
            .groupBy("item")
            .agg(F.sum("t").alias("dn"))
        )
        p = (
            per_item.join(denom, "item")
            .select("item", (F.col("wins") / F.col("dn")).alias("p"))
        )
        p = p.localCheckpoint(eager=False)
    tot = p.agg(F.sum("p").alias("__tp__"))
    out = (
        per_item.join(p, "item")
        .join(F.broadcast(tot))
        .select(
            "item",
            F.col("n_comparisons").cast("long").alias("n_comparisons"),
            F.col("wins").cast("long").alias("wins"),
            F.round(
                F.when(F.col("__tp__") > 0, F.col("p") / F.col("__tp__")).otherwise(
                    F.lit(0.0)
                ),
                round_to,
            ).alias("score"),
        )
    )
    return LazyFrame(out)


def _sdf_pref(frame):
    return frame if isinstance(frame, SparkDF) else frame.spark


__all__.append("bradley_terry")
