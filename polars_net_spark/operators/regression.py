"""Closed-form per-key statistics: grouped OLS fit and key-skew reporting.

Both are pure aggregate compositions (map-side combining, one shuffle on the
key) — the "fit a trend per user / find the hot keys" analytics that usually
get exported to pandas happen in-plan instead, at any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from .._arrow import map_batches
from .._bounded import bounded, record
from .._cache import register_cache, scoped_caches
from ..frame import LazyFrame
from ..session import scoped_checkpoint_dir

__all__ = ["fit_linear_by_key", "key_skew_report", "corr_matrix", "bootstrap_ci", "welch_ttest", "chi2_independence", "mann_whitney_u", "spearman_corr", "cohens_kappa", "fleiss_kappa", "ks_test", "prop_ztest"]


def _sdf(frame):
    return frame if isinstance(frame, SparkDF) else frame.spark


def fit_linear_by_key(
    frame: "LazyFrame | SparkDF",
    key_cols: "str | list[str]",
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Per-key ordinary-least-squares fit of ``y ~ a + b·x``: one row per key
    with (n, slope, intercept, r2), computed from the five power sums — a
    single map-side-combining aggregate, no window, no iteration.

    Rows where x or y is null are excluded (SQL REGR_* semantics).  Keys
    with zero x-variance give null slope/intercept/r2; r2 is null when y has
    zero variance.  Keep |x| modest (e.g. days since an epoch, not raw
    microseconds): the power sums square x, and 1e15-scale x burns double
    precision.
    """
    sdf = _sdf(frame)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    xm = F.when(both, x)
    ym = F.when(both, y)
    agg = sdf.groupBy(*keys).agg(
        F.count(xm).cast("double").alias("n"),
        F.sum(xm).alias("sx"),
        F.sum(ym).alias("sy"),
        F.sum(xm * xm).alias("sxx"),
        F.sum(ym * ym).alias("syy"),
        F.sum(xm * ym).alias("sxy"),
    )
    nxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    nyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    nxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(nxx > 0, nxy / nxx)
    intercept = F.when(nxx > 0, (F.col("sy") - nxy / nxx * F.col("sx")) / F.col("n"))
    r2 = F.when((nxx > 0) & (nyy > 0), (nxy * nxy) / (nxx * nyy))
    out = agg.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(slope, round_to).alias("slope"),
        F.round(intercept, round_to).alias("intercept"),
        F.round(r2, round_to).alias("r2"),
    )
    return LazyFrame(out)


def key_skew_report(
    frame: "LazyFrame | SparkDF",
    key_cols: "str | list[str]",
    top_k: int = 20,
    round_to: int = 6,
) -> LazyFrame:
    """The ``top_k`` heaviest keys with their row counts and corpus fraction
    — the "which key will wreck my shuffle" probe to run BEFORE a big join
    or window (pipe the winners into salted_join / cap_per_key /
    length-bucket shards).

    One map-side-combining count + TakeOrdered top-k; the total is a 1-row
    aggregate attached by broadcast (the audited bounded-broadcast class).
    Output: key cols, cnt, frac, desc rank.
    """
    sdf = _sdf(frame)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = sdf.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total__"))
    top = (
        counts.join(F.broadcast(total))
        .orderBy(F.col("cnt").desc(), *[F.col(k) for k in keys])
        .limit(int(top_k))
    )
    # rank window runs on the top_k-row result only (bounded by construction)
    w_rank = F.row_number().over(
        Window.orderBy(F.col("cnt").desc(), *[F.col(k) for k in keys])
    )
    out = top.select(
        *keys,
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") / F.col("__total__"), round_to).alias("frac"),
        w_rank.alias("rank"),
    )
    return LazyFrame(out)


def corr_matrix(
    frame: "LazyFrame | SparkDF",
    cols: "list[str]",
    round_to: int = 6,
) -> LazyFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE aggregate pass —
    long-format output (col_a, col_b, corr, both upper-triangle orders
    excluded; a < b by input position).  F.corr handles pairwise null
    exclusion (rows missing either value drop from that pair only).

    k columns → k(k−1)/2 corr aggregates in a single map-side-combining
    groupBy-less agg; keep k modest (≤ ~40, i.e. ≤ 800 aggregates) — the
    cost is plan width, not data passes (the corpus is scanned ONCE).
    """
    sdf = _sdf(frame)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    aggs = []
    names = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(
                F.round(F.corr(F.col(a).cast("double"), F.col(b).cast("double")), round_to)
                .alias(f"__c_{a}__{b}__")
            )
            names.append((a, b))
    one = sdf.agg(*aggs)
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col(f"__c_{a}__{b}__").alias("corr"),
                )
                for a, b in names
            ]
        )
    )
    out = one.select(entries.alias("e")).select("e.col_a", "e.col_b", "e.corr")
    return LazyFrame(out)


# Poisson(1) CDF thresholds for the deterministic bootstrap draw:
# P(X<=k) for k = 0..5; u above the last threshold -> multiplicity 6.
_POISSON1_CDF = [0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 0.999406]


def bootstrap_ci(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    n_boot: int = 100,
    alpha: float = 0.05,
    salt: str = "",
    id_col: str | None = None,
    round_to: int = 6,
) -> LazyFrame:
    """Poisson-bootstrap confidence interval for the MEAN, with zero RNG
    state: replicate b gives row i multiplicity m_ib ~ Poisson(1) drawn by
    inverse-CDF over the portable md5 hash of (salt, id, b) — the standard
    scalable bootstrap (each replicate is one weighted aggregate; the data
    is never resampled or shuffled per replicate) made rerun/engine/layout
    deterministic.

    Output per key: mean, ci_lo, ci_hi (percentile method over the
    ``n_boot`` replicate means), n.  Cost: one explode to ``n_boot`` light
    (key, b, m·x, m) rows per input row + one aggregate — tune n_boot to
    the budget.  ``id_col`` seeds the draw (default: the value's row
    identity must come from somewhere — pass a unique id for exactness;
    falling back to monotonically_increasing_id would break rerun
    determinism across partitionings, so it is required).
    """
    sdf = _sdf(frame)
    if id_col is None:
        raise ValueError("bootstrap_ci needs id_col (a stable unique row id)")
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    b = F.explode(F.sequence(F.lit(1), F.lit(int(n_boot)))).alias("__b__")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col(id_col).cast("string"),
                        F.lit("#"),
                        F.col("__b__").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 48))
    m = F.lit(len(_POISSON1_CDF))
    for k in reversed(range(len(_POISSON1_CDF))):
        m = F.when(u <= _POISSON1_CDF[k], F.lit(k)).otherwise(m)
    # rebalance BEFORE the n_boot-way fan-out: a single-file input otherwise
    # runs the whole explode + md5 chain in one task (measured 6.3 s -> 0.7 s
    # at sf0.1 on local[32])
    par = sdf.sparkSession.sparkContext.defaultParallelism
    staged = (
        sdf.filter(v.isNotNull())
        .select(*keys, v.alias("__v__"), F.col(id_col))
        .repartition(par)
        .select(*keys, "__v__", F.col(id_col), b)
    )
    drawn = staged.withColumn("__m__", m.cast("double"))
    reps = drawn.groupBy(*keys, "__b__").agg(
        (F.sum(F.col("__m__") * F.col("__v__")) / F.sum("__m__")).alias("__mean_b__")
    )
    lo, hi = alpha / 2, 1 - alpha / 2
    cis = reps.groupBy(*keys).agg(
        F.percentile(F.col("__mean_b__"), F.lit(lo)).alias("__lo__"),
        F.percentile(F.col("__mean_b__"), F.lit(hi)).alias("__hi__"),
    )
    base = sdf.groupBy(*keys).agg(
        F.avg(v).alias("__mean__"), F.count(v).alias("__n__")
    )
    joined = base.join(cis, keys) if keys else base.join(F.broadcast(cis))
    out = joined.select(
        *keys,
        F.round("__mean__", round_to).alias("mean"),
        F.round("__lo__", round_to).alias("ci_lo"),
        F.round("__hi__", round_to).alias("ci_hi"),
        F.col("__n__").cast("long").alias("n"),
    )
    return LazyFrame(out)


def welch_ttest(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Welch's unequal-variance two-sample t statistic from one aggregate
    pass: t = (m_a − m_b) / √(s²_a/n_a + s²_b/n_b), with the
    Welch–Satterthwaite degrees of freedom.  The A/B-test primitive; the
    p-value needs a t CDF (no closed form in-plan) — feed (t, df) to scipy
    driver-side, the data never leaves the cluster.  One row output:
    (mean_a, mean_b, diff, t, df, n_a, n_b)."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    agg = sdf.filter(g.isin([group_a, group_b])).agg(
        F.avg(F.when(g == group_a, v)).alias("ma"),
        F.avg(F.when(g == group_b, v)).alias("mb"),
        F.var_samp(F.when(g == group_a, v)).alias("va"),
        F.var_samp(F.when(g == group_b, v)).alias("vb"),
        F.count(F.when(g == group_a, v)).cast("double").alias("na"),
        F.count(F.when(g == group_b, v)).cast("double").alias("nb"),
    )
    sa = F.col("va") / F.col("na")
    sb = F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(sa + sb)
    df_ = (sa + sb) * (sa + sb) / (
        sa * sa / (F.col("na") - 1) + sb * sb / (F.col("nb") - 1)
    )
    out = agg.select(
        F.round("ma", round_to).alias("mean_a"),
        F.round("mb", round_to).alias("mean_b"),
        F.round(F.col("ma") - F.col("mb"), round_to).alias("diff"),
        F.round(t, round_to).alias("t"),
        F.round(df_, round_to).alias("df"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )
    return LazyFrame(out)


def chi2_independence(
    frame: "LazyFrame | SparkDF",
    col_a: str,
    col_b: str,
    round_to: int = 6,
) -> LazyFrame:
    """Pearson χ² test of independence for two categorical columns:
    χ² = Σ (observed − expected)² / expected over the contingency table,
    plus degrees of freedom (r−1)(c−1).  Two aggregate passes (cell counts,
    then the margin-joined sum) — no collect, any cardinality that fits a
    groupBy.  Feed (chi2, df) to scipy driver-side for the p-value.
    Output: chi2, df, n.

    Size contract: the zero-cell correction materializes the FULL r×c
    margins grid (r·c rows, one per category pair) — bounded by category
    cardinality, never by row count; with r·c in the millions, bin or
    top-N the categories first (that is the lever)."""
    sdf = _sdf(frame)
    cells = sdf.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("o"))
    ra = cells.groupBy(col_a).agg(F.sum("o").alias("ra"))
    rb = cells.groupBy(col_b).agg(F.sum("o").alias("rb"))
    n = cells.agg(F.sum("o").alias("n"))
    # the FULL r x c grid: zero cells contribute (0-e)^2/e and skipping them
    # understates chi2 (caught by the perfect-dependence test) — margins are
    # tiny aggregates, so their cross join is bounded by the category counts
    grid = ra.crossJoin(rb)
    full = (
        grid.join(cells, [col_a, col_b], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .join(F.broadcast(n))
    )
    e = F.col("ra") * F.col("rb") / F.col("n")
    stat = full.agg(
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
        F.count_distinct(col_a).alias("r"),
        F.count_distinct(col_b).alias("c"),
        F.first("n").alias("n"),
    )
    out = stat.select(
        F.round("chi2", round_to).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("df"),
        F.col("n").cast("long").alias("n"),
    )
    return LazyFrame(out)


def cohens_kappa(
    frame: "LazyFrame | SparkDF",
    col_a: str,
    col_b: str,
    round_to: int = 6,
) -> LazyFrame:
    """Cohen's κ inter-rater agreement between two categorical label
    columns (rows = items labeled by both raters): κ = (p_o − p_e)/(1 − p_e)
    with p_o the observed agreement rate and p_e = Σ_c p_a(c)·p_b(c) the
    chance agreement under independent marginals — the labeling-pipeline QA
    statistic (annotator vs annotator, model vs human).

    One cell-count aggregate + two tiny margin aggregates joined on the
    category (bounded by category cardinality, like chi2_independence) —
    no collect, any row count.  Rows with a null on either side are
    excluded (both raters must have labeled the item).  Perfect chance
    agreement (p_e = 1, both raters constant and equal) leaves κ undefined
    → null.  Output: kappa, po, pe, n."""
    sdf = _sdf(frame)
    a, b = F.col(col_a), F.col(col_b)
    base = sdf.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a__"), b.alias("__b__")
    )
    cells = base.groupBy("__a__", "__b__").agg(F.count(F.lit(1)).alias("o"))
    ma = cells.groupBy(F.col("__a__").alias("c")).agg(F.sum("o").alias("na"))
    mb = cells.groupBy(F.col("__b__").alias("c")).agg(F.sum("o").alias("nb"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.sum(F.when(F.col("__a__") == F.col("__b__"), F.col("o")).otherwise(F.lit(0))).alias("agree"),
    )
    # chance agreement: inner join of the marginals on the category —
    # categories one rater never used contribute p_a·0 = 0
    pe_row = (
        ma.join(mb, "c")
        .join(F.broadcast(tot.select("n")))
        .agg(F.sum(F.col("na") * F.col("nb") / (F.col("n") * F.col("n"))).alias("pe"))
    )
    stat = tot.join(F.broadcast(pe_row))
    po = F.col("agree") / F.col("n")
    pe = F.coalesce(F.col("pe"), F.lit(0.0))
    out = stat.select(
        F.round(F.when(pe < 1.0, (po - pe) / (1.0 - pe)), round_to).alias("kappa"),
        F.round(po, round_to).alias("po"),
        F.round(pe, round_to).alias("pe"),
        F.col("n").cast("long").alias("n"),
    )
    return LazyFrame(out)


def mann_whitney_u(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) with tie correction: the
    nonparametric two-sample test — U from tie-averaged ranks, z from the
    normal approximation with the tie-corrected variance.  Output: u, z,
    n_a, n_b.  Feed z to a normal CDF driver-side for the p-value.

    The ranking never runs a single-partition window: values collapse to a
    distinct-value count table (the rank sum only needs per-value
    (count, count_a)), whose global cumulative counts come from
    deterministic range buckets + driver prefix totals
    (operators/distsort.py) — each task holds ~1/nbuckets of the DISTINCT
    values, so the test scales to corpus-sized inputs."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(g.isin([group_a, group_b]) & v.isNotNull()).select(
        g.alias("__g__"), v.alias("__v__")
    )
    from .distsort import with_bucket_offsets

    # avg_rank of a tie group of size t after c earlier rows = c + (t+1)/2,
    # so ra = Σ_groups count_a · (cum_before + (cnt+1)/2); the tie term
    # Σ(t³ − t) reads straight off the group sizes — exact half-integer math,
    # identical to the per-row rank window
    d = register_cache(
        base.groupBy("__v__").agg(
            F.count(F.lit(1)).alias("__cnt__"),
            F.count(F.when(F.col("__g__") == group_a, F.lit(1))).alias("__ca__"),
        )
    )
    d3, gb, _tot = with_bucket_offsets(d, "__v__", {"cnt": F.col("__cnt__")})
    wexcl = (
        Window.partitionBy(gb)
        .orderBy(F.col("__v__"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumb = F.col("__off_cnt__") + F.coalesce(F.sum("__cnt__").over(wexcl), F.lit(0))
    avg_rank = cumb + (F.col("__cnt__") + F.lit(1)) / 2.0
    staged = d3.select("__cnt__", "__ca__", avg_rank.alias("__r__"))
    agg = staged.agg(
        F.sum(F.when(F.col("__ca__") > 0, F.col("__ca__") * F.col("__r__"))).alias("ra"),
        F.coalesce(F.sum("__ca__"), F.lit(0)).cast("double").alias("na"),
        F.coalesce(F.sum(F.col("__cnt__") - F.col("__ca__")), F.lit(0))
        .cast("double")
        .alias("nb"),
        # sum over groups of t^3 - t (zero for untied values)
        F.sum(
            F.col("__cnt__") * F.col("__cnt__") * F.col("__cnt__") - F.col("__cnt__")
        ).cast("double").alias("tt"),
    )
    n = F.col("na") + F.col("nb")
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2
    mean_u = F.col("na") * F.col("nb") / 2
    var_u = (
        F.col("na") * F.col("nb") / 12.0
        * ((n + 1) - F.col("tt") / (n * (n - 1)))
    )
    z = (u - mean_u) / F.sqrt(var_u)
    out = agg.select(
        F.round(u, round_to).alias("u"),
        F.round(z, round_to).alias("z"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )
    return LazyFrame(out)


def spearman_corr(
    frame: "LazyFrame | SparkDF",
    col_a: str,
    col_b: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Spearman rank correlation with tie-averaged ranks: Pearson's r over
    the two rank vectors (the exact tie-general definition, not the
    6Σd²/n(n²−1) shortcut which is tie-wrong).  Rows with a null in either
    column are excluded pairwise.  Sharded by ``by`` keys when given; the
    GLOBAL path (``by=None``) builds each column's value→avg_rank table from
    distinct-value counts over deterministic range buckets
    (operators/distsort.py) and joins the ranks back — no single-partition
    window, ~1/nbuckets of the DISTINCT values per task."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    base = sdf.filter(a.isNotNull() & b.isNotNull()).select(
        *keys, a.alias("__a__"), b.alias("__b__")
    )
    if keys:
        wp = Window.partitionBy(*keys)

        def avg_rank(c):
            rk = F.rank().over(wp.orderBy(c.asc()))
            ties = F.count(F.lit(1)).over(wp.orderBy(c.asc()).rangeBetween(0, 0))
            return rk + (ties - F.lit(1)) / 2.0

        ranked = base.select(
            *keys, avg_rank(F.col("__a__")).alias("__ra__"),
            avg_rank(F.col("__b__")).alias("__rb__"),
        )
    else:
        from .distsort import with_bucket_offsets

        base = register_cache(base)

        def rank_table(col: str, out: str):
            d = base.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt__"))
            d3, gb, _tot = with_bucket_offsets(d, col, {"cnt": F.col("__cnt__")})
            wexcl = (
                Window.partitionBy(gb)
                .orderBy(F.col(col))
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            cumb = F.col("__off_cnt__") + F.coalesce(
                F.sum("__cnt__").over(wexcl), F.lit(0)
            )
            return d3.select(
                col, (cumb + (F.col("__cnt__") + F.lit(1)) / 2.0).alias(out)
            )

        # the rank tables are distinct-value sized — AQE broadcasts the
        # small side; otherwise both joins shuffle on the value key
        ranked = (
            base.join(rank_table("__a__", "__ra__"), "__a__")
            .join(rank_table("__b__", "__rb__"), "__b__")
            .select("__ra__", "__rb__")
        )
    agg = ranked.groupBy(*keys).agg(
        F.round(F.corr("__ra__", "__rb__"), round_to).alias("spearman"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return LazyFrame(agg)


def fleiss_kappa(
    frame: "LazyFrame | SparkDF",
    item_col: str,
    category_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Fleiss' \u03ba multi-rater agreement, generalized to a variable number
    of ratings per item: input is one row per RATING (item, category) — the
    shape a labeling pipeline with 3+ annotators naturally lands in.

    P_i = (\u03a3_j n_ij\u00b2 − n_i) / (n_i (n_i − 1)) per item, P\u0304 their mean,
    p_j the pooled category shares, P\u0304_e = \u03a3 p_j\u00b2, \u03ba = (P\u0304 − P\u0304_e)/(1 − P\u0304_e).
    Items with fewer than 2 ratings carry no agreement signal and are
    excluded everywhere (counts AND marginals — the oracle must match).

    Shuffle shape: one (item, category) cell count, one item-keyed
    aggregate, one category-keyed marginal aggregate joined as a 1-row
    broadcast — bounded by items + category cardinality, no collect, no
    window.  P\u0304_e = 1 (all kept ratings in one category) leaves \u03ba
    undefined → null.  Output: kappa, p_bar, p_e, n_items, n_ratings."""
    sdf = _sdf(frame)
    it, c = F.col(item_col), F.col(category_col)
    cells = (
        sdf.filter(it.isNotNull() & c.isNotNull())
        .groupBy(it.alias("__i__"), c.alias("__c__"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    items = (
        cells.groupBy("__i__")
        .agg(F.sum("o").alias("ni"), F.sum(F.col("o") * F.col("o")).alias("sq"))
        .filter(F.col("ni") >= 2)
    )
    # P̄ over kept items + the pooled rating total in one aggregate
    pbar_row = items.agg(
        F.avg((F.col("sq") - F.col("ni")) / (F.col("ni") * (F.col("ni") - 1))).alias("p_bar"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum("ni").alias("n_ratings"),
    )
    # category marginals over the SAME kept items (semi join on the item key)
    kept = cells.join(items.select("__i__"), "__i__", "semi")
    pe_row = (
        kept.groupBy("__c__")
        .agg(F.sum("o").alias("nc"))
        .join(F.broadcast(pbar_row.select("n_ratings")))
        .agg(F.sum((F.col("nc") / F.col("n_ratings")) * (F.col("nc") / F.col("n_ratings"))).alias("p_e"))
    )
    stat = pbar_row.join(F.broadcast(pe_row))
    pe = F.col("p_e")
    out = stat.select(
        F.round(F.when(pe < 1.0, (F.col("p_bar") - pe) / (1.0 - pe)), round_to).alias("kappa"),
        F.round(F.col("p_bar"), round_to).alias("p_bar"),
        F.round(pe, round_to).alias("p_e"),
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_ratings").cast("long").alias("n_ratings"),
    )
    return LazyFrame(out)


def ks_test(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic: D = max |ECDF_a −
    ECDF_b| over the pooled support — the distribution-shift test that sees
    SHAPE changes PSI's fixed bins blur (complements :func:`psi_report`
    for drift and :func:`mann_whitney_u` for location).

    Scale shape mirrors :func:`roc_auc`'s global path: values collapse to a
    DISTINCT-value (count_a, count_b) table, global running counts come from
    deterministic range buckets + driver prefix offsets
    (operators/distsort.py) — the ECDF steps exist only at distinct values,
    every task holds ~1/nbuckets of them, and no single-partition window
    runs.  One distinct-value aggregate + one bounded offsets aggregate +
    one all-reduce max.

    Output: d, z (= D·√(n_a·n_b/(n_a+n_b)), the statistic the asymptotic
    Kolmogorov p-value is computed from, null if either sample is empty),
    n_a, n_b.  Nulls are excluded; rows in neither group are ignored."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = sdf.filter(v.isNotNull() & ((g == group_a) | (g == group_b)))
    d = register_cache(
        base.groupBy(v.alias("__v__")).agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("__ca__"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("__cb__"),
        )
    )
    d3, gb, tot = with_bucket_offsets(
        d, "__v__", {"ca": F.col("__ca__"), "cb": F.col("__cb__")}
    )
    na, nb = float(tot["ca"]), float(tot["cb"])
    w = (
        Window.partitionBy(gb)
        .orderBy(F.col("__v__"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_a = (F.col("__off_ca__") + F.sum("__ca__").over(w)) / F.lit(na)
    cum_b = (F.col("__off_cb__") + F.sum("__cb__").over(w)) / F.lit(nb)
    staged = d3.select(F.abs(cum_a - cum_b).alias("__gap__"))
    agg = staged.agg(F.max("__gap__").alias("d"))
    en = (na * nb / (na + nb)) ** 0.5 if na > 0 and nb > 0 else None
    out = agg.select(
        F.round(F.col("d"), round_to).alias("d"),
        F.round(
            F.col("d") * F.lit(en) if en is not None else F.lit(None).cast("double"),
            round_to,
        ).alias("z"),
        F.lit(int(na)).cast("long").alias("n_a"),
        F.lit(int(nb)).cast("long").alias("n_b"),
    )
    return LazyFrame(out)


def prop_ztest(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    success_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Two-proportion z-test (pooled): the A/B conversion-rate companion to
    :func:`welch_ttest` (means) and :func:`ks_test` (distributions).
    z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled
    success rate.  ``success_col`` is truthy (cast >0) per trial row.

    ONE fused conditional-count aggregate — a 1-row answer at any scale.
    Degenerate pooled rates (p̂ ∈ {0, 1}) leave z undefined → null.
    Output: z, p_a, p_b, n_a, n_b."""
    sdf = _sdf(frame)
    g = F.col(group_col)
    y = (F.col(success_col).cast("double") > 0).cast("double")
    base = sdf.filter(
        F.col(success_col).isNotNull() & ((g == group_a) | (g == group_b))
    )
    agg = base.agg(
        F.sum(F.when(g == group_a, y)).alias("sa"),
        F.count(F.when(g == group_a, F.lit(1))).cast("double").alias("na"),
        F.sum(F.when(g == group_b, y)).alias("sb"),
        F.count(F.when(g == group_b, F.lit(1))).cast("double").alias("nb"),
    )
    pa = F.col("sa") / F.col("na")
    pb = F.col("sb") / F.col("nb")
    pool = (F.col("sa") + F.col("sb")) / (F.col("na") + F.col("nb"))
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    z = F.when((pool > 0) & (pool < 1), (pa - pb) / se)
    out = agg.select(
        F.round(z, round_to).alias("z"),
        F.round(pa, round_to).alias("p_a"),
        F.round(pb, round_to).alias("p_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )
    return LazyFrame(out)


def cuped_report(
    frame: "LazyFrame | SparkDF",
    metric_col: str,
    covariate_col: str,
    group_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """CUPED variance reduction for A/B experiments (Deng, Xu, Kohavi &
    Walker 2013): with a pre-experiment covariate X uncorrelated with
    assignment, the adjusted metric Y' = Y − θ(X − E[X]) with
    θ = cov(X, Y) / var(X) (pooled across groups) has the SAME expected
    treatment effect but variance shrunk by (1 − ρ²).

    All statistics are moment sums: ONE global fused all-reduce (n, ΣX, ΣY,
    ΣXY, ΣX² → θ, x̄) plus ONE per-group aggregate (the same moments + ΣY²)
    — group stats for Y' need no second pass, since
    var_g(Y−θX) = var_g(Y) − 2θ·cov_g(X,Y) + θ²·var_g(X).  The 1-row θ
    frame attaches by broadcast; output is bounded by group cardinality.

    Rows with a null metric, covariate, or group drop.  Output per group:
    (group, n, theta, mean_raw, mean_adj, var_raw, var_adj,
    var_reduction = 1 − var_adj/var_raw)."""
    sdf = _sdf(frame)
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(y.isNotNull() & x.isNotNull() & g.isNotNull()).select(
        g.alias("__g__"), y.alias("__y__"), x.alias("__x__")
    )
    glob = base.agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum("__x__").alias("__sx__"),
        F.sum("__y__").alias("__sy__"),
        F.sum(F.col("__x__") * F.col("__y__")).alias("__sxy__"),
        F.sum(F.col("__x__") * F.col("__x__")).alias("__sxx__"),
    ).select(
        (
            (F.col("__sxy__") - F.col("__sx__") * F.col("__sy__") / F.col("__n__"))
            / (F.col("__sxx__") - F.col("__sx__") * F.col("__sx__") / F.col("__n__"))
        ).alias("__theta__"),
        (F.col("__sx__") / F.col("__n__")).alias("__mx__"),
    )
    per = base.groupBy("__g__").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__y__").alias("__my__"),
        F.avg("__x__").alias("__mxg__"),
        F.var_samp("__y__").alias("__vy__"),
        F.var_samp("__x__").alias("__vx__"),
        F.covar_samp("__x__", "__y__").alias("__cxy__"),
    )
    th = F.col("__theta__")
    var_adj = (
        F.col("__vy__") - 2.0 * th * F.col("__cxy__") + th * th * F.col("__vx__")
    )
    out = per.join(F.broadcast(glob)).select(
        F.col("__g__").alias("group"),
        F.col("n").cast("long").alias("n"),
        F.round(th, round_to).alias("theta"),
        F.round(F.col("__my__"), round_to).alias("mean_raw"),
        F.round(
            F.col("__my__") - th * (F.col("__mxg__") - F.col("__mx__")), round_to
        ).alias("mean_adj"),
        F.round(F.col("__vy__"), round_to).alias("var_raw"),
        F.round(var_adj, round_to).alias("var_adj"),
        F.round(1.0 - var_adj / F.col("__vy__"), round_to).alias("var_reduction"),
    )
    return LazyFrame(out)


__all__.append("cuped_report")


def srm_check(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    expected: "dict[str, float]",
    round_to: int = 6,
) -> LazyFrame:
    """Sample-ratio-mismatch check — the first A/B-test health gate: a χ²
    goodness-of-fit of observed assignment counts against the designed
    allocation ``expected`` (e.g. ``{"control": 0.5, "treatment": 0.5}``;
    ratios normalize, so weights work too).  Units whose group is not in
    ``expected`` are EXCLUDED (they are a different bug); expected groups
    observed zero times still contribute (0−E)²/E.  χ² here is NOT the
    experiment metric — a significant SRM means the assignment plumbing is
    broken and the experiment is unreadable (Fabijan et al. 2019).

    One map-side-combining count aggregate, LEFT-joined onto the literal
    expected-grid (bounded by group cardinality); feed (chi2, df) to a χ²
    CDF driver-side for the p-value, as chi2_independence does.
    Output (1 row): n, chi2, df, max_abs_diff (largest |observed −
    expected| share across groups — the "which arm" pointer)."""
    if not expected:
        raise ValueError("expected must name at least one group")
    tot_w = float(sum(expected.values()))
    if tot_w <= 0:
        raise ValueError("expected ratios must sum to a positive value")
    sdf = _sdf(frame)
    spark = sdf.sparkSession
    grid = spark.createDataFrame(
        sorted((str(k), float(v) / tot_w) for k, v in expected.items()),
        "__g__ string, __share__ double",
    )
    # cast BEFORE the isin filter: with a non-string group column (int
    # arms) and string dict keys, an uncast isin silently excludes every
    # row — the health check would report n=0/null chi2 instead of failing
    gs = F.col(group_col).cast("string")
    obs = (
        sdf.filter(gs.isin([str(k) for k in expected]))
        .groupBy(gs.alias("__g__"))
        .agg(F.count(F.lit(1)).alias("__o__"))
    )
    joined = (
        grid.join(obs, "__g__", "left")
        .withColumn("__o__", F.coalesce("__o__", F.lit(0)))
    )
    n = joined.agg(F.sum("__o__").alias("__n__"))
    e = F.col("__share__") * F.col("__n__")
    out = (
        joined.join(F.broadcast(n))
        .agg(
            F.first("__n__").cast("long").alias("n"),
            F.round(
                F.sum((F.col("__o__") - e) * (F.col("__o__") - e) / e), round_to
            ).alias("chi2"),
            (F.count(F.lit(1)) - 1).cast("long").alias("df"),
            F.round(
                F.max(F.abs(F.col("__o__") / F.col("__n__") - F.col("__share__"))),
                round_to,
            ).alias("max_abs_diff"),
        )
    )
    return LazyFrame(out)


def with_mahalanobis(
    frame: "LazyFrame | SparkDF",
    cols: "list[str]",
    out_col: str = "mahalanobis_sq",
    round_to: int = 6,
) -> LazyFrame:
    """Squared Mahalanobis distance of each row from the column means under
    the sample covariance — the multivariate outlier score (compare against
    χ²_d quantiles; the d-dimensional generalization of with_outlier_flags'
    z-score).  Rows with any null feature get a null score and are excluded
    from the fit.

    ONE fused all-reduce collects the d means and d(d+1)/2 covariances
    (size contract: the 1-row fit is O(d²) values and the serving
    expression O(d²) terms — fine to d in the dozens, use a projection
    first beyond that); the d×d inverse is a driver-side numpy solve of a
    BOUNDED matrix, and serving is pure map-side Column math
    Σᵢⱼ inv[i,j]·(xᵢ−μᵢ)·(xⱼ−μⱼ).  Raises if the covariance matrix is
    singular (drop collinear features)."""
    import numpy as np

    if len(cols) < 1:
        raise ValueError("cols must name at least one column")
    sdf = _sdf(frame)
    d = len(cols)
    xs = [F.col(c).cast("double") for c in cols]
    ok = xs[0].isNotNull()
    for x in xs[1:]:
        ok = ok & x.isNotNull()
    fit_aggs = [F.avg(x).alias(f"m{i}") for i, x in enumerate(xs)] + [
        F.covar_samp(xs[i], xs[j]).alias(f"c{i}_{j}")
        for i in range(d)
        for j in range(i, d)
    ]
    row = sdf.filter(ok).agg(*fit_aggs).collect()[0]
    mu = [float(row[f"m{i}"]) for i in range(d)]
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            cov[i, j] = cov[j, i] = float(row[f"c{i}_{j}"])
    det = float(np.linalg.det(cov))
    if not np.isfinite(det) or abs(det) < 1e-300:
        raise ValueError("covariance matrix is singular; drop collinear features")
    inv = np.linalg.inv(cov)
    md2 = F.lit(0.0)
    for i in range(d):
        for j in range(d):
            md2 = md2 + F.lit(float(inv[i, j])) * (xs[i] - F.lit(mu[i])) * (
                xs[j] - F.lit(mu[j])
            )
    out = sdf.withColumn(out_col, F.round(F.when(ok, md2), round_to))
    return LazyFrame(out)


__all__.extend(["srm_check", "with_mahalanobis"])


def woe_iv_report(
    frame: "LazyFrame | SparkDF",
    feature_col: str,
    label_col: str,
    eps: float = 0.5,
    round_to: int = 6,
) -> LazyFrame:
    """Weight of Evidence / Information Value per feature category — the
    credit-scoring feature screen (Siddiqi 2006) and the categorical
    complement of target_encode: per category WOE = ln(%events/%nonevents)
    and its IV term (%e − %ne)·WOE; Σ IV grades the feature (<0.02
    useless, >0.3 strong).  ``label_col`` is 0/1 (cast, nulls drop);
    ``eps`` is the additive smoothing on both counts so empty cells stay
    finite (the standard 0.5 adjustment).

    One category-keyed map-side-combining aggregate + a 1-row totals
    broadcast — bounded by category cardinality; bin continuous features
    first (cut/qcut), that is the lever.  Output per category:
    (category, n, n_event, woe, iv) — Σ iv over rows is the feature's IV."""
    sdf = _sdf(frame)
    y = F.col(label_col).cast("double")
    base = sdf.filter(y.isNotNull()).select(
        F.col(feature_col).alias("__c__"), y.alias("__y__")
    )
    cells = base.groupBy("__c__").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y__").alias("__e__"),
    )
    tot = cells.agg(
        F.sum("__e__").alias("__te__"),
        F.sum(F.col("n") - F.col("__e__")).alias("__tn__"),
    )
    e = F.col("__e__") + F.lit(float(eps))
    ne = F.col("n") - F.col("__e__") + F.lit(float(eps))
    pe = e / (F.col("__te__") + F.lit(float(eps)))
    pne = ne / (F.col("__tn__") + F.lit(float(eps)))
    woe = F.log(pe / pne)
    out = cells.join(F.broadcast(tot)).select(
        F.col("__c__").alias("category"),
        F.col("n").cast("long").alias("n"),
        F.col("__e__").cast("long").alias("n_event"),
        F.round(woe, round_to).alias("woe"),
        F.round((pe - pne) * woe, round_to).alias("iv"),
    )
    return LazyFrame(out)


__all__.append("woe_iv_report")


def did_report(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    period_col: str,
    metric_col: str,
    treat_value,
    post_value,
    round_to: int = 6,
) -> LazyFrame:
    """Difference-in-differences estimator (the quasi-experiment companion
    to cuped_report/prop_ztest): DiD = (T̄_post − T̄_pre) − (C̄_post −
    C̄_pre) with the Welch-style standard error √Σ s²ᵢ/nᵢ over the four
    cells and its z statistic.  Rows whose group/period/metric is null
    drop; 'treatment' is ``group == treat_value``, 'post' is
    ``period == post_value`` (everything else is control/pre).

    ONE fused all-reduce: each cell's n/mean/var are conditional
    aggregates in a single agg — no pivot, no join, no collect.  Output
    (1 row): n, the four cell means, did, se, z (null se/z when any cell
    has < 2 points)."""
    sdf = _sdf(frame)
    y = F.col(metric_col).cast("double")
    t = (F.col(group_col) == F.lit(treat_value)).cast("int")
    p = (F.col(period_col) == F.lit(post_value)).cast("int")
    base = sdf.filter(
        y.isNotNull() & F.col(group_col).isNotNull() & F.col(period_col).isNotNull()
    ).select(t.alias("__t__"), p.alias("__p__"), y.alias("__y__"))

    def cell(ti, pi, tag):
        m = (F.col("__t__") == ti) & (F.col("__p__") == pi)
        v = F.when(m, F.col("__y__"))
        return [
            F.count(v).alias(f"n_{tag}"),
            F.avg(v).alias(f"m_{tag}"),
            F.var_samp(v).alias(f"v_{tag}"),
        ]

    aggs = (
        [F.count(F.lit(1)).alias("n")]
        + cell(0, 0, "c_pre") + cell(0, 1, "c_post")
        + cell(1, 0, "t_pre") + cell(1, 1, "t_post")
    )
    wide = base.agg(*aggs)
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    se = F.sqrt(
        F.col("v_t_post") / F.col("n_t_post")
        + F.col("v_t_pre") / F.col("n_t_pre")
        + F.col("v_c_post") / F.col("n_c_post")
        + F.col("v_c_pre") / F.col("n_c_pre")
    )
    out = wide.select(
        F.col("n").cast("long").alias("n"),
        F.round("m_c_pre", round_to).alias("mean_c_pre"),
        F.round("m_c_post", round_to).alias("mean_c_post"),
        F.round("m_t_pre", round_to).alias("mean_t_pre"),
        F.round("m_t_post", round_to).alias("mean_t_post"),
        F.round(did, round_to).alias("did"),
        F.round(se, round_to).alias("se"),
        F.round(F.when(se > 0, did / se), round_to).alias("z"),
    )
    return LazyFrame(out)


def bh_adjust(
    frame: "LazyFrame | SparkDF",
    p_col: str,
    id_cols: "list[str] | str | None" = None,
    adj_col: str = "p_adj",
    round_to: int = 6,
    _harmonic: bool = False,
) -> LazyFrame:
    """Benjamini–Hochberg FDR adjustment over a frame of p-values (the
    multiple-testing step after running welch_ttest/chi2/ks per slice):
    adjusted pᵢ = min(1, min_{j ≥ i} p₍ⱼ₎·m/j) over the ascending-p
    ranking — reject adjusted p ≤ α to control FDR at α.

    The suffix-min over the ranked p's is a DESCENDING-p running min, so
    it rides the distsort machinery: p-values collapse into range buckets
    ordered desc, driver PREFIX-MIN offsets (≤ nbuckets rows) give each
    bucket the min of every larger-p bucket, and the within-bucket window
    holds ~1/nbuckets of the data — no single-partition window however
    many tests.  Ascending ranks come from the same bucket counts.  Ties
    in p adjust identically regardless of tie order (the suffix-min
    absorbs the rank difference).  Null p-values drop; ``id_cols`` break
    ordering ties deterministically (default: all other columns are
    carried but ordering ties break on p alone — fine, ties adjust
    equally).  Appends ``adj_col``."""
    from .distsort import with_bucket_offsets, with_prefix_folds

    sdf = _sdf(frame)
    pv = F.col(p_col).cast("double")
    base = sdf.filter(pv.isNotNull())
    # prefix counts (for the ascending rank) and prefix MIN of raw values
    # are two prefix passes: the running raw-min needs the rank first —
    # both over tiny per-bucket aggregates, driver-bounded.
    offs, bcol, totals = with_bucket_offsets(base, p_col, {"c": F.lit(1)}, desc=True)
    m = float(totals["c"])
    # by_adjust: Benjamini–Yekutieli multiplies the BH raw by the exact
    # harmonic number H_m (driver loop over the already-known m — ~0.1 s
    # per million tests, once)
    c_m = sum(1.0 / i for i in range(1, int(m) + 1)) if _harmonic else 1.0
    tie = [F.col(c) for c in ([id_cols] if isinstance(id_cols, str) else (id_cols or []))]
    wd = Window.partitionBy(bcol).orderBy(pv.desc(), *[c.desc() for c in tie])
    pos_desc = F.col("__off_c__") + F.row_number().over(wd)
    rank_asc = F.lit(m) - pos_desc + 1
    raw = pv * F.lit(m * c_m) / rank_asc
    # per-bucket raw minima -> driver prefix-min (larger-p buckets first)
    staged, _mins = with_prefix_folds(
        offs.withColumn("__raw__", raw), bcol, {"mn": F.col("__raw__")}, "min"
    )
    run_min = F.min("__raw__").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adj = F.least(F.lit(1.0), F.least(F.col("__off_mn__"), run_min))
    out = staged.withColumn(adj_col, F.round(adj, round_to)).drop(
        bcol, "__off_c__", "__raw__", "__off_mn__"
    )
    return LazyFrame(out)


__all__.extend(["did_report", "bh_adjust"])


def ratio_ttest(
    frame: "LazyFrame | SparkDF",
    num_col: str,
    den_col: str,
    group_col: str,
    treat_value,
    round_to: int = 6,
) -> LazyFrame:
    """Two-sample test on a RATIO-of-sums metric (CTR = clicks/views,
    revenue-per-session …) via the delta method (Deng, Knoblich & Lu
    2018): per unit (row) a numerator and denominator; the group metric is
    ΣX/ΣY, whose variance is (var X − 2r·cov XY + r²·var Y) / (n·Ȳ²) with
    r = the ratio — the correct SE when the unit of analysis (user) is
    coarser than the event the ratio counts, where a naive event-level
    proportion test is anticonservative.

    ONE fused all-reduce (per-group moment sums as conditional aggregates,
    like did_report); output (1 row): per-group n/ratio/se, diff, se_diff,
    z.  Rows with null numerator/denominator/group drop; a group with
    ΣY = 0 yields nulls."""
    sdf = _sdf(frame)
    x = F.col(num_col).cast("double")
    yv = F.col(den_col).cast("double")
    g = (F.col(group_col) == F.lit(treat_value)).cast("int")
    base = sdf.filter(
        x.isNotNull() & yv.isNotNull() & F.col(group_col).isNotNull()
    ).select(g.alias("__g__"), x.alias("__x__"), yv.alias("__y__"))

    def side(gi, tag):
        m = F.col("__g__") == gi
        xx = F.when(m, F.col("__x__"))
        yy = F.when(m, F.col("__y__"))
        return [
            F.count(xx).alias(f"n_{tag}"),
            F.avg(xx).alias(f"mx_{tag}"),
            F.avg(yy).alias(f"my_{tag}"),
            F.var_samp(xx).alias(f"vx_{tag}"),
            F.var_samp(yy).alias(f"vy_{tag}"),
            F.covar_samp(xx, yy).alias(f"cxy_{tag}"),
        ]

    wide = base.agg(*(side(0, "c") + side(1, "t")))

    def ratio(tag):
        return F.when(
            F.col(f"my_{tag}") != 0, F.col(f"mx_{tag}") / F.col(f"my_{tag}")
        )

    def var_ratio(tag):
        r = ratio(tag)
        return (
            F.col(f"vx_{tag}")
            - 2.0 * r * F.col(f"cxy_{tag}")
            + r * r * F.col(f"vy_{tag}")
        ) / (F.col(f"n_{tag}") * F.col(f"my_{tag}") * F.col(f"my_{tag}"))

    diff = ratio("t") - ratio("c")
    se = F.sqrt(var_ratio("t") + var_ratio("c"))
    out = wide.select(
        F.col("n_c").cast("long").alias("n_c"),
        F.col("n_t").cast("long").alias("n_t"),
        F.round(ratio("c"), round_to).alias("ratio_c"),
        F.round(ratio("t"), round_to).alias("ratio_t"),
        F.round(F.sqrt(var_ratio("c")), round_to).alias("se_c"),
        F.round(F.sqrt(var_ratio("t")), round_to).alias("se_t"),
        F.round(diff, round_to).alias("diff"),
        F.round(se, round_to).alias("se_diff"),
        F.round(F.when(se > 0, diff / se), round_to).alias("z"),
    )
    return LazyFrame(out)


__all__.append("ratio_ttest")


def forecast_accuracy(
    frame: "LazyFrame | SparkDF",
    actual_col: str,
    pred_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Forecast / regression error metrics in one pass: MAE, RMSE, MAPE
    (over rows with actual ≠ 0 — its count reported separately), sMAPE
    (0 where both sides are 0, the standard convention), and mean bias
    (pred − actual).  ONE fused map-side-combining all-reduce, per ``by``
    key or global (a 1-row aggregate, not a window — no single-partition
    hazard).  Rows with null actual or pred drop."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    a = F.col(actual_col).cast("double")
    p = F.col(pred_col).cast("double")
    base = sdf.filter(a.isNotNull() & p.isNotNull()).select(
        *keys, a.alias("__a__"), p.alias("__p__")
    )
    err = F.col("__p__") - F.col("__a__")
    ape = F.when(F.col("__a__") != 0, F.abs(err) / F.abs(F.col("__a__")))
    sden = F.abs(F.col("__a__")) + F.abs(F.col("__p__"))
    smape_term = F.when(sden > 0, 2.0 * F.abs(err) / sden).otherwise(F.lit(0.0))
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg(F.abs(err)), round_to).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)), round_to).alias("rmse"),
        F.round(F.avg(ape), round_to).alias("mape"),
        F.count(ape).cast("long").alias("n_mape"),
        F.round(F.avg(smape_term), round_to).alias("smape"),
        F.round(F.avg(err), round_to).alias("bias"),
    )
    return LazyFrame(agg)


def theil_sen_by_key(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Theil–Sen robust regression per key — the median-of-pairwise-slopes
    estimator (up to ~29% outlier breakdown vs OLS's zero; the robust
    companion to fit_linear_by_key): slope = median over all point pairs
    with distinct x of (yⱼ−yᵢ)/(xⱼ−xᵢ), intercept = median of
    (yᵢ − slope·xᵢ).

    Per key the series collects into ONE (x, y)-sorted array and the pair
    slopes build map-side via index-lambda fan-out (size contract: the
    O(n²) pair array must fit a row — the per-series bound holt_forecast
    documents; sample long series upstream).  Median = exact middle (avg
    of the two middles when even), deterministic because the sort order
    (x, then y) is total.  Keys with < 2 distinct x yield null slope.
    Output: (*by, n, slope, intercept)."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    x = F.col(x_col).cast("double")
    yv = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & yv.isNotNull()).select(
        *keys, F.struct(x.alias("x"), yv.alias("y")).alias("__p__")
    )
    grouped = base.groupBy(*keys).agg(
        F.array_sort(F.collect_list("__p__")).alias("__pts__")
    )
    pts = F.col("__pts__")
    n = F.size(pts)
    slopes_nested = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.transform(
            F.slice(pts, i + 1, n - i),
            lambda q: F.when(
                q["x"] != F.element_at(pts, i)["x"],
                (q["y"] - F.element_at(pts, i)["y"])
                / (q["x"] - F.element_at(pts, i)["x"]),
            ),
        ),
    )
    slopes = F.array_sort(
        F.filter(F.flatten(slopes_nested), lambda s: s.isNotNull())
    )

    def median(arr):
        m = F.size(arr)
        mid = F.element_at(arr, ((m + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (m / 2).cast("int"))
            + F.element_at(arr, (m / 2).cast("int") + 1)
        ) / 2.0
        return F.when(m > 0, F.when(m % 2 == 1, mid).otherwise(even))

    staged = grouped.select(
        *keys, n.cast("long").alias("n"), pts.alias("__pts__"),
        F.when(n >= 2, median(slopes)).alias("__slope__"),
    )
    resid = F.array_sort(
        F.transform(
            F.col("__pts__"), lambda p: p["y"] - F.col("__slope__") * p["x"]
        )
    )
    out = staged.select(
        *keys,
        "n",
        F.round(F.col("__slope__"), round_to).alias("slope"),
        F.round(
            F.when(F.col("__slope__").isNotNull(), median(resid)), round_to
        ).alias("intercept"),
    )
    return LazyFrame(out)


__all__.extend(["forecast_accuracy", "theil_sen_by_key"])


def ipf_weights(
    frame: "LazyFrame | SparkDF",
    row_col: str,
    col_col: str,
    row_targets: "dict[str, float]",
    col_targets: "dict[str, float]",
    iterations: int = 3,
    round_to: int = 6,
    checkpoint_every: int = 2,
    checkpoint_dir: "str | None" = None,
) -> LazyFrame:
    """Iterative proportional fitting (raking, Deming & Stephan 1940) —
    survey post-stratification: reweight the (row, col) contingency cells
    so the weighted marginals match the target shares on BOTH dimensions.
    ``row_targets``/``col_targets`` are proportions (normalized
    internally); cells whose category is missing from its target dict
    drop (they cannot be calibrated).  A fixed ``iterations`` keeps the
    computation closed-form (the pagerank/LPA convention — the oracle
    replays the rounds as unrolled CTEs); IPF converges geometrically, so
    a handful of rounds is the practical regime.

    Scale shape: ONE data-sized map-side-combining aggregate collapses
    rows to cells; every round is two marginal aggregates + broadcast
    joins over the CELL table (bounded by category cardinality, never row
    count).  Round lineage is checkpoint-truncated every
    ``checkpoint_every`` rounds (plans double per round otherwise — the
    pagerank/dedup_clusters pattern; ``checkpoint_dir`` upgrades to
    reliable checkpoints).  Output per cell: (row, col, n, weight, mass)
    where mass is the calibrated cell share (Σ mass = 1) and
    weight = mass / (n/N) is the per-record multiplier to apply back onto
    the microdata."""
    if not row_targets or not col_targets:
        raise ValueError("row_targets and col_targets must be non-empty")
    sdf = _sdf(frame)
    spark = sdf.sparkSession
    rt_tot = float(sum(row_targets.values()))
    ct_tot = float(sum(col_targets.values()))
    if rt_tot <= 0 or ct_tot <= 0:
        raise ValueError("target shares must sum to a positive value")
    rt = spark.createDataFrame(
        [(k, float(v) / rt_tot) for k, v in sorted(row_targets.items())],
        "__r__ string, __tr__ double",
    )
    ct = spark.createDataFrame(
        [(k, float(v) / ct_tot) for k, v in sorted(col_targets.items())],
        "__c__ string, __tc__ double",
    )

    # persist the DATA-SIZED cell aggregate: every round's two marginal
    # broadcast subqueries and the final action re-evaluate their whole
    # lineage — unpersisted, each one re-ran the full input scan+combine
    # (the cox_ph r12 bug class; the rounds after this line only ever
    # touch the bounded cell table)
    cells = register_cache(
        sdf.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(
            F.col(row_col).cast("string").alias("__r__"),
            F.col(col_col).cast("string").alias("__c__"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(rt), "__r__")
        .join(F.broadcast(ct), "__c__")
    )
    # DRIVER PATH (the bradley_terry convention): the calibrated cell table
    # is bounded by |row_targets| x |col_targets| — a bound known from the
    # ARGUMENTS, zero probe jobs — and IPF is only meaningful for bounded
    # category grids (survey raking).  Collect the cells once (after the
    # one data-sized aggregate) and run the rounds as a Python loop: the
    # identical multiplicative updates over the identical cells, ~3 jobs
    # instead of 6 nested broadcast-subquery evaluations per fit (measured
    # 103 AQE stage-jobs on the distributed shape at 3 rounds).  Division
    # and ROUNDING stay Spark expressions on the result frame, so the
    # output convention (F.round HALF_UP) is bit-identical.  The
    # distributed path remains for web-scale category grids.
    if record("ipf_weights", len(row_targets) * len(col_targets), 4096):
        erows = [
            (r["__r__"], r["__c__"], int(r["n"]), float(r["__tr__"]), float(r["__tc__"]))
            for r in cells.collect()
        ]
        n_total = float(sum(n for _, _, n, _, _ in erows))
        if not erows or n_total <= 0:
            # no calibratable cells: mirror the distributed path's empty
            # result (joins drop everything)
            from pyspark.sql.types import (
                DoubleType, LongType, StringType, StructField, StructType,
            )

            out = spark.createDataFrame(
                [],
                StructType([
                    StructField(row_col, StringType()),
                    StructField(col_col, StringType()),
                    StructField("n", LongType()),
                    StructField("weight", DoubleType()),
                    StructField("mass", DoubleType()),
                ]),
            )
            return LazyFrame(out)
        m = {(rr, cc): n / n_total for rr, cc, n, _, _ in erows}
        tr = {rr: t for rr, _, _, t, _ in erows}
        tc = {cc: t for _, cc, _, _, t in erows}

        def _rake(axis: int, target: dict) -> None:
            # Spark's semantics, so both paths agree: sum() skips nulls and
            # is null over all-null cells; x / 0 and x / null are null
            tot: dict = {}
            for key, v in m.items():
                if v is not None:
                    tot[key[axis]] = tot.get(key[axis], 0.0) + v
            for key, v in m.items():
                d = tot.get(key[axis])
                m[key] = None if v is None or not d else v * target[key[axis]] / d

        for _ in range(int(iterations)):
            _rake(0, tr)
            _rake(1, tc)
        staged = spark.createDataFrame(
            [
                (rr, cc, n, m[(rr, cc)], n / n_total)
                for rr, cc, n, _, _ in erows
            ],
            "__r__ string, __c__ string, n bigint, __m__ double, __sh__ double",
        )
        out = staged.select(
            F.col("__r__").alias(row_col),
            F.col("__c__").alias(col_col),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("__m__") / F.col("__sh__"), round_to).alias("weight"),
            F.round(F.col("__m__"), round_to).alias("mass"),
        )
        return LazyFrame(out)
    # with-block so the previous checkpoint dir is restored even when an
    # iteration raises (a manual __enter__/__exit__ leaked the redirected
    # dir on any mid-loop exception)
    with scoped_checkpoint_dir(sdf.sparkSession.sparkContext, checkpoint_dir) as ckpt:
        ntot = cells.agg(F.sum("n").alias("__N__"))
        cur = cells.join(F.broadcast(ntot)).withColumn(
            "__m__", F.col("n") / F.col("__N__")
        )
        for i in range(int(iterations)):
            rsum = cur.groupBy("__r__").agg(F.sum("__m__").alias("__rs__"))
            cur = cur.join(F.broadcast(rsum), "__r__").withColumn(
                "__m__", F.col("__m__") * F.col("__tr__") / F.col("__rs__")
            ).drop("__rs__")
            csum = cur.groupBy("__c__").agg(F.sum("__m__").alias("__cs__"))
            cur = cur.join(F.broadcast(csum), "__c__").withColumn(
                "__m__", F.col("__m__") * F.col("__tc__") / F.col("__cs__")
            ).drop("__cs__")
            if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                cur = ckpt(cur)
        out = cur.select(
            F.col("__r__").alias(row_col),
            F.col("__c__").alias(col_col),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("__m__") / (F.col("n") / F.col("__N__")), round_to).alias("weight"),
            F.round(F.col("__m__"), round_to).alias("mass"),
        )
    return LazyFrame(out)


__all__.append("ipf_weights")


def kendall_tau(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Kendall's τ-b rank correlation (the concordance companion to
    spearman_corr — less sensitive to a few large rank displacements,
    standard for ordinal/rating data): τ-b = (C − D) /
    √((n₀−n₁)(n₀−n₂)) with concordant/discordant pair counts and the
    tie-corrected denominators.

    EXACT via the joint distinct-value contingency: pairs collapse to
    (x, y) cells first (ONE map-side-combining aggregate), and C/D come
    from the cell-table self-join on x-order — cost |cells|², so this is
    the BOUNDED-CARDINALITY path (ratings, grades, small-integer scores;
    the same contract as chi2's margins grid — bin continuous data first,
    that is the lever).  Ties contribute to neither C nor D and enter
    through n₁/n₂, the τ-b convention.  Output (1 row): tau_b, n,
    concordant, discordant."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    yv = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & yv.isNotNull()).select(
        x.alias("__x__"), yv.alias("__y__")
    )
    cells = base.groupBy("__x__", "__y__").agg(F.count(F.lit(1)).alias("n"))
    a = cells.select(
        F.col("__x__").alias("ax"), F.col("__y__").alias("ay"), F.col("n").alias("an")
    )
    b = cells.select(
        F.col("__x__").alias("bx"), F.col("__y__").alias("by"), F.col("n").alias("bn")
    )
    pairs = a.join(b, F.col("bx") > F.col("ax"))
    cd = pairs.agg(
        F.coalesce(
            F.sum(F.when(F.col("by") > F.col("ay"), F.col("an") * F.col("bn"))),
            F.lit(0),
        ).alias("c"),
        F.coalesce(
            F.sum(F.when(F.col("by") < F.col("ay"), F.col("an") * F.col("bn"))),
            F.lit(0),
        ).alias("d"),
    )
    margins = cells.agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("__tjoint__"),
    )
    tx = (
        cells.groupBy("__x__").agg(F.sum("n").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n1"))
    )
    ty = (
        cells.groupBy("__y__").agg(F.sum("n").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n2"))
    )
    n0 = F.col("nn") * (F.col("nn") - 1) / 2
    denom = F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2")))
    out = (
        cd.join(F.broadcast(margins))
        .join(F.broadcast(tx))
        .join(F.broadcast(ty))
        .select(
            F.round(
                F.when(denom > 0, (F.col("c") - F.col("d")) / denom), round_to
            ).alias("tau_b"),
            F.col("nn").cast("long").alias("n"),
            F.col("c").cast("long").alias("concordant"),
            F.col("d").cast("long").alias("discordant"),
        )
    )
    return LazyFrame(out)


__all__.append("kendall_tau")


def cramers_v(
    frame: "LazyFrame | SparkDF",
    col_a: str,
    col_b: str,
    round_to: int = 6,
) -> LazyFrame:
    """Cramér's V — the [0, 1] effect size behind chi2_independence
    (χ² alone grows with n; V answers "how strongly associated"):
    V = √(χ² / (n · min(r−1, c−1))).  Same plan as chi2_independence
    (cell counts + full margins grid, bounded by category cardinality).
    Output (1 row): v, chi2, df, n."""
    inner = chi2_independence(_sdf(frame), col_a, col_b, round_to=12).spark
    # min(r-1, c-1) recovered from the category cardinalities directly
    cells = (
        _sdf(frame)
        .filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .agg(
            F.count_distinct(col_a).alias("__r__"),
            F.count_distinct(col_b).alias("__c__"),
        )
    )
    out = inner.join(F.broadcast(cells)).select(
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * F.least(F.col("__r__") - 1, F.col("__c__") - 1)
                )
            ),
            round_to,
        ).alias("v"),
        F.round("chi2", round_to).alias("chi2"),
        F.col("df"),
        F.col("n"),
    )
    return LazyFrame(out)


def odds_ratio(
    frame: "LazyFrame | SparkDF",
    exposure_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """2×2 odds ratio and relative risk with Woolf's log-OR standard error
    — the case-control/cohort companion to prop_ztest: exposure and
    outcome are truthy columns (cast to 0/1, nulls drop);
    OR = (a·d)/(b·c) over the exposed/unexposed × outcome table,
    RR = risk_exposed / risk_unexposed, SE(ln OR) = √(1/a+1/b+1/c+1/d),
    z = ln(OR)/SE.  Any empty cell yields null OR/SE/z (apply the 0.5
    Haldane correction upstream if needed — kept out so counts stay
    exact).  ONE fused conditional-count all-reduce.
    Output (1 row): a, b, c, d (exposed+/exposed−/unexposed+/unexposed−),
    odds_ratio_, relative_risk, log_or_se, z."""
    sdf = _sdf(frame)
    e = (F.col(exposure_col).cast("double") > 0).cast("int")
    o = (F.col(outcome_col).cast("double") > 0).cast("int")
    base = sdf.filter(
        F.col(exposure_col).isNotNull() & F.col(outcome_col).isNotNull()
    ).select(e.alias("__e__"), o.alias("__o__"))
    cnt = base.agg(
        F.sum((F.col("__e__") * F.col("__o__"))).alias("a"),
        F.sum((F.col("__e__") * (1 - F.col("__o__")))).alias("b"),
        F.sum(((1 - F.col("__e__")) * F.col("__o__"))).alias("c"),
        F.sum(((1 - F.col("__e__")) * (1 - F.col("__o__")))).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    ok = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    orr = (a * d) / (b * c)
    rr = F.when(
        (a + b > 0) & (c + d > 0) & (c > 0),
        (a / (a + b)) / (c / (c + d)),
    )
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    out = cnt.select(
        a.cast("long").alias("a"),
        b.cast("long").alias("b"),
        c.cast("long").alias("c"),
        d.cast("long").alias("d"),
        F.round(F.when(ok, orr), round_to).alias("odds_ratio_"),
        F.round(rr, round_to).alias("relative_risk"),
        F.round(F.when(ok, se), round_to).alias("log_or_se"),
        F.round(F.when(ok, F.log(orr) / se), round_to).alias("z"),
    )
    return LazyFrame(out)


__all__.extend(["cramers_v", "odds_ratio"])


def mcnemar_test(
    frame: "LazyFrame | SparkDF",
    before_col: str,
    after_col: str,
    correction: bool = True,
    round_to: int = 6,
) -> LazyFrame:
    """McNemar's test for PAIRED binary outcomes (same units measured
    twice — model A vs model B on the same examples, before/after a
    change): only the discordant cells carry signal, χ² =
    (|b−c| − 1)²/(b+c) with the Edwards continuity correction (drop via
    ``correction=False``), df = 1.  Null b+c = 0 → null χ².  ONE fused
    conditional-count all-reduce; truthy casts, null pairs drop.
    Output (1 row): n, n01, n10, chi2."""
    sdf = _sdf(frame)
    x = (F.col(before_col).cast("double") > 0).cast("int")
    yv = (F.col(after_col).cast("double") > 0).cast("int")
    base = sdf.filter(
        F.col(before_col).isNotNull() & F.col(after_col).isNotNull()
    ).select(x.alias("__b__"), yv.alias("__a__"))
    cnt = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((1 - F.col("__b__")) * F.col("__a__")).alias("n01"),
        F.sum(F.col("__b__") * (1 - F.col("__a__"))).alias("n10"),
    )
    b, c = F.col("n10"), F.col("n01")
    diff = F.abs(b - c) - (F.lit(1.0) if correction else F.lit(0.0))
    diff = F.greatest(diff, F.lit(0.0))
    chi2 = F.when(b + c > 0, diff * diff / (b + c))
    out = cnt.select(
        F.col("n").cast("long").alias("n"),
        c.cast("long").alias("n01"),
        b.cast("long").alias("n10"),
        F.round(chi2, round_to).alias("chi2"),
    )
    return LazyFrame(out)


def cohens_d(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    treat_value,
    round_to: int = 6,
) -> LazyFrame:
    """Cohen's d / Hedges' g standardized effect size — the "how big,
    units-free" companion to welch_ttest (which only answers "how
    unlikely"): d = (x̄₁ − x̄₀) / s_pooled with the pooled SD, g = d ·
    (1 − 3/(4(n₀+n₁)−9)) small-sample correction.  ONE fused
    conditional-aggregate all-reduce.  Output (1 row): n_c, n_t, mean_c,
    mean_t, pooled_sd, d, g (null when either group has < 2 points or
    zero pooled variance)."""
    sdf = _sdf(frame)
    yv = F.col(value_col).cast("double")
    g = (F.col(group_col) == F.lit(treat_value)).cast("int")
    base = sdf.filter(yv.isNotNull() & F.col(group_col).isNotNull()).select(
        g.alias("__g__"), yv.alias("__y__")
    )
    c = F.when(F.col("__g__") == 0, F.col("__y__"))
    t = F.when(F.col("__g__") == 1, F.col("__y__"))
    wide = base.agg(
        F.count(c).alias("n_c"),
        F.count(t).alias("n_t"),
        F.avg(c).alias("m_c"),
        F.avg(t).alias("m_t"),
        F.var_samp(c).alias("v_c"),
        F.var_samp(t).alias("v_t"),
    )
    nc, nt = F.col("n_c"), F.col("n_t")
    pooled = F.sqrt(
        ((nc - 1) * F.col("v_c") + (nt - 1) * F.col("v_t")) / (nc + nt - 2)
    )
    d = F.when(pooled > 0, (F.col("m_t") - F.col("m_c")) / pooled)
    corr = 1.0 - 3.0 / (4.0 * (nc + nt) - 9.0)
    out = wide.select(
        nc.cast("long").alias("n_c"),
        nt.cast("long").alias("n_t"),
        F.round("m_c", round_to).alias("mean_c"),
        F.round("m_t", round_to).alias("mean_t"),
        F.round(pooled, round_to).alias("pooled_sd"),
        F.round(d, round_to).alias("d"),
        F.round(d * corr, round_to).alias("g"),
    )
    return LazyFrame(out)


__all__.extend(["mcnemar_test", "cohens_d"])


def anova_oneway(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """One-way ANOVA F-test (Fisher): does the metric mean differ across
    k groups?  F = (SSB/(k−1)) / (SSW/(n−k)) with the usual between/within
    sum-of-squares split; η² = SSB/SST is the effect size.  The k-group
    generalization of welch_ttest's 2-sample question (classic ANOVA
    assumes equal variances; use pairwise Welch post-hoc when that is in
    doubt).

    ONE group-keyed map-side-combining aggregate (per-group n/mean/M2) +
    one bounded k-row reduce — no window, no join, no collect.  Output
    (1 row): k, n, f_stat, df1, df2, eta_sq (f null when any df ≤ 0 or
    SSW = 0)."""
    sdf = _sdf(frame)
    y = F.col(value_col).cast("double")
    g = sdf.filter(y.isNotNull() & F.col(group_col).isNotNull()).groupBy(
        F.col(group_col)
    ).agg(
        F.count(F.lit(1)).alias("ng"),
        F.avg(y).alias("mg"),
        (F.var_pop(y) * F.count(F.lit(1))).alias("ssw_g"),
    )
    red = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum(F.col("ng") * F.col("mg")).alias("sw"),
        F.sum(F.col("ng") * F.col("mg") * F.col("mg")).alias("sww"),
        F.sum("ssw_g").alias("ssw"),
    )
    grand = F.col("sw") / F.col("n")
    ssb = F.col("sww") - F.col("n") * grand * grand
    df1 = F.col("k") - 1
    df2 = F.col("n") - F.col("k")
    fstat = F.when(
        (df1 > 0) & (df2 > 0) & (F.col("ssw") > 0),
        (ssb / df1) / (F.col("ssw") / df2),
    )
    eta = F.when(
        ssb + F.col("ssw") > 0, ssb / (ssb + F.col("ssw"))
    )
    out = red.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(fstat, round_to).alias("f_stat"),
        df1.cast("long").alias("df1"),
        df2.cast("long").alias("df2"),
        F.round(eta, round_to).alias("eta_sq"),
    )
    return LazyFrame(out)


def info_gain_report(
    frame: "LazyFrame | SparkDF",
    feature_cols: "list[str]",
    label_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Information-gain feature screen: per categorical feature,
    IG = H(label) − Σ_v p(v)·H(label | value=v) in nats, plus the
    gain ratio IG/H(feature) (Quinlan's split-info normalization, null
    for constant features) — the decision-tree-era ranking that still
    reads well on label leakage hunts (IG ≈ H(label) means the feature IS
    the label).  Nulls in a feature form their own category; null-label
    rows drop.

    One melt (rows × |features| map-side fan-out) + (feature, value,
    label) counts with map-side combine + two bounded rollups — same
    shuffle shape as profile_frame.  Output per feature: (feature, n,
    h_label, h_cond, info_gain, gain_ratio), info_gain descending."""
    if not feature_cols:
        raise ValueError("feature_cols must name at least one column")
    sdf = _sdf(frame)
    lab = F.col(label_col).cast("string")
    base = sdf.filter(lab.isNotNull())
    melted = base.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("feature"),
                    F.coalesce(F.col(c).cast("string"), F.lit("__null__")).alias("value"),
                )
                for c in feature_cols
            ])
        ).alias("fv"),
        lab.alias("__y__"),
    ).select("fv.feature", "fv.value", "__y__")
    cell = melted.groupBy("feature", "value", "__y__").agg(
        F.count(F.lit(1)).alias("c")
    )
    vtot = cell.groupBy("feature", "value").agg(F.sum("c").alias("cv"))
    # H(label | value=v) per (feature, value): -sum p log p within the cell
    hv = (
        cell.join(vtot, ["feature", "value"])
        .groupBy("feature", "value")
        .agg(
            (-F.sum((F.col("c") / F.col("cv")) * F.log(F.col("c") / F.col("cv"))))
            .alias("hv"),
            F.first("cv").alias("cv"),
        )
    )
    ftot = vtot.groupBy("feature").agg(F.sum("cv").alias("cf"))
    share = F.col("cv") / F.col("cf")
    per_feature = (
        hv.join(ftot, "feature")
        .withColumn("__sh__", share)
        .groupBy("feature")
        .agg(
            F.max("cf").alias("n"),
            (F.sum(F.col("cv") * F.col("hv")) / F.max("cf")).alias("h_cond"),
            (-F.sum(F.col("__sh__") * F.log("__sh__"))).alias("h_feat"),
        )
    )
    ytot = base.groupBy(lab.alias("__y__")).agg(F.count(F.lit(1)).alias("c"))
    ytotal = ytot.agg(F.sum("c").alias("tc"))
    hy = (
        ytot.join(F.broadcast(ytotal))
        .withColumn("__sh__", F.col("c") / F.col("tc"))
        .agg((-F.sum(F.col("__sh__") * F.log("__sh__"))).alias("h_label"))
    )
    ig = F.col("h_label") - F.col("h_cond")
    out = (
        per_feature.join(F.broadcast(hy))
        .select(
            "feature",
            F.col("n").cast("long").alias("n"),
            F.round("h_label", round_to).alias("h_label"),
            F.round("h_cond", round_to).alias("h_cond"),
            F.round(ig, round_to).alias("info_gain"),
            F.round(
                F.when(F.col("h_feat") > 0, ig / F.col("h_feat")), round_to
            ).alias("gain_ratio"),
        )
        .orderBy(F.col("info_gain").desc(), F.col("feature"))
    )
    return LazyFrame(out)


def msprt_report(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    mu0: float = 0.0,
    tau: float = 1.0,
    alpha: float = 0.05,
    round_to: int = 6,
) -> LazyFrame:
    """Mixture sequential probability ratio test (mSPRT; Johari et al.
    2017 'Peeking at A/B tests') — the ALWAYS-VALID test: peek at the
    running statistic at every observation without inflating type-I
    error.  With S_k = Σᵢ≤k (xᵢ−μ₀), σ̂² estimated from the data, and
    mixture variance ``tau`` over the effect size, the normal-mixture
    likelihood ratio is Λ_k = √(σ̂²/(σ̂²+k·τ)) ·
    exp(τ·S_k² / (2·σ̂²·(σ̂²+k·τ))) (Johari et al., eq. for the normal
    conjugate mixture), and the always-valid p-value is
    min(1, 1/max_{k≤n} Λ_k); reject when it drops below ``alpha``.
    Λ is carried in LOG space (no overflow on strong effects; stable
    relative precision for cross-engine replay).

    Scale shape: one 1-row σ̂ probe, then the running S_k/k cumulants
    ride the distsort range-bucket + driver-prefix machinery (the same
    path as every global rank statistic) and the max_k Λ_k is ONE
    map-side-combining 1-row reduce — no single-partition window at any
    n.  Output (1 row): n, s_n, sigma, lambda_max, always_valid_p,
    reject."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    x = F.col(value_col).cast("double")
    o = F.col(order_col)
    base = sdf.filter(x.isNotNull() & o.isNotNull()).select(
        o.alias("__o__"), (x - F.lit(float(mu0))).alias("__d__")
    )
    srow = base.agg(
        F.count(F.lit(1)).alias("n"), F.var_samp("__d__").alias("v")
    ).first()
    n_total, sig2 = int(srow["n"]), srow["v"]
    if not n_total or sig2 is None or sig2 <= 0:
        raise ValueError("msprt_report needs >= 2 observations with variance > 0")
    offs, gb, tot = with_bucket_offsets(
        base, "__o__", {"s": F.col("__d__"), "c": F.lit(1)}
    )
    wrun = (
        Window.partitionBy(gb).orderBy("__o__").rowsBetween(Window.unboundedPreceding, 0)
    )
    s_k = F.col("__off_s__") + F.sum("__d__").over(wrun)
    k = F.col("__off_c__") + F.sum(F.lit(1)).over(wrun)
    s2 = F.lit(float(sig2))
    t = F.lit(float(tau))
    loglam = F.lit(0.5) * F.log(s2 / (s2 + k * t)) + t * s_k * s_k / (
        F.lit(2.0) * s2 * (s2 + k * t)
    )
    red = offs.select(
        loglam.alias("__ll__"), s_k.alias("__s__"), k.alias("__k__")
    ).agg(
        F.max("__ll__").alias("log_lambda_max"),
        F.max_by("__s__", "__k__").alias("s_n"),
    )
    pav = F.least(F.lit(1.0), F.exp(-F.col("log_lambda_max")))
    out = red.select(
        F.lit(n_total).cast("long").alias("n"),
        F.round("s_n", round_to).alias("s_n"),
        F.round(F.lit(float(sig2) ** 0.5), round_to).alias("sigma"),
        F.round("log_lambda_max", round_to).alias("log_lambda_max"),
        F.round(pav, round_to).alias("always_valid_p"),
        (pav < F.lit(float(alpha))).alias("reject"),
    )
    return LazyFrame(out)


__all__.extend(["anova_oneway", "info_gain_report", "msprt_report"])


def median_ci(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    z: float = 1.96,
    round_to: int = 6,
) -> LazyFrame:
    """Distribution-free confidence interval for the MEDIAN via order
    statistics: the interval [x_(l), x_(u)] with ranks l = ⌊(n − z·√n)/2⌋
    and u = ⌈(n + z·√n)/2⌉ + 1 (normal approximation to the binomial
    order-statistic argument; Conover 1999) covers the true median with
    ≈ the z-level confidence REGARDLESS of the distribution — the right
    interval for skewed latency/quality metrics where a mean ± t·se is
    meaningless.

    Scale shape: the non-null values are cached and counted once, which
    gives n, and ranked under the one bound rule of operators/distsort.py:
    at most 65,536 rows (``_bounded.BOUND``) take one global
    ``row_number`` in a single task, with no sketch or offsets job; above
    it distsort range buckets + prefix offsets give every row its global
    rank (= offset + within-bucket row_number) with no single-partition
    window.  The MEDIAN is read off the same rank column as order
    statistics m1=(n+1)//2, m2=n//2+1 — bounds and median fuse into ONE
    final aggregate, no keyless join.
    Output (1 row): n, median, ci_lo, ci_hi, z."""
    import math

    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    x = F.col(value_col).cast("double")
    base, n, small = bounded(
        sdf.filter(x.isNotNull()).select(x.alias("__x__")), "median_ci"
    )
    if n < 2:
        raise ValueError("median_ci needs >= 2 non-null values")
    zz = float(z)
    lo_rank = max(1, int(math.floor((n - zz * math.sqrt(n)) / 2.0)))
    hi_rank = min(n, int(math.ceil((n + zz * math.sqrt(n)) / 2.0)) + 1)
    m1 = (n + 1) // 2
    m2 = n // 2 + 1
    if small:
        ranked = base
        rank = F.row_number().over(Window.orderBy("__x__"))
    else:
        ranked, gb, _tot = with_bucket_offsets(base, "__x__", {"c": F.lit(1)})
        w = Window.partitionBy(gb).orderBy("__x__")
        rank = F.col("__off_c__") + F.row_number().over(w)
    wanted = sorted({lo_rank, hi_rank, m1, m2})
    picked = ranked.select("__x__", rank.cast("long").alias("__r__")).filter(
        F.col("__r__").isin(wanted)
    )

    def _at(r: int) -> Column:
        return F.min(F.when(F.col("__r__") == r, F.col("__x__")))

    # lazy over the registered cache: release_caches() frees it after use
    out = picked.agg(
        F.lit(int(n)).cast("long").alias("n"),
        F.round((_at(m1) + _at(m2)) / 2.0, round_to).alias("median"),
        F.round(_at(lo_rank), round_to).alias("ci_lo"),
        F.round(_at(hi_rank), round_to).alias("ci_hi"),
        F.lit(zz).alias("z"),
    )
    return LazyFrame(out)


__all__.append("median_ci")


def cochran_armitage(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Cochran–Armitage test for TREND in proportions across ordered
    groups: is the event rate monotonically moving with the ordinal score
    (dose, priority tier, bucket index)?  More powerful than the r×2 χ²
    when the alternative is ordered — the standard dose-response screen.
    T = Σ sᵢ(rᵢ − nᵢ·p̄), Var(T) = p̄(1−p̄)·(Σ nᵢsᵢ² − (Σ nᵢsᵢ)²/N),
    z = T/√Var ~ N(0,1) under no trend.

    ``score_col`` is numeric-ordinal (cast to double), ``label_col`` 0/1;
    null rows drop.  ONE score-keyed map-side-combining aggregate +
    one bounded reduce over the (score-cardinality) group table.
    Output (1 row): n, k (groups), pbar, t_stat, var_t, z (null when
    Var = 0 — a constant score or an all-0/all-1 label)."""
    sdf = _sdf(frame)
    sc = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    g = (
        sdf.filter(sc.isNotNull() & y.isNotNull())
        .groupBy(sc.alias("__s__"))
        .agg(F.count(F.lit(1)).alias("ni"), F.sum(y).alias("ri"))
    )
    red = g.agg(
        F.sum("ni").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("ri").alias("r"),
        F.sum(F.col("__s__") * F.col("ri")).alias("sr"),
        F.sum(F.col("__s__") * F.col("ni")).alias("sn"),
        F.sum(F.col("__s__") * F.col("__s__") * F.col("ni")).alias("ssn"),
    )
    pbar = F.col("r") / F.col("n")
    t = F.col("sr") - pbar * F.col("sn")
    var_t = pbar * (1 - pbar) * (F.col("ssn") - F.col("sn") * F.col("sn") / F.col("n"))
    out = red.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(pbar, round_to).alias("pbar"),
        F.round(t, round_to).alias("t_stat"),
        F.round(var_t, round_to).alias("var_t"),
        F.round(F.when(var_t > 0, t / F.sqrt(var_t)), round_to).alias("z"),
    )
    return LazyFrame(out)


__all__.append("cochran_armitage")


def krippendorff_alpha(
    frame: "LazyFrame | SparkDF",
    unit_col: str,
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Krippendorff's alpha (nominal data) — the inter-rater agreement
    coefficient that, unlike Cohen's (q204, 2 raters) or Fleiss' (q217,
    fixed panel), accepts ANY number of raters per unit and missing
    ratings: the standard for crowd-labeled training data.  One row per
    (unit, rating) observation; units with a single rating contribute no
    pairable information and drop.

        α = 1 − D_o/D_e,  D_o = Σ_u (m_u² − Σ_c n_uc²)/(m_u−1) / n,
        D_e = (n² − Σ_c n_c²)/(n·(n−1)),   n = Σ pairable m_u.

    Two map-side-combining aggregates (unit×value counts → unit totals +
    value marginals) and two bounded 1-row reduces combined on the
    driver (no keyless join).  Output (1 row): alpha, d_o, d_e,
    n_pairable, n_units, n_values."""
    sdf = _sdf(frame)
    base = sdf.filter(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(unit_col).alias("__u__"), F.col(value_col).alias("__v__"))
    cnt = base.groupBy("__u__", "__v__").agg(F.count(F.lit(1)).alias("__n__"))
    units = cnt.groupBy("__u__").agg(
        F.sum("__n__").alias("__m__"), F.sum(F.col("__n__") ** 2).alias("__ss__")
    ).filter(F.col("__m__") >= 2)
    urow = units.agg(
        F.sum(
            (F.col("__m__") ** 2 - F.col("__ss__")) / (F.col("__m__") - 1)
        ).alias("od"),
        F.sum("__m__").alias("n"),
        F.count(F.lit(1)).alias("n_units"),
    ).first()
    if urow is None or not urow["n"] or int(urow["n"]) < 2:
        raise ValueError("krippendorff_alpha needs >= 2 pairable ratings")
    # value marginals over PAIRABLE units only (unit-keyed equi join)
    marg = (
        cnt.join(units.select("__u__"), "__u__")
        .groupBy("__v__")
        .agg(F.sum("__n__").alias("__nc__"))
    )
    vrow = marg.agg(
        F.sum(F.col("__nc__") ** 2).alias("ss"), F.count(F.lit(1)).alias("k")
    ).first()
    n = float(urow["n"])
    d_o = float(urow["od"]) / n
    d_e = (n * n - float(vrow["ss"])) / (n * (n - 1.0))
    # d_e == 0 means every pairable rating is the same value: expected
    # disagreement is zero and so is observed, which is PERFECT agreement
    # by convention (scipy/krippendorff return 1.0, not null/NaN).
    alpha = 1.0 - d_o / d_e if d_e > 0 else 1.0
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [
            (
                None if alpha is None else round(alpha, round_to),
                round(d_o, round_to),
                round(d_e, round_to),
                int(n),
                int(urow["n_units"]),
                int(vrow["k"]),
            )
        ],
        "alpha double, d_o double, d_e double, n_pairable bigint, "
        "n_units bigint, n_values bigint",
    )
    return LazyFrame(out)


__all__.append("krippendorff_alpha")


def mann_kendall(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Mann–Kendall trend test — the nonparametric "is this series going
    up or down AT ALL" significance screen that pairs with
    :func:`theil_sen_by_key` (which gives the magnitude): S = Σ over
    time-ordered pairs of sgn(v_j − v_i), with the FULL tie-corrected
    variance (Kendall 1975) handling ties in both time and value:

        Var(S) = (A − A_t − A_v)/18
               + B_t·B_v / (9n(n−1)(n−2))
               + C_t·C_v / (2n(n−1))

    with A = n(n−1)(2n+5), and per tie-group g of size t: A_* = Σ
    t(t−1)(2t+5), B_* = Σ t(t−1)(t−2), C_* = Σ t(t−1).  z applies the
    ±1 continuity correction; pairs with tied times contribute nothing
    to S (they are not "ordered"), the standard convention.

    EXACT via the joint distinct-cell contingency, same BOUNDED-
    CARDINALITY contract as kendall_tau: rows collapse to (t, v) cells
    in ONE map-side-combining aggregate and S comes from the cell-table
    self-join on t-order — cost |cells|², so feed it an AGGREGATED
    series (daily/hourly rollup), not raw events.  Output (1 row):
    s, var_s, z, n, trend ('increasing'/'decreasing'/'no trend' at
    |z| > 1.96)."""
    sdf = _sdf(frame)
    t = F.col(time_col).cast("double")
    v = F.col(value_col).cast("double")
    base = sdf.filter(t.isNotNull() & v.isNotNull()).select(
        t.alias("__t__"), v.alias("__v__")
    )
    cells = base.groupBy("__t__", "__v__").agg(F.count(F.lit(1)).alias("n"))
    with scoped_caches():
        cells = register_cache(cells)
        a = cells.select(
            F.col("__t__").alias("at"), F.col("__v__").alias("av"),
            F.col("n").alias("an"),
        )
        b = cells.select(
            F.col("__t__").alias("bt"), F.col("__v__").alias("bv"),
            F.col("n").alias("bn"),
        )
        s_row = (
            a.join(b, F.col("bt") > F.col("at"))
            .agg(
                F.coalesce(
                    F.sum(
                        F.signum(F.col("bv") - F.col("av"))
                        * F.col("an") * F.col("bn")
                    ),
                    F.lit(0.0),
                ).alias("s")
            )
            .collect()[0]
        )
        tie = F.col("t")

        def _tie_terms(key):
            return (
                cells.groupBy(key).agg(F.sum("n").alias("t"))
                .agg(
                    F.sum(tie * (tie - 1) * (2 * tie + 5)).alias("a"),
                    F.sum(tie * (tie - 1) * (tie - 2)).alias("b"),
                    F.sum(tie * (tie - 1)).alias("c"),
                )
                .collect()[0]
            )

        tt, tv = _tie_terms("__t__"), _tie_terms("__v__")
        n = int(cells.agg(F.sum("n")).collect()[0][0] or 0)
    if n < 3:
        raise ValueError("mann_kendall needs at least 3 observations")
    s = float(s_row["s"])
    big_a = n * (n - 1) * (2 * n + 5)
    var_s = (big_a - float(tt["a"]) - float(tv["a"])) / 18.0
    denom3 = 9.0 * n * (n - 1) * (n - 2)
    if denom3 > 0:
        var_s += float(tt["b"]) * float(tv["b"]) / denom3
    var_s += float(tt["c"]) * float(tv["c"]) / (2.0 * n * (n - 1))
    if var_s > 0:
        z = (s - 1.0) / var_s ** 0.5 if s > 0 else (
            (s + 1.0) / var_s ** 0.5 if s < 0 else 0.0
        )
    else:
        z = 0.0
    trend = (
        "increasing" if z > 1.96 else "decreasing" if z < -1.96 else "no trend"
    )
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(s, round_to), round(var_s, round_to), round(z, round_to),
          n, trend)],
        "s double, var_s double, z double, n bigint, trend string",
    )
    return LazyFrame(out)


def ipw_ate(
    frame: "LazyFrame | SparkDF",
    y_col: str,
    treat_col: str,
    p_col: str,
    mu1_col: "str | None" = None,
    mu0_col: "str | None" = None,
    clip: "float | None" = 0.01,
    round_to: int = 6,
) -> LazyFrame:
    """Average treatment effect from OBSERVATIONAL data by inverse-
    propensity weighting — the causal companion to the randomized-test
    family (welch/cuped/ratio_ttest assume the assignment was random;
    this reweights when it wasn't, given a propensity column p̂(x)):

    * ``ate_ht``    Horvitz–Thompson  E[ty/p] − E[(1−t)y/(1−p)]
    * ``ate_hajek`` ratio-normalized (weights sum to 1 per arm — the
      estimator you actually want; HT is reported for diagnostics)
    * ``se_hajek``  linearized (influence-function) SE, and z
    * ``ate_aipw``/``se_aipw`` when outcome-model columns mu1/mu0 are
      given: the doubly-robust augmented estimator
      E[mu1 − mu0 + t(y−mu1)/p − (1−t)(y−mu0)/(1−p)] — consistent if
      EITHER the propensity or the outcome model is right.

    Propensities clip into [clip, 1−clip] (None disables).  ONE fused
    all-reduce: every moment the Hajek influence expansion needs
    (Σty/p, Σt/p, their squares and cross-products per arm — treated×
    control cross terms vanish since t(1−t)=0) is a conditional sum in
    a single aggregate; no join, no window, no second pass."""
    sdf = _sdf(frame)
    yv = F.col(y_col).cast("double")
    tr = F.col(treat_col).cast("double")
    p_raw = F.col(p_col).cast("double")
    p = (
        F.least(F.greatest(p_raw, F.lit(float(clip))), F.lit(1.0 - float(clip)))
        if clip is not None
        else p_raw
    )
    # degenerate propensities and (on the AIPW path) null outcome-model
    # rows must DROP, not silently vanish from the sums while still
    # counting in n — a null term inside F.sum skips the row but the
    # denominator would keep it, biasing every estimate
    cond = (
        yv.isNotNull() & tr.isNotNull() & p_raw.isNotNull()
        & tr.isin([0.0, 1.0]) & (p > 0) & (p < 1)
    )
    if mu1_col is not None and mu0_col is not None:
        cond = (
            cond
            & F.col(mu1_col).isNotNull()
            & F.col(mu0_col).isNotNull()
        )
    base = sdf.filter(cond)
    w1 = tr / p                      # treated weight
    w0 = (1 - tr) / (1 - p)          # control weight
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(tr).alias("nt"),
        F.sum(w1 * yv).alias("s1y"),
        F.sum(w1).alias("s1"),
        F.sum(w0 * yv).alias("s0y"),
        F.sum(w0).alias("s0"),
        F.sum((w1 * yv) ** 2).alias("s1y2"),
        F.sum(w1 ** 2 * yv).alias("s1y1"),
        F.sum(w1 ** 2).alias("s12"),
        F.sum((w0 * yv) ** 2).alias("s0y2"),
        F.sum(w0 ** 2 * yv).alias("s0y1"),
        F.sum(w0 ** 2).alias("s02"),
    ]
    aipw = mu1_col is not None and mu0_col is not None
    if aipw:
        m1 = F.col(mu1_col).cast("double")
        m0 = F.col(mu0_col).cast("double")
        psi = m1 - m0 + w1 * (yv - m1) - w0 * (yv - m0)
        aggs += [F.sum(psi).alias("sp"), F.sum(psi ** 2).alias("sp2")]
    red = base.agg(*aggs)
    n = F.col("n").cast("double")
    r1 = F.col("s1y") / F.col("s1")
    r0 = F.col("s0y") / F.col("s0")
    wbar1 = F.col("s1") / n
    wbar0 = F.col("s0") / n
    # Σφ² with φ_i = (w1ᵢyᵢ − r1·w1ᵢ)/W̄1 − (w0ᵢyᵢ − r0·w0ᵢ)/W̄0
    phi2 = (
        (F.col("s1y2") - 2 * r1 * F.col("s1y1") + r1 ** 2 * F.col("s12"))
        / wbar1 ** 2
        + (F.col("s0y2") - 2 * r0 * F.col("s0y1") + r0 ** 2 * F.col("s02"))
        / wbar0 ** 2
    )
    se_h = F.sqrt(phi2) / n
    cols = [
        F.col("n").cast("long").alias("n"),
        F.col("nt").cast("long").alias("n_treat"),
        F.round(F.col("s1y") / n - F.col("s0y") / n, round_to).alias("ate_ht"),
        F.round(r1 - r0, round_to).alias("ate_hajek"),
        F.round(se_h, round_to).alias("se_hajek"),
        F.round((r1 - r0) / se_h, round_to).alias("z"),
    ]
    if aipw:
        mp = F.col("sp") / n
        se_a = F.sqrt((F.col("sp2") / n - mp ** 2) / n)
        cols += [
            F.round(mp, round_to).alias("ate_aipw"),
            F.round(se_a, round_to).alias("se_aipw"),
        ]
    return LazyFrame(red.select(*cols))


def _norm_ppf(q: float) -> float:
    """Φ⁻¹(q) to machine precision via bisection on math.erf (stdlib-only;
    driver-side — the result enters the plan as a literal)."""
    import math

    if not 0.0 < q < 1.0:
        raise ValueError("quantile must be in (0, 1)")
    lo, hi = -10.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if 0.5 * (1.0 + math.erf(mid / math.sqrt(2.0))) < q:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def power_mde_report(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    alpha: float = 0.05,
    power: float = 0.8,
    treat_share: float = 0.5,
    round_to: int = 6,
) -> LazyFrame:
    """Pre-experiment power panel: per segment, the minimum detectable
    effect a two-sample z-test would resolve if THIS population were
    split treat_share/(1−treat_share) — the "is this experiment even
    worth running here" planning view:

        MDE = (z_{1−α/2} + z_{power}) · s · √(1/n₁ + 1/n₂)

    with s the segment's sample std (ddof=1).  The normal quantiles are
    computed driver-side to machine precision (math.erf bisection) and
    enter the plan as literals.  ONE map-side-combining aggregate per
    segment; no window, no join.  Output: [by...,] n, mean, sd,
    mde_abs, mde_rel (null when mean is 0)."""
    if not 0.0 < treat_share < 1.0:
        raise ValueError("treat_share must be in (0, 1)")
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    zsum = _norm_ppf(1.0 - alpha / 2.0) + _norm_ppf(power)
    base = sdf.filter(v.isNotNull())
    g = base.groupBy(*keys) if keys else base.groupBy()
    red = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("mean"),
        F.stddev_samp(v).alias("sd"),
    )
    n = F.col("n").cast("double")
    n1 = n * F.lit(float(treat_share))
    n2 = n * F.lit(1.0 - float(treat_share))
    mde = F.lit(zsum) * F.col("sd") * F.sqrt(1.0 / n1 + 1.0 / n2)
    out = red.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round("mean", round_to).alias("mean"),
        F.round("sd", round_to).alias("sd"),
        F.round(mde, round_to).alias("mde_abs"),
        F.round(
            F.when(F.abs(F.col("mean")) > 0, mde / F.abs(F.col("mean"))),
            round_to,
        ).alias("mde_rel"),
    )
    return LazyFrame(out)


def jackknife_ratio_ci(
    frame: "LazyFrame | SparkDF",
    num_col: str,
    den_col: str,
    cluster_col: str,
    z: float = 1.96,
    round_to: int = 6,
) -> LazyFrame:
    """Delete-one-CLUSTER jackknife CI for a ratio-of-sums metric — the
    resampling companion to ratio_ttest's delta method, and the standard
    correction when events cluster within users/sessions (iid-row SEs
    are anticonservative): R = ΣN/ΣD; for each cluster g,
    R₍g₎ = (ΣN − n_g)/(ΣD − d_g); Var = (G−1)/G · Σ(R₍g₎ − R̄)².

    Scale shape: ONE map-side-combining aggregate to per-cluster sums
    (bounded by cluster cardinality), grand totals collected driver-side
    (1 row — same eager pattern as median_ci), leave-one-out deviations
    as Column math, ONE final reduce.  No join, no window.  Output
    (1 row): ratio, n_clusters, jk_se, ci_lo, ci_hi, z."""
    sdf = _sdf(frame)
    nv = F.col(num_col).cast("double")
    dv = F.col(den_col).cast("double")
    per = (
        sdf.filter(
            nv.isNotNull() & dv.isNotNull() & F.col(cluster_col).isNotNull()
        )
        .groupBy(cluster_col)
        .agg(F.sum(nv).alias("__n__"), F.sum(dv).alias("__d__"))
    )
    with scoped_caches():
        per = register_cache(per)
        tot = per.agg(
            F.sum("__n__").alias("tn"),
            F.sum("__d__").alias("td"),
            F.count(F.lit(1)).alias("g"),
        ).collect()[0]
        tn, td, g = float(tot["tn"]), float(tot["td"]), int(tot["g"])
        if g < 2:
            raise ValueError("jackknife_ratio_ci needs >= 2 clusters")
        if td == 0:
            raise ValueError("jackknife_ratio_ci: denominator sums to 0")
        loo = (F.lit(tn) - F.col("__n__")) / (F.lit(td) - F.col("__d__"))
        red = per.agg(
            F.sum(loo).alias("sr"),
            F.sum(loo ** 2).alias("sr2"),
            F.count(F.when(F.col("__d__") == td, 1)).alias("degenerate"),
        ).collect()[0]
    if int(red["degenerate"]) > 0:
        raise ValueError(
            "jackknife_ratio_ci: a single cluster holds the entire "
            "denominator mass — leave-one-out ratio undefined"
        )
    sr, sr2 = float(red["sr"]), float(red["sr2"])
    ratio = tn / td
    var = (g - 1.0) / g * (sr2 - sr * sr / g)
    se = var ** 0.5 if var > 0 else 0.0
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(ratio, round_to), g, round(se, round_to),
            round(ratio - z * se, round_to), round(ratio + z * se, round_to),
            float(z),
        )],
        "ratio double, n_clusters bigint, jk_se double, ci_lo double, "
        "ci_hi double, z double",
    )
    return LazyFrame(out)


__all__.extend(
    ["mann_kendall", "ipw_ate", "power_mde_report", "jackknife_ratio_ci"]
)


def huber_fit(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    delta: float = 1.0,
    iterations: int = 5,
    round_to: int = 6,
) -> LazyFrame:
    """Robust linear fit y ~ a + b·x under the Huber loss via ``iterations``
    rounds of IRLS — between OLS (fit_linear_by_key: zero breakdown, every
    outlier pulls) and Theil–Sen (theil_sen_by_key: O(n²) pairs): residuals
    beyond ``delta`` get weight delta/|r| (L1 treatment), inliers weight 1
    (L2).  ``delta`` is in the RESPONSE's absolute units (fixed, not
    rescaled per round — the closed-form choice that keeps every round one
    weighted-moment aggregate an external engine can replay; pre-scale y
    for studentized behavior).

    Scale shape: per round ONE fused weighted-moment all-reduce (Σw, Σwx,
    Σwy, Σwx², Σwxy) with the previous round's (a, b) as plan literals —
    driver holds 2 scalars, nothing else leaves the executors.  Fixed
    round count = deterministic and oracle-replayable (the pagerank/LPA
    unroll convention).  Output (1 row): slope, intercept, n, iterations,
    delta."""
    if delta <= 0:
        raise ValueError("delta must be > 0")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    yv = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & yv.isNotNull()).select(
        x.alias("__x__"), yv.alias("__y__")
    )
    with scoped_caches():
        base = register_cache(base)
        a = b = None
        n = None
        for _ in range(int(iterations)):
            if a is None:
                w = F.lit(1.0)
            else:
                r = F.abs(F.col("__y__") - F.lit(a) - F.lit(b) * F.col("__x__"))
                w = F.when(r <= F.lit(float(delta)), F.lit(1.0)).otherwise(
                    F.lit(float(delta)) / r
                )
            m = base.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(w).alias("sw"),
                F.sum(w * F.col("__x__")).alias("swx"),
                F.sum(w * F.col("__y__")).alias("swy"),
                F.sum(w * F.col("__x__") ** 2).alias("swxx"),
                F.sum(w * F.col("__x__") * F.col("__y__")).alias("swxy"),
            ).collect()[0]
            n = int(m["n"])
            if n < 2:
                raise ValueError("huber_fit needs at least 2 points")
            det = m["sw"] * m["swxx"] - m["swx"] ** 2
            if det == 0:
                raise ValueError("huber_fit: zero x-variance")
            b = (m["sw"] * m["swxy"] - m["swx"] * m["swy"]) / det
            a = (m["swy"] - b * m["swx"]) / m["sw"]
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(b, round_to), round(a, round_to), n, int(iterations),
          float(delta))],
        "slope double, intercept double, n bigint, iterations int, "
        "delta double",
    )
    return LazyFrame(out)


def poisson_rate_test(
    frame: "LazyFrame | SparkDF",
    count_col: str,
    exposure_col: str,
    group_col: str,
    group_a,
    group_b,
    z: float = 1.96,
    round_to: int = 6,
) -> LazyFrame:
    """Two-sample Poisson RATE test for incident/defect/event counts with
    unequal exposure (machine-hours, sessions, page-views) — the count
    counterpart of prop_ztest: rate = ΣC/ΣE per arm, Wald
    z = (r_a − r_b)/√(C_a/E_a² + C_b/E_b²), and the rate-ratio CI from
    the log scale: exp(ln(r_a/r_b) ± z·√(1/C_a + 1/C_b)).

    ONE fused conditional all-reduce; rows with null count/exposure/group
    drop; zero counts null the ratio CI (log undefined), zero exposure
    raises.  Output (1 row): n_a, n_b, rate_a, rate_b, diff, z_stat,
    ratio, ratio_lo, ratio_hi."""
    sdf = _sdf(frame)
    c = F.col(count_col).cast("double")
    ex = F.col(exposure_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(
        c.isNotNull() & ex.isNotNull() & g.isin([group_a, group_b])
    )
    isa = (g == F.lit(group_a))
    red = base.agg(
        F.sum(F.when(isa, c).otherwise(F.lit(0.0))).alias("ca"),
        F.sum(F.when(isa, ex).otherwise(F.lit(0.0))).alias("ea"),
        F.sum(F.when(~isa, c).otherwise(F.lit(0.0))).alias("cb"),
        F.sum(F.when(~isa, ex).otherwise(F.lit(0.0))).alias("eb"),
        F.count(F.when(isa, 1)).alias("na"),
        F.count(F.when(~isa, 1)).alias("nb"),
    ).collect()[0]
    ca, ea, cb, eb = (float(red[k] or 0) for k in ("ca", "ea", "cb", "eb"))
    if ea <= 0 or eb <= 0:
        raise ValueError("poisson_rate_test: both groups need exposure > 0")
    ra, rb = ca / ea, cb / eb
    import math

    var = ca / ea ** 2 + cb / eb ** 2
    zs = (ra - rb) / math.sqrt(var) if var > 0 else 0.0
    if ca > 0 and cb > 0:
        lr = math.log(ra / rb)
        se = math.sqrt(1.0 / ca + 1.0 / cb)
        ratio = round(ra / rb, round_to)
        lo = round(math.exp(lr - z * se), round_to)
        hi = round(math.exp(lr + z * se), round_to)
    else:
        ratio = round(ra / rb, round_to) if rb > 0 else None
        lo = hi = None
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            int(red["na"]), int(red["nb"]),
            round(ra, round_to), round(rb, round_to),
            round(ra - rb, round_to), round(zs, round_to),
            ratio, lo, hi,
        )],
        "n_a bigint, n_b bigint, rate_a double, rate_b double, diff double, "
        "z_stat double, ratio double, ratio_lo double, ratio_hi double",
    )
    return LazyFrame(out)


__all__.extend(["huber_fit", "poisson_rate_test"])


def fe_regression(
    frame: "LazyFrame | SparkDF",
    y_col: str,
    x_col: str,
    unit_col: str,
    time_col: "str | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Panel fixed-effects (within) estimator of y ~ β·x — the workhorse
    "control for everything constant per user AND per period" regression
    that generalizes did_report beyond 2×2: demean y and x by unit means
    (one-way) or by unit AND time means with the grand mean added back
    (two-way within transformation), then β = Σx̃ỹ / Σx̃², with the
    homoskedastic SE on the within residual using the fixed-effects
    degrees of freedom n − N_unit − (N_time − 1) − 1.

    TWO-WAY CONTRACT: the single double-demeaning sweep is the EXACT
    two-way within estimator only on a BALANCED panel (every (unit,
    time) cell the same size); on unbalanced panels it is the first
    sweep of the alternating-projections iteration and can differ from
    full two-way FE — the operator detects imbalance and warns (the
    one-way path is exact regardless).  Iterate externally on the
    residuals if the exact unbalanced estimate is needed.

    Scale shape: unit/time means are map-side-combining aggregates joined
    back on their own keys (plain equi-joins, AQE broadcasts the tiny
    side; the grand mean is folded as plan literals from the SAME
    aggregate action), then ONE fused moment all-reduce.  No window, no
    iteration.  Output (1 row): beta, se, t_stat, n, n_units[, n_times].
    """
    sdf = _sdf(frame)
    yv = F.col(y_col).cast("double")
    xv = F.col(x_col).cast("double")
    cols = [F.col(unit_col).alias("__u__"), yv.alias("__y__"), xv.alias("__x__")]
    if time_col is not None:
        cols.append(F.col(time_col).alias("__t__"))
    base = sdf.filter(
        yv.isNotNull() & xv.isNotNull() & F.col(unit_col).isNotNull()
        & (F.lit(True) if time_col is None else F.col(time_col).isNotNull())
    ).select(*cols)
    with scoped_caches():
        base = register_cache(base)
        g = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__y__").alias("gy"),
            F.avg("__x__").alias("gx"),
            F.count_distinct("__u__").alias("nu"),
            *( [F.count_distinct("__t__").alias("nt")] if time_col else [] ),
        ).collect()[0]
        n, nu = int(g["n"]), int(g["nu"])
        if n < 3:
            raise ValueError("fe_regression needs at least 3 rows")
        um = base.groupBy("__u__").agg(
            F.avg("__y__").alias("__uy__"), F.avg("__x__").alias("__ux__")
        )
        staged = base.join(um, "__u__")
        if time_col is not None:
            cell = base.groupBy("__u__", "__t__").count().agg(
                F.min("count").alias("lo"),
                F.max("count").alias("hi"),
                F.count(F.lit(1)).alias("ncells"),
            ).collect()[0]
            if (
                int(cell["lo"]) != int(cell["hi"])
                or int(cell["ncells"]) != nu * int(g["nt"])
            ):
                import warnings

                warnings.warn(
                    "fe_regression: unbalanced panel — the single "
                    "double-demeaning sweep approximates two-way FE "
                    "(exact only on balanced panels); see docstring",
                    stacklevel=2,
                )
        if time_col is not None:
            tm = base.groupBy("__t__").agg(
                F.avg("__y__").alias("__ty__"), F.avg("__x__").alias("__tx__")
            )
            staged = staged.join(tm, "__t__")
            ydm = (
                F.col("__y__") - F.col("__uy__") - F.col("__ty__")
                + F.lit(float(g["gy"]))
            )
            xdm = (
                F.col("__x__") - F.col("__ux__") - F.col("__tx__")
                + F.lit(float(g["gx"]))
            )
            dof = n - nu - (int(g["nt"]) - 1) - 1
        else:
            ydm = F.col("__y__") - F.col("__uy__")
            xdm = F.col("__x__") - F.col("__ux__")
            dof = n - nu - 1
        m = staged.agg(
            F.sum(xdm * ydm).alias("sxy"),
            F.sum(xdm ** 2).alias("sxx"),
            F.sum(ydm ** 2).alias("syy"),
        ).collect()[0]
    sxx = float(m["sxx"] or 0)
    if sxx <= 0:
        raise ValueError("fe_regression: no within-variation in x")
    beta = float(m["sxy"]) / sxx
    sse = float(m["syy"]) - beta * float(m["sxy"])
    se = (
        (max(sse, 0.0) / dof / sxx) ** 0.5 if dof > 0 else None
    )
    spark = sdf.sparkSession
    fields = [
        round(beta, round_to),
        None if se is None else round(se, round_to),
        None if not se else round(beta / se, round_to),
        n, nu,
    ]
    schema = "beta double, se double, t_stat double, n bigint, n_units bigint"
    if time_col is not None:
        fields.append(int(g["nt"]))
        schema += ", n_times bigint"
    out = spark.createDataFrame([tuple(fields)], schema)
    return LazyFrame(out)


def best_changepoint(
    frame: "LazyFrame | SparkDF",
    order_col: str,
    value_col: str,
    min_segment: int = 2,
    round_to: int = 6,
) -> LazyFrame:
    """Single best mean-shift changepoint (one step of binary
    segmentation, the CUSUM companion that names WHERE the level
    changed): the split point s maximizing the SSE reduction
    SSE_total − SSE_left(s) − SSE_right(s), which by the sufficient-stat
    identity needs only prefix (count, Σv, Σv²) at every candidate s —
    so the whole scan is ONE distsort prefix pass + a per-bucket
    cumulative window + a 1-row argmax (min over (−gain, t) structs for
    a deterministic earliest-split tie-break).  ``min_segment`` keeps
    degenerate end-splits out.  Rows tied on ``order_col`` collapse to
    one candidate BEFORE the scan (a split can only fall between
    distinct order values — splitting inside a tie group is undefined),
    so the result is deterministic under any partitioning; the split
    reports the last order value of the left segment.

    Output (1 row): split_at, n_left, n_right, mean_left, mean_right,
    sse_drop.  Raises if fewer than 2·min_segment rows."""
    from .distsort import with_bucket_offsets

    if min_segment < 1:
        raise ValueError("min_segment must be >= 1")
    sdf = _sdf(frame)
    t = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    base = (
        sdf.filter(t.isNotNull() & v.isNotNull())
        .groupBy(t.alias("__t__"))
        .agg(
            F.count(F.lit(1)).alias("__c__"),
            F.sum(v).alias("__s__"),
            F.sum(v ** 2).alias("__q__"),
        )
    )
    offs, gb, tot = with_bucket_offsets(
        base, "__t__",
        {"c": F.col("__c__"), "s": F.col("__s__"), "q": F.col("__q__")},
    )
    n, sv, sq = float(tot["c"]), float(tot["s"]), float(tot["q"])
    if n < 2 * min_segment:
        raise ValueError(
            f"best_changepoint needs >= {2 * min_segment} rows, got {int(n)}"
        )
    w = Window.partitionBy(gb).orderBy("__t__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cc = F.col("__off_c__") + F.sum("__c__").over(w)
    cs = F.col("__off_s__") + F.sum("__s__").over(w)
    cq = F.col("__off_q__") + F.sum("__q__").over(w)
    # SSE_left = cq - cs^2/cc ; SSE_right = (sq-cq) - (sv-cs)^2/(n-cc)
    gain = (
        F.lit(sq - sv * sv / n)
        - (cq - cs ** 2 / cc)
        - ((F.lit(sq) - cq) - (F.lit(sv) - cs) ** 2 / (F.lit(n) - cc))
    )
    cand = offs.select(
        "__t__", cc.alias("cc"), cs.alias("cs"),
        F.round(gain, 9).alias("gain"),
    ).filter(
        (F.col("cc") >= F.lit(int(min_segment)))
        & (F.col("cc") <= F.lit(n - min_segment))
    )
    best = cand.agg(
        F.min(
            F.struct(
                (-F.col("gain")).alias("ng"),
                F.col("__t__").alias("t"),
                F.col("cc").alias("cc"),
                F.col("cs").alias("cs"),
            )
        ).alias("b")
    ).select("b.*")
    out = best.select(
        F.round(F.col("t"), round_to).alias("split_at"),
        F.col("cc").cast("long").alias("n_left"),
        (F.lit(n) - F.col("cc")).cast("long").alias("n_right"),
        F.round(F.col("cs") / F.col("cc"), round_to).alias("mean_left"),
        F.round(
            (F.lit(sv) - F.col("cs")) / (F.lit(n) - F.col("cc")), round_to
        ).alias("mean_right"),
        F.round(-F.col("ng"), round_to).alias("sse_drop"),
    )
    return LazyFrame(out)


__all__.extend(["fe_regression", "best_changepoint"])


def jarque_bera(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Jarque–Bera normality test — the "is this residual/metric column even
    approximately Gaussian" screen that decides whether the t-based gates
    (welch_ttest, cuped_report) are trustworthy or the rank-based ones
    (mann_whitney_u) are needed: skewness g1 = m3/m2^1.5 and excess
    kurtosis g2 = m4/m2² − 3 from central moments, JB = n/6·(g1² + g2²/4),
    and the EXACT chi²(2 dof) survival p = exp(−JB/2) (closed form — no
    special functions).

    Scale shape: ONE fused all-reduce of the raw power sums (Σx..Σx⁴) with
    central moments recovered on the driver — no second pass, no window.
    Keep |x| modest (the sums raise x to the 4th power; pre-center or
    rescale 1e6-scale columns).  Output (1 row): n, skewness, kurtosis,
    jb_stat, p_value."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    r = (
        sdf.filter(v.isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v ** 2).alias("s2"),
            F.sum(v ** 3).alias("s3"),
            F.sum(v ** 4).alias("s4"),
        )
        .collect()[0]
    )
    n = int(r["n"] or 0)
    if n < 4:
        raise ValueError("jarque_bera needs at least 4 rows")
    import math

    s1, s2, s3, s4 = (float(r[k]) for k in ("s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * s2 / n + 2 * mu ** 3
    m4 = s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu ** 4
    if m2 <= 0:
        raise ValueError("jarque_bera: zero variance")
    g1 = m3 / m2 ** 1.5
    g2 = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    p = math.exp(-jb / 2.0)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(n, round(g1, round_to), round(g2, round_to), round(jb, round_to),
          round(p, round_to))],
        "n bigint, skewness double, kurtosis double, jb_stat double, "
        "p_value double",
    )
    return LazyFrame(out)


def levene_test(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Brown–Forsythe variance-homogeneity test (the robust Levene variant):
    are the group SPREADS equal?  The gate anova_oneway and welch-vs-pooled
    decisions hinge on: z = |x − median_g| per row, then the one-way ANOVA
    F on z with (k−1, N−k) dof.  Uses the group MEDIAN center (Brown &
    Forsythe 1974) — robust to the heavy tails that break the mean-centered
    original.

    Scale shape: exact group medians in one map-side-combining aggregate
    (Catalyst's exact percentile), joined back on the group key (tiny side,
    AQE broadcasts), then ONE fused aggregate of per-group (n, Σz, Σz²)
    with the F-stat assembled on the driver from the ≤k-row table.  Output
    (1 row): f_stat, df1, df2, n, n_groups."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(v.isNotNull() & g.isNotNull()).select(
        g.alias("__g__"), v.alias("__v__")
    )
    med = base.groupBy("__g__").agg(
        F.expr("percentile(__v__, 0.5)").alias("__med__")
    )
    z = F.abs(F.col("__v__") - F.col("__med__"))
    rows = (
        base.join(med, "__g__")
        .groupBy("__g__")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(z).alias("sz"),
            F.sum(z ** 2).alias("szz"),
        )
        .collect()
    )
    k = len(rows)
    if k < 2:
        raise ValueError("levene_test needs at least 2 groups")
    n_tot = sum(int(r["n"]) for r in rows)
    if n_tot <= k:
        raise ValueError("levene_test: no residual degrees of freedom")
    sz_tot = sum(float(r["sz"]) for r in rows)
    grand = sz_tot / n_tot
    ss_between = sum(
        int(r["n"]) * (float(r["sz"]) / int(r["n"]) - grand) ** 2 for r in rows
    )
    ss_within = sum(
        float(r["szz"]) - float(r["sz"]) ** 2 / int(r["n"]) for r in rows
    )
    df1, df2 = k - 1, n_tot - k
    if ss_within <= 0:
        raise ValueError("levene_test: zero within-group variation")
    f_stat = (ss_between / df1) / (ss_within / df2)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(f_stat, round_to), df1, df2, n_tot, k)],
        "f_stat double, df1 bigint, df2 bigint, n bigint, n_groups bigint",
    )
    return LazyFrame(out)


def energy_distance(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Exact two-sample 1-D energy distance (Székely & Rizzo) — the
    distribution-drift metric that sees BOTH location and shape changes
    (where ks_test sees only the max CDF gap and wasserstein_1d only mass
    transport): D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′| (V-statistic form), all
    three expectations EXACT from one sorted pass, because for sorted data
    Σ_{pairs}|a−b| needs only prefix counts and prefix sums.

    Scale shape: rows collapse to DISTINCT values with per-group counts
    map-side (ties contribute zero distance, so cell granularity is
    lossless), the prefix (count, sum) per group rides distsort range
    buckets + driver offsets, and the pair-sums fall out of ONE fused
    reduce — no self-join, no window over the raw data.  Output (1 row):
    energy_dist, e_cross, e_within_a, e_within_b, n_a, n_b."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(v.isNotNull() & g.isin([group_a, group_b]))
    isa = (g == F.lit(group_a)).cast("long")
    isb = (g == F.lit(group_b)).cast("long")

    cells = register_cache(
        base.groupBy(v.alias("__v__")).agg(
            F.sum(isa).alias("__ca__"), F.sum(isb).alias("__cb__")
        )
    )
    offs, gb, tot = with_bucket_offsets(
        cells, "__v__",
        {
            "ca": F.col("__ca__"),
            "cb": F.col("__cb__"),
            "sa": F.col("__ca__") * F.col("__v__"),
            "sb": F.col("__cb__") * F.col("__v__"),
        },
    )
    na, nb = float(tot["ca"]), float(tot["cb"])
    if na < 1 or nb < 1:
        raise ValueError("energy_distance: both groups need at least 1 row")
    w = Window.partitionBy(gb).orderBy("__v__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # strictly-before-this-cell prefix state per group (global via offsets);
    # within-cell pairs are at distance zero, so they never contribute
    pca = F.col("__off_ca__") + F.coalesce(F.sum("__ca__").over(w), F.lit(0.0))
    pcb = F.col("__off_cb__") + F.coalesce(F.sum("__cb__").over(w), F.lit(0.0))
    psa = F.col("__off_sa__") + F.coalesce(
        F.sum(F.col("__ca__") * F.col("__v__")).over(w), F.lit(0.0)
    )
    psb = F.col("__off_sb__") + F.coalesce(
        F.sum(F.col("__cb__") * F.col("__v__")).over(w), F.lit(0.0)
    )
    red = offs.select(
        (
            F.col("__cb__") * (pca * F.col("__v__") - psa)
            + F.col("__ca__") * (pcb * F.col("__v__") - psb)
        ).alias("__cross__"),
        (F.col("__ca__") * (pca * F.col("__v__") - psa)).alias("__wa__"),
        (F.col("__cb__") * (pcb * F.col("__v__") - psb)).alias("__wb__"),
    ).agg(
        F.sum("__cross__").alias("cross"),
        F.sum("__wa__").alias("wa"),
        F.sum("__wb__").alias("wb"),
    ).collect()[0]
    e_cross = float(red["cross"]) / (na * nb)
    e_wa = 2.0 * float(red["wa"]) / (na * na)
    e_wb = 2.0 * float(red["wb"]) / (nb * nb)
    d2 = 2.0 * e_cross - e_wa - e_wb
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(max(d2, 0.0) ** 0.5, round_to), round(e_cross, round_to),
            round(e_wa, round_to), round(e_wb, round_to), int(na), int(nb),
        )],
        "energy_dist double, e_cross double, e_within_a double, "
        "e_within_b double, n_a bigint, n_b bigint",
    )
    return LazyFrame(out)


__all__.extend(["jarque_bera", "levene_test", "energy_distance"])


def pettitt_test(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    value_col: str,
    round_to: int = 6,
    driver_threshold: "int | None" = None,
) -> LazyFrame:
    """Pettitt changepoint test — the RANK-based (outlier-proof) "did the
    level shift, and when" locator that complements best_changepoint's
    mean/SSE scan and cusum_flags' drift alarm: with average-tie ranks
    r_i of the series values, U_t = 2·Σ_{i≤t} r_i − t·(n+1); the split is
    argmax|U_t| (earliest on ties) and the classic approximation
    p ≈ 2·exp(−6K²/(n³+n²)) needs no special functions.

    Rows tied on ``time_col`` collapse to their mean value first (a rank
    sequence needs distinct positions), mirroring best_changepoint's
    determinism contract.  Scale shape: the time-collapsed series is
    cached and counted once under the one bound rule of
    operators/distsort.py.  At most ``driver_threshold`` distinct times
    (default ``_bounded.BOUND`` = 65,536) are collected and scanned on
    the driver.  Above it, value ranks come from ONE distsort pass over
    distinct-value cells (average rank = strictly-below count +
    (ties+1)/2) joined back on the value, then the U scan rides a second
    distsort pass keyed on time — no data-sized window, no self-join.
    Output (1 row): split_at, u_stat, k_stat, n, p_value."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    t = F.col(time_col).cast("double")
    v = F.col(value_col).cast("double")
    # both paths build their one-row result on the driver, so the scope
    # releases every cache before either returns
    with scoped_caches():
        series, n_series, small = bounded(
            sdf.filter(t.isNotNull() & v.isNotNull())
            .groupBy(t.alias("__t__"))
            .agg(F.avg(v).alias("__v__")),
            "pettitt_test",
            driver_threshold,
        )
        # DRIVER PATH: the U scan runs over DISTINCT TIMES, so after the one
        # data-sized time-collapse the series is a bounded artifact for any
        # realistic calendar granularity.  Collect it once and run the rank
        # + U arithmetic in Python: every quantity is exactly representable
        # (midranks are half-integers, cr is a half-integer sum < 2^52, u =
        # 2·cr − idx·(n+1) is exact, the argmax tie-break replicates the
        # struct-min ordering), so the result is bit-identical to the
        # distributed path, in 2 cache-backed jobs instead of the
        # cells/offsets/rank-join/struct-min chain.  Above the
        # bound the distributed path stands — the 100 TB contract.
        if small:
            if n_series < 3:
                raise ValueError("pettitt_test needs at least 3 distinct times")
            from collections import Counter

            def _order(x: float) -> tuple:
                # Spark's double ordering: every NaN equal, after +inf
                return (1, 0.0) if math.isnan(x) else (0, x)

            pts = sorted(
                ((float(r["__t__"]), float(r["__v__"])) for r in series.collect()),
                key=lambda p: _order(p[0]),
            )
            n = n_series
            # midranks of the values: strictly-below count + (ties+1)/2
            cnt = Counter(_order(v2) for _, v2 in pts)
            below = {}
            run = 0
            for k in sorted(cnt):
                below[k] = run
                run += cnt[k]
            best_key = best_t = None
            cr = 0.0
            for idx, (t2, v2) in enumerate(pts, start=1):
                cr += below[_order(v2)] + (cnt[_order(v2)] + 1.0) / 2.0
                if idx > n - 1:
                    break
                u = 2.0 * cr - idx * float(n + 1)
                key = (-abs(u), _order(t2), u)
                if best_key is None or key < best_key:
                    best_key, best_t = key, t2

            k_stat = abs(best_key[2])
            p = min(1.0, 2.0 * math.exp(-6.0 * k_stat * k_stat / (n ** 3 + n ** 2)))
            spark = sdf.sparkSession
            out = spark.createDataFrame(
                [(
                    round(best_t, round_to), round(best_key[2], round_to),
                    round(k_stat, round_to), n, round(p, round_to),
                )],
                "split_at double, u_stat double, k_stat double, n bigint, "
                "p_value double",
            )
            return LazyFrame(out)

        cells = register_cache(
            series.groupBy("__v__").agg(F.count(F.lit(1)).alias("__c__"))
        )
        voffs, vgb, vtot = with_bucket_offsets(cells, "__v__", {"c": F.col("__c__")})
        n = int(vtot["c"])
        if n < 3:
            raise ValueError("pettitt_test needs at least 3 distinct times")
        wv = Window.partitionBy(vgb).orderBy("__v__").rowsBetween(
            Window.unboundedPreceding, -1
        )
        below = F.col("__off_c__") + F.coalesce(F.sum("__c__").over(wv), F.lit(0.0))
        ranks = voffs.select(
            "__v__",
            (below + (F.col("__c__") + F.lit(1.0)) / F.lit(2.0)).alias("__r__"),
        )
        # persisted: the time-keyed sketch, offsets and final U scan all
        # read the rank join
        ranked = register_cache(series.join(ranks, "__v__"))
        toffs, tgb, _ = with_bucket_offsets(
            ranked, "__t__", {"cnt": F.lit(1), "r": F.col("__r__")}
        )
        wt = Window.partitionBy(tgb).orderBy("__t__").rowsBetween(
            Window.unboundedPreceding, 0
        )
        idx = F.col("__off_cnt__") + F.count(F.lit(1)).over(wt)
        cr = F.col("__off_r__") + F.sum("__r__").over(wt)
        u = F.lit(2.0) * cr - idx * F.lit(float(n + 1))
        cand = toffs.select(
            "__t__", u.alias("u"), idx.alias("i")
        ).filter(F.col("i") <= F.lit(float(n - 1)))
        best = cand.agg(
            F.min(
                F.struct(
                    (-F.abs(F.col("u"))).alias("nk"),
                    F.col("__t__").alias("t"),
                    F.col("u").alias("u"),
                )
            ).alias("b")
        ).collect()[0]["b"]
        k_stat = abs(float(best["u"]))
        p = min(1.0, 2.0 * math.exp(-6.0 * k_stat * k_stat / (n ** 3 + n ** 2)))
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(float(best["t"]), round_to), round(float(best["u"]), round_to),
            round(k_stat, round_to), n, round(p, round_to),
        )],
        "split_at double, u_stat double, k_stat double, n bigint, "
        "p_value double",
    )
    return LazyFrame(out)


def best_split(
    frame: "LazyFrame | SparkDF",
    feature_col: str,
    label_col: str,
    min_leaf: int = 1,
    round_to: int = 6,
) -> LazyFrame:
    """Best binary decision-stump threshold on a NUMERIC feature against a
    0/1 label — the feature-screening "how predictive is this column,
    and where does it split" primitive behind tree induction and the
    numeric companion to info_gain_report's categorical scan: the
    threshold s maximizing the Gini impurity decrease
    g(parent) − (n_L/n)·g(left ≤ s) − (n_R/n)·g(right > s), which needs
    only prefix (count, positives) at each candidate — so the whole scan
    is ONE distsort prefix pass over distinct-value cells + a 1-row
    struct argmin (earliest threshold on ties), exactly the
    best_changepoint shape with label counts for sufficient stats.

    Output (1 row): threshold (split is feature ≤ threshold), gini_drop,
    parent_gini, n_left, n_right, pos_rate_left, pos_rate_right.
    ``min_leaf`` keeps degenerate end-splits out; raises if the label is
    constant or no candidate satisfies min_leaf."""
    from .distsort import with_bucket_offsets

    if min_leaf < 1:
        raise ValueError("min_leaf must be >= 1")
    sdf = _sdf(frame)
    x = F.col(feature_col).cast("double")
    y = F.col(label_col).cast("double")
    base = sdf.filter(x.isNotNull() & y.isNotNull())

    cells = register_cache(
        base.groupBy(x.alias("__x__")).agg(
            F.count(F.lit(1)).alias("__c__"), F.sum(y).alias("__p__")
        )
    )
    offs, gb, tot = with_bucket_offsets(
        cells, "__x__", {"c": F.col("__c__"), "p": F.col("__p__")}
    )
    n, np_ = float(tot["c"]), float(tot["p"])
    if n < 2 * min_leaf:
        raise ValueError(f"best_split needs >= {2 * min_leaf} rows")
    if np_ <= 0 or np_ >= n:
        raise ValueError("best_split: label is constant")
    w = Window.partitionBy(gb).orderBy("__x__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cc = F.col("__off_c__") + F.sum("__c__").over(w)
    cp = F.col("__off_p__") + F.sum("__p__").over(w)
    g_parent = 1.0 - (np_ / n) ** 2 - ((n - np_) / n) ** 2
    gl = F.lit(1.0) - (cp / cc) ** 2 - ((cc - cp) / cc) ** 2
    rc, rp = F.lit(n) - cc, F.lit(np_) - cp
    gr = F.lit(1.0) - (rp / rc) ** 2 - ((rc - rp) / rc) ** 2
    drop = F.lit(g_parent) - (cc / F.lit(n)) * gl - (rc / F.lit(n)) * gr
    cand = offs.select(
        "__x__", cc.alias("cc"), cp.alias("cp"),
        F.round(drop, 9).alias("drop"),
    ).filter(
        (F.col("cc") >= F.lit(float(min_leaf)))
        & (F.col("cc") <= F.lit(n - min_leaf))
    )
    brow = cand.agg(
        F.min(
            F.struct(
                (-F.col("drop")).alias("nd"),
                F.col("__x__").alias("x"),
                F.col("cc").alias("cc"),
                F.col("cp").alias("cp"),
            )
        ).alias("b")
    ).collect()[0]["b"]
    if brow is None:
        raise ValueError("best_split: no candidate satisfies min_leaf")
    cc_, cp_ = float(brow["cc"]), float(brow["cp"])
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(float(brow["x"]), round_to), round(-float(brow["nd"]), round_to),
            round(g_parent, round_to), int(cc_), int(n - cc_),
            round(cp_ / cc_, round_to), round((np_ - cp_) / (n - cc_), round_to),
        )],
        "threshold double, gini_drop double, parent_gini double, "
        "n_left bigint, n_right bigint, pos_rate_left double, "
        "pos_rate_right double",
    )
    return LazyFrame(out)


__all__.extend(["pettitt_test", "best_split"])


def cox_ph(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    x_col: str,
    rounds: int = 4,
    round_to: int = 6,
) -> LazyFrame:
    """Cox proportional-hazards fit (single covariate, Breslow ties) — the
    regression companion to the Kaplan–Meier / Nelson–Aalen / log-rank
    family: "how much does x multiply the hazard", estimated by
    ``rounds`` Newton steps on the partial likelihood from β = 0 (fixed
    round count = deterministic and externally replayable, the
    huber/pagerank unroll convention; Newton converges quadratically, 4
    rounds ≈ machine precision for well-conditioned data).

    Per round, with β a plan literal: risk-set sums S_k(t) =
    Σ_{t_j ≥ t} x_j^k·e^{x_j β} are SUFFIX sums over per-time aggregates
    A_k(t), so the score U = Σ_t [Σ_{events@t} x − d_t·S1/S0] and
    information I = Σ_t d_t·(S2/S0 − (S1/S0)²) come from ONE groupBy over
    the persisted (time, x)-cell table, a distsort prefix pass (suffix =
    total − inclusive-prefix + own), and ONE 1-row reduce; β ← β + U/I on
    the driver (2 scalars cross the wire per round).  A final pass at the
    converged β yields the reported information for SE = 1/√I and
    z = β/SE.

    Rows with null time/event/x drop; ``event_col`` is truthy (0 =
    censored, nonzero = event).  Raises without events or x variation.
    Output (1 row): beta, hazard_ratio, se, z, n, n_events, rounds."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from .distsort import with_prefix_offsets, with_range_buckets

    sdf = _sdf(frame)
    t = F.col(time_col).cast("double")
    e = (F.col(event_col).cast("double") != 0).cast("long")
    x = F.col(x_col).cast("double")
    base = sdf.filter(
        t.isNotNull() & F.col(event_col).isNotNull() & x.isNotNull()
    )
    cells = base.groupBy(t.alias("__t__"), x.alias("__x__")).agg(
        F.count(F.lit(1)).alias("__c__"), F.sum(e).alias("__d__")
    )
    with scoped_caches():
        cells = register_cache(cells)
        meta = cells.agg(
            F.sum("__c__").alias("n"),
            F.sum("__d__").alias("nd"),
            F.count_distinct("__x__").alias("nx"),
        ).collect()[0]
        n, nd = int(meta["n"] or 0), int(meta["nd"] or 0)
        if nd < 1:
            raise ValueError("cox_ph: no events")
        if int(meta["nx"]) < 2:
            raise ValueError("cox_ph: covariate has no variation")
        bucketed, gb = with_range_buckets(cells, "__t__")
        bucketed = register_cache(bucketed)
        bucketed.count()  # materialize once; every round reuses it
        w = Window.partitionBy(gb).orderBy("__t__").rowsBetween(
            Window.unboundedPreceding, 0
        )

        def score_info(beta: float):
            eb = F.exp(F.col("__x__") * F.lit(beta)) * F.col("__c__")
            # per-round cache: the offsets aggregate AND the final U/I
            # reduce both read the per-time table — uncached, each round
            # ran the exp-weighted combine over the cell table twice
            with scoped_caches():
                per_t = register_cache(bucketed.groupBy("__t__", gb).agg(
                    F.sum(eb).alias("__a0__"),
                    F.sum(F.col("__x__") * eb).alias("__a1__"),
                    F.sum(F.col("__x__") ** 2 * eb).alias("__a2__"),
                    F.sum("__d__").alias("__dd__"),
                    F.sum(F.col("__d__") * F.col("__x__")).alias("__sx__"),
                ))
                offs, tot = with_prefix_offsets(
                    per_t, gb,
                    {
                        "a0": F.col("__a0__"),
                        "a1": F.col("__a1__"),
                        "a2": F.col("__a2__"),
                    },
                )
                # suffix over times >= t: grand total - inclusive prefix + own
                s0 = F.lit(tot["a0"]) - (F.col("__off_a0__") + F.sum("__a0__").over(w)) + F.col("__a0__")
                s1 = F.lit(tot["a1"]) - (F.col("__off_a1__") + F.sum("__a1__").over(w)) + F.col("__a1__")
                s2 = F.lit(tot["a2"]) - (F.col("__off_a2__") + F.sum("__a2__").over(w)) + F.col("__a2__")
                r = offs.select(
                    (F.col("__sx__") - F.col("__dd__") * s1 / s0).alias("__u__"),
                    (F.col("__dd__") * (s2 / s0 - (s1 / s0) ** 2)).alias("__i__"),
                ).agg(F.sum("__u__").alias("u"), F.sum("__i__").alias("i")).collect()[0]
            return float(r["u"]), float(r["i"])

        beta = 0.0
        for _ in range(int(rounds)):
            u, info = score_info(beta)
            if info <= 0:
                raise ValueError("cox_ph: singular information matrix")
            beta += u / info
        _, info = score_info(beta)
        if info <= 0:
            raise ValueError("cox_ph: singular information matrix")
    se = 1.0 / math.sqrt(info)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(beta, round_to), round(math.exp(beta), round_to),
            round(se, round_to), round(beta / se, round_to),
            n, nd, int(rounds),
        )],
        "beta double, hazard_ratio double, se double, z double, n bigint, "
        "n_events bigint, rounds int",
    )
    return LazyFrame(out)


__all__.append("cox_ph")


def cramer_von_mises(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Two-sample Cramér–von Mises criterion (Anderson 1962) — the
    WHOLE-CDF distribution-equality test that weights every quantile
    (where ks_test scores only the single worst gap):

        T = U/(n·m·N) − (4nm − 1)/(6N),
        U = n·Σ_i (r_i − i)² + m·Σ_j (s_j − j)²

    with r_i/s_j the pooled MID-ranks of each sample in value order and
    i/j the within-sample positions.  Tied blocks are order-invariant
    (the multiset of within-sample positions under a tie is fixed, and
    every member shares the mid-rank), so the statistic is deterministic
    under any partitioning.

    Scale shape: rows collapse to distinct-value cells with per-group
    counts map-side; prefix counts ride ONE distsort pass; each cell's
    Σ(r̄ − i)² closes over the consecutive-integer block via the
    sum-of-squares identity — no data-sized window, no rank join.  T's
    asymptotic null law has no closed form, so the statistic is reported
    without a p (compare to the 0.461/0.743 classic 5%/1% critical
    values).  Output (1 row): t_stat, u_stat, n_a, n_b."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(v.isNotNull() & g.isin([group_a, group_b]))
    isa = (g == F.lit(group_a)).cast("long")
    isb = (g == F.lit(group_b)).cast("long")

    cells = register_cache(
        base.groupBy(v.alias("__v__")).agg(
            F.sum(isa).alias("__ca__"), F.sum(isb).alias("__cb__")
        )
    )
    offs, gb, tot = with_bucket_offsets(
        cells, "__v__", {"ca": F.col("__ca__"), "cb": F.col("__cb__")}
    )
    n, m = float(tot["ca"]), float(tot["cb"])
    if n < 1 or m < 1:
        raise ValueError("cramer_von_mises: both groups need at least 1 row")
    N = n + m
    w = Window.partitionBy(gb).orderBy("__v__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ta = F.col("__off_ca__") + F.coalesce(F.sum("__ca__").over(w), F.lit(0.0))
    tb = F.col("__off_cb__") + F.coalesce(F.sum("__cb__").over(w), F.lit(0.0))
    tp = ta + tb  # pooled strictly-before count
    ct = F.col("__ca__") + F.col("__cb__")
    rbar = tp + (ct + F.lit(1.0)) / F.lit(2.0)

    def sq_to(x):
        # Σ_{i=1..x} i² = x(x+1)(2x+1)/6
        return x * (x + F.lit(1.0)) * (F.lit(2.0) * x + F.lit(1.0)) / F.lit(6.0)

    def block_sum(cnt, start):
        # Σ_{i=start+1..start+cnt} (rbar − i)²
        si = cnt * start + cnt * (cnt + F.lit(1.0)) / F.lit(2.0)
        sii = sq_to(start + cnt) - sq_to(start)
        return cnt * rbar * rbar - F.lit(2.0) * rbar * si + sii

    red = offs.select(
        block_sum(F.col("__ca__").cast("double"), ta).alias("__ua__"),
        block_sum(F.col("__cb__").cast("double"), tb).alias("__ub__"),
    ).agg(
        F.sum("__ua__").alias("ua"), F.sum("__ub__").alias("ub")
    ).collect()[0]
    u = n * float(red["ua"]) + m * float(red["ub"])
    t = u / (n * m * N) - (4.0 * n * m - 1.0) / (6.0 * N)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(t, round_to), round(u, round_to), int(n), int(m))],
        "t_stat double, u_stat double, n_a bigint, n_b bigint",
    )
    return LazyFrame(out)


def permutation_test(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    id_col: str,
    group_a,
    group_b,
    n_perms: int = 64,
    seed: str = "perm",
    round_to: int = 6,
) -> LazyFrame:
    """Deterministic randomization test for a difference in means — the
    assumption-free companion to welch_ttest (no normality, no variance
    model): under H₀ labels are exchangeable, so re-assign every row by
    a hash coin (md5(seed|b|id) parity — the bootstrap_ci determinism
    convention: same data + seed → same p on any engine) ``n_perms``
    times and score p = (1 + #{b : |diff_b| ≥ |observed|})/(n_perms+1),
    the add-one Monte-Carlo estimator (Phipson & Smyth 2010).  This is
    the Bernoulli-reassignment randomization test (group sizes float
    binomially per replicate), not the fixed-margin permutation — at
    corpus n the two are indistinguishable.

    Scale shape: ALL replicates ride ONE fused all-reduce (2·n_perms
    conditional sums + the observed-group moments) — no row explosion,
    no shuffle, nothing but 4·n_perms+4 doubles to the driver.  A
    replicate that deals every row to one side yields a null diff and
    drops (documented; impossible in practice beyond toy n).  Output
    (1 row): obs_diff, p_value, n_perms, n_used, mean_a, mean_b, n_a,
    n_b."""
    if n_perms < 1:
        raise ValueError("n_perms must be >= 1")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(
        v.isNotNull() & F.col(id_col).isNotNull() & g.isin([group_a, group_b])
    ).select(F.col(id_col).cast("string").alias("__id__"), v.alias("__v__"),
             (g == F.lit(group_a)).alias("__a__"))
    # The fused all-reduce computes its 2·n_perms+6 sums in a mapInArrow
    # partials kernel (hashlib md5 coins, the same seed|b|id parity), then
    # a tiny sum aggregate pools the per-batch partials.  The r11 version
    # expressed the same reduce as one Catalyst agg with 2·n_perms+6
    # expressions — past spark.sql.codegen.maxFields (100) the whole
    # stage fell back to interpreted evaluation and the n_perms md5s per
    # row ran single-digit-MB/s (measured 22.8 s vs 0.4 s for a 2-sum
    # pass over the same rows at sf0.1).  Coin parity: last hex digit
    # even ⇔ low bit of digest byte 15 clear.
    from .._spread import spread_plain_scan

    base = spread_plain_scan(base)
    nperm = int(n_perms)
    seed_s = str(seed)

    def _partials(batches):
        from hashlib import md5 as _md5

        import numpy as np

        prefixes = [f"{seed_s}|{b}|".encode("utf-8") for b in range(nperm)]
        for batch in batches:
            ids = batch.column(0).to_pylist()
            vs = np.asarray(batch.column(1), dtype=np.float64)
            isa = np.asarray(batch.column(2), dtype=bool)
            coins = np.empty((len(ids), nperm), dtype=bool)
            for i, s in enumerate(ids):
                sid = s.encode("utf-8")
                row = coins[i]
                for b in range(nperm):
                    row[b] = not (_md5(prefixes[b] + sid).digest()[15] & 1)
            sa = float(vs[isa].sum())
            na = int(isa.sum())
            sb_v = float(vs[~isa].sum())
            nb_v = int(len(ids) - na)
            sarr = coins.T @ vs
            carr = coins.sum(axis=0)
            cols = {
                "sa": [sa], "na": [na], "sb": [sb_v], "nb": [nb_v],
                "st": [float(vs.sum())], "ct": [len(ids)],
            }
            for b in range(nperm):
                cols[f"s{b}"] = [float(sarr[b])]
                cols[f"c{b}"] = [int(carr[b])]
            yield cols

    schema = (
        "sa double, na bigint, sb double, nb bigint, st double, ct bigint, "
        + ", ".join(f"s{b} double" for b in range(nperm))
        + ", "
        + ", ".join(f"c{b} bigint" for b in range(nperm))
    )
    parts = map_batches(base, _partials, schema)
    aggs = [
        F.sum("sa").alias("sa"),
        F.sum("na").alias("na"),
        F.sum("sb").alias("sb"),
        F.sum("nb").alias("nb"),
        F.sum("st").alias("st"),
        F.sum("ct").alias("ct"),
    ]
    for b in range(nperm):
        aggs.append(F.sum(f"s{b}").alias(f"s{b}"))
        aggs.append(F.sum(f"c{b}").alias(f"c{b}"))
    r = parts.agg(*aggs).collect()[0]
    if r["na"] is None:  # no input rows at all
        raise ValueError("permutation_test: both groups need at least 1 row")
    na, nb = int(r["na"]), int(r["nb"])
    if na < 1 or nb < 1:
        raise ValueError("permutation_test: both groups need at least 1 row")
    sa, sb = float(r["sa"]), float(r["sb"])
    obs = sa / na - sb / nb
    st, ct = float(r["st"]), int(r["ct"])
    hits = 0
    used = 0
    for b in range(int(n_perms)):
        cb_ = int(r[f"c{b}"])
        if cb_ == 0 or cb_ == ct:
            continue
        sb_ = float(r[f"s{b}"] or 0.0)
        diff = sb_ / cb_ - (st - sb_) / (ct - cb_)
        used += 1
        if abs(diff) >= abs(obs) - 1e-12:
            hits += 1
    p = (1.0 + hits) / (used + 1.0)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(obs, round_to), round(p, round_to), int(n_perms), used,
            round(sa / na, round_to), round(sb / nb, round_to), na, nb,
        )],
        "obs_diff double, p_value double, n_perms int, n_used int, "
        "mean_a double, mean_b double, n_a bigint, n_b bigint",
    )
    return LazyFrame(out)


__all__.extend(["cramer_von_mises", "permutation_test"])


def partial_corr(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    z_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """First-order partial correlation r_xy·z — "are x and y still related
    once z is held fixed", the confounder screen that corr_matrix can't
    answer (a large r_xy means nothing when both track z):

        r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²)).

    Rows with any null drop (complete-case, the textbook definition).
    Scale shape: ONE fused all-reduce of the nine pairwise power sums;
    everything after is driver arithmetic.  Raises when x or z
    correlates perfectly with z/anything (denominator 0).  Output
    (1 row): partial_r, r_xy, r_xz, r_yz, n."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    z = F.col(z_col).cast("double")
    base = sdf.filter(x.isNotNull() & y.isNotNull() & z.isNotNull()).select(
        x.alias("__x__"), y.alias("__y__"), z.alias("__z__")
    )
    r = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x__").alias("sx"), F.sum("__y__").alias("sy"),
        F.sum("__z__").alias("sz"),
        F.sum(F.col("__x__") ** 2).alias("sxx"),
        F.sum(F.col("__y__") ** 2).alias("syy"),
        F.sum(F.col("__z__") ** 2).alias("szz"),
        F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
        F.sum(F.col("__x__") * F.col("__z__")).alias("sxz"),
        F.sum(F.col("__y__") * F.col("__z__")).alias("syz"),
    ).collect()[0]
    n = int(r["n"] or 0)
    if n < 3:
        raise ValueError("partial_corr needs at least 3 complete rows")
    import math

    def corr(sab, sa, sb, saa, sbb):
        ca = saa - sa * sa / n
        cb = sbb - sb * sb / n
        if ca <= 0 or cb <= 0:
            raise ValueError("partial_corr: zero variance column")
        return (sab - sa * sb / n) / math.sqrt(ca * cb)

    rxy = corr(float(r["sxy"]), float(r["sx"]), float(r["sy"]),
               float(r["sxx"]), float(r["syy"]))
    rxz = corr(float(r["sxz"]), float(r["sx"]), float(r["sz"]),
               float(r["sxx"]), float(r["szz"]))
    ryz = corr(float(r["syz"]), float(r["sy"]), float(r["sz"]),
               float(r["syy"]), float(r["szz"]))
    den = (1 - rxz * rxz) * (1 - ryz * ryz)
    if den <= 0:
        raise ValueError("partial_corr: x or y perfectly correlated with z")
    pr = (rxy - rxz * ryz) / math.sqrt(den)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(pr, round_to), round(rxy, round_to), round(rxz, round_to),
          round(ryz, round_to), n)],
        "partial_r double, r_xy double, r_xz double, r_yz double, n bigint",
    )
    return LazyFrame(out)


def distribution_compare(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Maximum-likelihood three-way distribution shootout — normal vs
    lognormal vs exponential by AIC, the "which parametric tail should I
    assume" screen behind pricing/latency/LTV modeling (Gumbel/Weibull
    handle the extreme-value cases; this ranks the bread-and-butter
    bodies): all three log-likelihoods close over ONE fused all-reduce
    (n, Σx, Σx², Σln x, Σln²x) on POSITIVE values —

        ll_N   = −n/2·(ln(2πσ̂²) + 1)
        ll_LN  = −n/2·(ln(2πσ̂_ln²) + 1) − Σ ln x
        ll_EXP = −n·(ln x̄ + 1)

    (MLE variances, i.e. population denominators).  AIC = 2k − 2·ll with
    k = 2, 2, 1; ``preferred`` is the AIC argmin (alphabetical on exact
    ties).  Non-positive values are excluded so all three fits see the
    SAME sample (lognormal/exponential support).  Output (1 row): n,
    n_excluded, ll_normal, ll_lognormal, ll_exponential, aic_normal,
    aic_lognormal, aic_exponential, preferred."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    pos = v > 0
    r = (
        sdf.filter(v.isNotNull())
        .agg(
            F.count(F.when(pos, 1)).alias("n"),
            F.count(F.when(~pos, 1)).alias("nexc"),
            F.sum(F.when(pos, v)).alias("s1"),
            F.sum(F.when(pos, v ** 2)).alias("s2"),
            F.sum(F.when(pos, F.log(v))).alias("l1"),
            F.sum(F.when(pos, F.log(v) ** 2)).alias("l2"),
        )
        .collect()[0]
    )
    n = int(r["n"] or 0)
    n_all = n + int(r["nexc"] or 0)
    if n < 3:
        raise ValueError("distribution_compare needs at least 3 positive rows")
    import math

    s1, s2, l1, l2 = (float(r[k]) for k in ("s1", "s2", "l1", "l2"))
    var_n = s2 / n - (s1 / n) ** 2
    var_ln = l2 / n - (l1 / n) ** 2
    if var_n <= 0 or var_ln <= 0:
        raise ValueError("distribution_compare: zero variance")
    ll_n = -n / 2.0 * (math.log(2 * math.pi * var_n) + 1.0)
    ll_ln = -n / 2.0 * (math.log(2 * math.pi * var_ln) + 1.0) - l1
    ll_e = -n * (math.log(s1 / n) + 1.0)
    aic = {
        "exponential": 2 * 1 - 2 * ll_e,
        "lognormal": 2 * 2 - 2 * ll_ln,
        "normal": 2 * 2 - 2 * ll_n,
    }
    preferred = min(sorted(aic), key=lambda k: aic[k])
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            n, int(n_all - n),
            round(ll_n, round_to), round(ll_ln, round_to), round(ll_e, round_to),
            round(aic["normal"], round_to), round(aic["lognormal"], round_to),
            round(aic["exponential"], round_to), preferred,
        )],
        "n bigint, n_excluded bigint, ll_normal double, ll_lognormal double, "
        "ll_exponential double, aic_normal double, aic_lognormal double, "
        "aic_exponential double, preferred string",
    )
    return LazyFrame(out)


def negbin_fit(
    frame: "LazyFrame | SparkDF",
    count_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Negative-binomial method-of-moments fit for overdispersed counts —
    the "Poisson says λ, reality says variance ≫ mean" model behind
    per-user event counts, defects, and claim frequencies:
    dispersion = s²/x̄ (s² the SAMPLE variance), and when s² > x̄,
    r = x̄²/(s² − x̄), p = x̄/s² (so mean = r(1−p)/p).  Raises when
    s² ≤ x̄ — the data is NOT overdispersed and Poisson (poisson_rate_
    test's model) is the right call; that refusal is the diagnostic.

    ONE fused all-reduce (n, Σx, Σx²); negative counts excluded.
    Output (1 row): n, mean, variance, dispersion, r, p."""
    sdf = _sdf(frame)
    v = F.col(count_col).cast("double")
    r = (
        sdf.filter(v.isNotNull() & (v >= 0))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v ** 2).alias("s2"),
        )
        .collect()[0]
    )
    n = int(r["n"] or 0)
    if n < 3:
        raise ValueError("negbin_fit needs at least 3 rows")
    s1, s2 = float(r["s1"]), float(r["s2"])
    m = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1)
    if m <= 0:
        raise ValueError("negbin_fit: zero mean")
    if var <= m:
        raise ValueError(
            "negbin_fit: variance <= mean (not overdispersed; use a Poisson "
            "model, e.g. poisson_rate_test)"
        )
    rr = m * m / (var - m)
    p = m / var
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(n, round(m, round_to), round(var, round_to),
          round(var / m, round_to), round(rr, round_to), round(p, round_to))],
        "n bigint, mean double, variance double, dispersion double, "
        "r double, p double",
    )
    return LazyFrame(out)


__all__.extend(["partial_corr", "distribution_compare", "negbin_fit"])


def rdd_estimate(
    frame: "LazyFrame | SparkDF",
    running_col: str,
    outcome_col: str,
    cutoff: float,
    bandwidth: float,
    round_to: int = 6,
) -> LazyFrame:
    """Sharp regression-discontinuity estimate — the "did crossing the
    threshold CAUSE the jump" design for score-gated treatments
    (eligibility cutoffs, ranking thresholds, paywalls): fit local
    linear OLS y ~ a + b·(x − cutoff) separately on [cutoff−h, cutoff)
    and [cutoff, cutoff+h], and the effect is the intercept gap
    a₊ − a₋ — the two regressions' predictions AT the cutoff.  SE is the
    homoskedastic intercept-variance sum from the side-wise residuals
    (conventional, not robust — document accordingly).

    Scale shape: BOTH side fits ride ONE fused conditional all-reduce
    (five power sums per side + counts); everything after is driver
    arithmetic.  Rows outside the bandwidth drop.  Output (1 row):
    effect, se, z, a_left, a_right, slope_left, slope_right, n_left,
    n_right."""
    if bandwidth <= 0:
        raise ValueError("bandwidth must be > 0")
    sdf = _sdf(frame)
    x = F.col(running_col).cast("double") - F.lit(float(cutoff))
    y = F.col(outcome_col).cast("double")
    h = float(bandwidth)
    base = sdf.filter(
        y.isNotNull() & x.isNotNull() & (x >= -h) & (x <= h)
    ).select(x.alias("__x__"), y.alias("__y__"), (x >= 0).alias("__r__"))

    def side(cond, tag):
        c = F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
        return [
            F.sum(c).alias(f"n{tag}"),
            F.sum(c * F.col("__x__")).alias(f"sx{tag}"),
            F.sum(c * F.col("__y__")).alias(f"sy{tag}"),
            F.sum(c * F.col("__x__") ** 2).alias(f"sxx{tag}"),
            F.sum(c * F.col("__x__") * F.col("__y__")).alias(f"sxy{tag}"),
            F.sum(c * F.col("__y__") ** 2).alias(f"syy{tag}"),
        ]

    r = base.agg(
        *side(F.col("__r__"), "r"), *side(~F.col("__r__"), "l")
    ).collect()[0]

    import math

    def fit(tag):
        n = float(r[f"n{tag}"] or 0)
        if n < 3:
            raise ValueError(f"rdd_estimate: fewer than 3 rows on side {tag!r}")
        sx, sy = float(r[f"sx{tag}"]), float(r[f"sy{tag}"])
        sxx, sxy, syy = (
            float(r[f"sxx{tag}"]), float(r[f"sxy{tag}"]), float(r[f"syy{tag}"])
        )
        det = n * sxx - sx * sx
        if det <= 0:
            raise ValueError(f"rdd_estimate: zero x-variance on side {tag!r}")
        b = (n * sxy - sx * sy) / det
        a = (sy - b * sx) / n
        sse = syy - a * sy - b * sxy
        dof = n - 2
        s2 = max(sse, 0.0) / dof if dof > 0 else 0.0
        var_a = s2 * sxx / det
        return a, b, var_a, int(n)

    a_r, b_r, va_r, n_r = fit("r")
    a_l, b_l, va_l, n_l = fit("l")
    eff = a_r - a_l
    se = math.sqrt(va_r + va_l)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(eff, round_to), round(se, round_to),
            round(eff / se, round_to) if se > 0 else None,
            round(a_l, round_to), round(a_r, round_to),
            round(b_l, round_to), round(b_r, round_to), n_l, n_r,
        )],
        "effect double, se double, z double, a_left double, a_right double, "
        "slope_left double, slope_right double, n_left bigint, n_right bigint",
    )
    return LazyFrame(out)


def stratified_ate(
    frame: "LazyFrame | SparkDF",
    outcome_col: str,
    treat_col: str,
    score_col: str,
    n_strata: int = 5,
    round_to: int = 6,
) -> LazyFrame:
    """Propensity-score STRATIFICATION estimate of the average treatment
    effect (Rosenbaum & Rubin's subclassification) — the robust sibling
    of ipw_ate that never divides by an extreme propensity: scores cut
    into ``n_strata`` equal-width bins over [0, 1], within-stratum
    treated-minus-control mean differences combine weighted by stratum
    SIZE; SE pools the within-arm variances.  Strata without at least
    TWO observations in EACH arm are excluded from the estimate and
    reported (n_dropped_strata — the overlap diagnostic; two per arm is
    the minimum for the within-arm variance).  Scores are expected in
    [0, 1] (propensities); out-of-range scores clamp into the edge
    strata.

    Scale shape: ONE grouped aggregate (stratum × arm sums fused as
    conditionals), driver combine over ≤ n_strata rows.  Output (1 row):
    ate, se, n, n_strata_used, n_dropped_strata, n_dropped_rows."""
    if n_strata < 2:
        raise ValueError("n_strata must be >= 2")
    sdf = _sdf(frame)
    y = F.col(outcome_col).cast("double")
    t = (F.col(treat_col).cast("double") != 0)
    s = F.col(score_col).cast("double")
    b = F.least(
        F.lit(n_strata - 1), F.greatest(F.lit(0), F.floor(s * n_strata).cast("int"))
    )
    rows = (
        sdf.filter(y.isNotNull() & s.isNotNull() & F.col(treat_col).isNotNull())
        .groupBy(b.alias("__b__"))
        .agg(
            F.count(F.when(t, 1)).alias("nt"),
            F.sum(F.when(t, y)).alias("st"),
            F.sum(F.when(t, y ** 2)).alias("qt"),
            F.count(F.when(~t, 1)).alias("nc"),
            F.sum(F.when(~t, y)).alias("sc"),
            F.sum(F.when(~t, y ** 2)).alias("qc"),
        )
        .collect()
    )
    import math

    used, dropped_strata, dropped_rows = [], 0, 0
    for r in rows:
        nt, nc = int(r["nt"]), int(r["nc"])
        if nt < 2 or nc < 2:
            dropped_strata += 1
            dropped_rows += nt + nc
            continue
        st, qt = float(r["st"]), float(r["qt"])
        sc, qc = float(r["sc"]), float(r["qc"])
        vt = (qt - st * st / nt) / (nt - 1)
        vc = (qc - sc * sc / nc) / (nc - 1)
        used.append((nt + nc, st / nt - sc / nc, vt / nt + vc / nc))
    if not used:
        raise ValueError("stratified_ate: no stratum has both arms")
    n_used = sum(w for w, _, _ in used)
    ate = sum(w * d for w, d, _ in used) / n_used
    var = sum((w / n_used) ** 2 * v for w, _, v in used)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(ate, round_to), round(math.sqrt(var), round_to),
            n_used, len(used), dropped_strata, dropped_rows,
        )],
        "ate double, se double, n bigint, n_strata_used bigint, "
        "n_dropped_strata bigint, n_dropped_rows bigint",
    )
    return LazyFrame(out)


def weighted_mean_report(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    weight_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Survey-weighted mean with the HONEST uncertainty — the
    importance-weighted estimate plus Kish's effective sample size
    n_eff = (Σw)²/Σw² and design effect deff = n/n_eff, the numbers that
    say how much a weighted corpus/sample REALLY knows (a 1M-row frame
    with deff 50 carries 20k rows of information): weighted mean, the
    design-based SE √(Σw²(x−x̄_w)² )/Σw, and the weighted variance.

    ONE fused all-reduce (Σw, Σwx, Σwx², Σw², Σw²x, Σw²x²); rows with
    null value or null/non-positive weight drop.  Output (1 row):
    weighted_mean, se, n, n_eff, deff, weighted_var."""
    sdf = _sdf(frame)
    x = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    r = (
        sdf.filter(x.isNotNull() & w.isNotNull() & (w > 0))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(w).alias("sw"),
            F.sum(w * x).alias("swx"),
            F.sum(w * x ** 2).alias("swxx"),
            F.sum(w ** 2).alias("sww"),
            F.sum(w ** 2 * x).alias("swwx"),
            F.sum(w ** 2 * x ** 2).alias("swwxx"),
        )
        .collect()[0]
    )
    n = int(r["n"] or 0)
    if n < 2:
        raise ValueError("weighted_mean_report needs at least 2 weighted rows")
    import math

    sw, swx, swxx = float(r["sw"]), float(r["swx"]), float(r["swxx"])
    sww, swwx, swwxx = float(r["sww"]), float(r["swwx"]), float(r["swwxx"])
    mean = swx / sw
    wvar = swxx / sw - mean * mean
    # Σ w²(x − mean)² expanded so it closes over the same single reduce
    s2 = swwxx - 2 * mean * swwx + mean * mean * sww
    se = math.sqrt(max(s2, 0.0)) / sw
    n_eff = sw * sw / sww
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(mean, round_to), round(se, round_to), n,
            round(n_eff, round_to), round(n / n_eff, round_to),
            round(wvar, round_to),
        )],
        "weighted_mean double, se double, n bigint, n_eff double, "
        "deff double, weighted_var double",
    )
    return LazyFrame(out)


__all__.extend(["rdd_estimate", "stratified_ate", "weighted_mean_report"])


def mediation_report(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    mediator_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Baron–Kenny / product-of-coefficients mediation analysis — "how
    much of x's effect on y flows THROUGH m": path a from the OLS
    m ~ x, paths (b, c′) from the two-regressor OLS y ~ x + m (closed
    form via the 2×2 normal equations), total effect c from y ~ x;
    indirect effect = a·b with the Sobel SE √(b²·se_a² + a²·se_b²), and
    proportion mediated = a·b/c.

    Complete-case rows; homoskedastic SEs (conventional Sobel).  Scale
    shape: every regression closes over ONE fused all-reduce of the
    nine pairwise power sums — no second pass, no join.  Output (1 row):
    indirect, sobel_se, sobel_z, path_a, path_b, direct_cprime,
    total_c, prop_mediated, n."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    mv = F.col(mediator_col).cast("double")
    y = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & mv.isNotNull() & y.isNotNull()).select(
        x.alias("__x__"), mv.alias("__m__"), y.alias("__y__")
    )
    r = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x__").alias("sx"), F.sum("__m__").alias("sm"),
        F.sum("__y__").alias("sy"),
        F.sum(F.col("__x__") ** 2).alias("sxx"),
        F.sum(F.col("__m__") ** 2).alias("smm"),
        F.sum(F.col("__y__") ** 2).alias("syy"),
        F.sum(F.col("__x__") * F.col("__m__")).alias("sxm"),
        F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
        F.sum(F.col("__m__") * F.col("__y__")).alias("smy"),
    ).collect()[0]
    n = int(r["n"] or 0)
    if n < 4:
        raise ValueError("mediation_report needs at least 4 complete rows")
    import math

    sx, sm, sy = float(r["sx"]), float(r["sm"]), float(r["sy"])
    sxx, smm, syy = float(r["sxx"]), float(r["smm"]), float(r["syy"])
    sxm, sxy, smy = float(r["sxm"]), float(r["sxy"]), float(r["smy"])
    # centered moments
    cxx = sxx - sx * sx / n
    cmm = smm - sm * sm / n
    cyy = syy - sy * sy / n
    cxm = sxm - sx * sm / n
    cxy = sxy - sx * sy / n
    cmy = smy - sm * sy / n
    if cxx <= 0 or cmm <= 0:
        raise ValueError("mediation_report: zero variance in x or mediator")
    # path a: m ~ x
    a = cxm / cxx
    sse_a = cmm - a * cxm
    se_a = math.sqrt(max(sse_a, 0.0) / (n - 2) / cxx)
    # y ~ x + m via 2x2 normal equations on centered moments
    det = cxx * cmm - cxm * cxm
    if det <= 0:
        raise ValueError("mediation_report: x and mediator are collinear")
    cprime = (cxy * cmm - cmy * cxm) / det
    bcoef = (cmy * cxx - cxy * cxm) / det
    sse_y = cyy - cprime * cxy - bcoef * cmy
    s2 = max(sse_y, 0.0) / (n - 3)
    se_b = math.sqrt(s2 * cxx / det)
    # total effect c: y ~ x
    c = cxy / cxx
    indirect = a * bcoef
    sobel = math.sqrt(bcoef * bcoef * se_a * se_a + a * a * se_b * se_b)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(indirect, round_to), round(sobel, round_to),
            round(indirect / sobel, round_to) if sobel > 0 else None,
            round(a, round_to), round(bcoef, round_to),
            round(cprime, round_to), round(c, round_to),
            round(indirect / c, round_to) if c != 0 else None, n,
        )],
        "indirect double, sobel_se double, sobel_z double, path_a double, "
        "path_b double, direct_cprime double, total_c double, "
        "prop_mediated double, n bigint",
    )
    return LazyFrame(out)


__all__.append("mediation_report")


def logistic_fit(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    rounds: int = 6,
    round_to: int = 6,
) -> LazyFrame:
    """Single-covariate logistic regression y ~ sigmoid(a + b·x) by
    ``rounds`` Newton–Raphson steps from (0, 0) — the odds-ratio
    workhorse between prop_ztest's 2×2 and MLlib's black-box fit, with
    Wald SEs from the final observed information (fixed round count =
    deterministic and externally replayable, the huber/cox convention;
    Newton on the logistic likelihood is quadratically convergent, 6
    rounds ≈ machine precision for non-separated data — PERFECTLY
    separated data diverges by construction, every engine's problem).

    Per round, with (a, b) plan literals: ONE fused all-reduce of the
    score (Σ(y−p), Σ(y−p)x) and information (Σw, Σwx, Σwx², w = p(1−p));
    the 2×2 solve is driver arithmetic.  A final pass adds the
    log-likelihood.  Output (1 row): intercept, slope, se_intercept,
    se_slope, z_slope, odds_ratio, loglik, n, n_pos, rounds."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    yv = (F.col(y_col).cast("double") != 0).cast("double")
    base = sdf.filter(x.isNotNull() & F.col(y_col).isNotNull()).select(
        x.alias("__x__"), yv.alias("__y__")
    )
    with scoped_caches():
        base = register_cache(base)
        a = b = 0.0
        n = npos = None
        for _ in range(int(rounds)):
            eta = F.lit(a) + F.lit(b) * F.col("__x__")
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = p * (1 - p)
            r = base.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("__y__").alias("npos"),
                F.sum(F.col("__y__") - p).alias("g0"),
                F.sum((F.col("__y__") - p) * F.col("__x__")).alias("g1"),
                F.sum(w).alias("h00"),
                F.sum(w * F.col("__x__")).alias("h01"),
                F.sum(w * F.col("__x__") ** 2).alias("h11"),
            ).collect()[0]
            n, npos = int(r["n"]), int(r["npos"])
            if n < 4 or npos == 0 or npos == n:
                raise ValueError(
                    "logistic_fit needs >= 4 rows and both classes present"
                )
            g0, g1 = float(r["g0"]), float(r["g1"])
            h00, h01, h11 = float(r["h00"]), float(r["h01"]), float(r["h11"])
            det = h00 * h11 - h01 * h01
            if det <= 0:
                raise ValueError("logistic_fit: singular information matrix")
            a += (h11 * g0 - h01 * g1) / det
            b += (h00 * g1 - h01 * g0) / det
        eta = F.lit(a) + F.lit(b) * F.col("__x__")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = p * (1 - p)
        r = base.agg(
            F.sum(w).alias("h00"),
            F.sum(w * F.col("__x__")).alias("h01"),
            F.sum(w * F.col("__x__") ** 2).alias("h11"),
            # clamp: at |eta| beyond ~37, p saturates to exactly 0/1 and
            # Spark's non-ANSI ln(0) is NULL, which would silently DROP the
            # row's (huge negative) term from the sum — floor both legs
            F.sum(
                F.col("__y__") * F.log(F.greatest(p, F.lit(1e-300)))
                + (1 - F.col("__y__"))
                * F.log(F.greatest(1 - p, F.lit(1e-300)))
            ).alias("ll"),
        ).collect()[0]
        h00, h01, h11 = float(r["h00"]), float(r["h01"]), float(r["h11"])
        det = h00 * h11 - h01 * h01
        if det <= 0:
            raise ValueError("logistic_fit: singular information matrix")
        se_a = math.sqrt(h11 / det)
        se_b = math.sqrt(h00 / det)
        ll = float(r["ll"])
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(a, round_to), round(b, round_to),
            round(se_a, round_to), round(se_b, round_to),
            round(b / se_b, round_to), round(math.exp(b), round_to),
            round(ll, round_to), n, npos, int(rounds),
        )],
        "intercept double, slope double, se_intercept double, "
        "se_slope double, z_slope double, odds_ratio double, loglik double, "
        "n bigint, n_pos bigint, rounds int",
    )
    return LazyFrame(out)


__all__.append("logistic_fit")


def lins_ccc(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Lin's concordance correlation coefficient (Lin 1989) — agreement
    between two measurements of the same quantity (model vs human score,
    two annotators, two sensors): CCC = 2·s_xy / (s_x² + s_y² + (x̄−ȳ)²)
    with population (maximum-likelihood) moments, the product of Pearson r
    (precision) and the bias-correction factor C_b (accuracy).  Unlike r,
    CCC penalizes location and scale shifts — y = 2x has r = 1 but CCC < 1.

    ONE fused all-reduce (six power sums), driver-free column math after.
    Pairwise-complete rows only.  Output (1 row): ccc, pearson_r, c_b,
    mean_x, mean_y, n."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x__"), y.alias("__y__")
    )
    m = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__x__").alias("sx"),
        F.sum("__y__").alias("sy"),
        F.sum(F.col("__x__") * F.col("__x__")).alias("sxx"),
        F.sum(F.col("__y__") * F.col("__y__")).alias("syy"),
        F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
    )
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    vx = F.col("sxx") / n - mx * mx
    vy = F.col("syy") / n - my * my
    cxy = F.col("sxy") / n - mx * my
    ccc = 2.0 * cxy / (vx + vy + (mx - my) * (mx - my))
    # degenerate guard (ADVICE r10): zero variance on either side makes
    # r = cxy/sqrt(vx*vy) a 0/0 — fail loudly like breusch_pagan, not
    # with a silent null row; raise_error keeps the plan lazy/distributed
    r = F.when(
        (vx > 0) & (vy > 0), cxy / F.sqrt(vx * vy)
    ).otherwise(
        F.raise_error(
            F.lit("lins_ccc: zero variance in x or y (degenerate input)")
        ).cast("double")
    )
    out = m.select(
        F.round(ccc, round_to).alias("ccc"),
        F.round(r, round_to).alias("pearson_r"),
        F.round(ccc / r, round_to).alias("c_b"),
        F.round(mx, round_to).alias("mean_x"),
        F.round(my, round_to).alias("mean_y"),
        n.cast("long").alias("n"),
    )
    return LazyFrame(out)


def bland_altman(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    agreement: float = 1.96,
    round_to: int = 6,
) -> LazyFrame:
    """Bland–Altman agreement analysis (Bland & Altman 1986) — the
    method-comparison companion to lins_ccc: bias = mean(x − y) and the
    limits of agreement bias ± ``agreement``·sd(x − y) (sample sd), within
    which ~95% of differences between the two methods fall.

    ONE fused all-reduce.  Output (1 row): bias, sd_diff, loa_lower,
    loa_upper, mean_of_means, n."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & y.isNotNull()).select(
        (x - y).alias("__d__"), ((x + y) / 2.0).alias("__m__")
    )
    m = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__d__").alias("sd_"),
        F.sum(F.col("__d__") * F.col("__d__")).alias("sdd"),
        F.avg("__m__").alias("mm"),
    )
    n = F.col("n")
    bias = F.col("sd_") / n
    sd = F.sqrt((F.col("sdd") - n * bias * bias) / (n - 1.0))
    out = m.select(
        F.round(bias, round_to).alias("bias"),
        F.round(sd, round_to).alias("sd_diff"),
        F.round(bias - agreement * sd, round_to).alias("loa_lower"),
        F.round(bias + agreement * sd, round_to).alias("loa_upper"),
        F.round(F.col("mm"), round_to).alias("mean_of_means"),
        n.cast("long").alias("n"),
    )
    return LazyFrame(out)


def grubbs_test(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Grubbs' outlier statistic (Grubbs 1950, two-sided): G =
    max(|x̄ − min|, |max − x̄|)/s with sample s — "is the single most
    extreme value an outlier?"  Because G only needs (mean, sd, min, max),
    the whole test is ONE fused all-reduce even though it names a specific
    row; compare G against the t-based critical value for the chosen α
    driver-side.  Output (1 row): g, suspect_value, suspect_side
    (min/max), mean, sd, n."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    base = sdf.filter(v.isNotNull()).select(v.alias("__v__"))
    m = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__v__").alias("s"),
        F.sum(F.col("__v__") * F.col("__v__")).alias("ss"),
        F.min("__v__").alias("mn"),
        F.max("__v__").alias("mx"),
    )
    n = F.col("n")
    mean = F.col("s") / n
    sd = F.sqrt((F.col("ss") - n * mean * mean) / (n - 1.0))
    dev_lo = mean - F.col("mn")
    dev_hi = F.col("mx") - mean
    g = F.greatest(dev_lo, dev_hi) / sd
    out = m.select(
        F.round(g, round_to).alias("g"),
        F.when(dev_hi >= dev_lo, F.col("mx")).otherwise(F.col("mn")).alias("suspect_value"),
        F.when(dev_hi >= dev_lo, F.lit("max")).otherwise(F.lit("min")).alias("suspect_side"),
        F.round(mean, round_to).alias("mean"),
        F.round(sd, round_to).alias("sd"),
        n.cast("long").alias("n"),
    )
    return LazyFrame(out)


def icc_oneway(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss 1979) — reliability of ratings grouped by target:
    ICC = (MSB − MSW)/(MSB + (k₀ − 1)·MSW) with the unbalanced-design
    k₀ = (N − Σnᵢ²/N)/(g − 1).  The rater-agreement measure for
    CONTINUOUS scores (kappa's complement; see cohens_kappa for nominal).

    One groupBy over targets + one fused reduce over the ≤|groups| cell
    table.  Output (1 row): icc1, msb, msw, k0, n, n_groups."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    cells = (
        sdf.filter(v.isNotNull() & g.isNotNull())
        .groupBy(g.alias("__g__"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n__"),
            F.sum(v).alias("__s__"),
            F.sum(v * v).alias("__ss__"),
        )
    )
    m = cells.agg(
        F.count(F.lit(1)).cast("double").alias("g_"),
        F.sum("__n__").alias("N"),
        F.sum("__s__").alias("S"),
        F.sum("__ss__").alias("SS"),
        F.sum(F.col("__s__") * F.col("__s__") / F.col("__n__")).alias("SA"),
        F.sum(F.col("__n__") * F.col("__n__")).alias("N2"),
    )
    N, S, SS, SA, g_ = (F.col(c) for c in ("N", "S", "SS", "SA", "g_"))
    ssb = SA - S * S / N
    ssw = SS - SA
    msb = ssb / (g_ - 1.0)
    msw = ssw / (N - g_)
    k0 = (N - F.col("N2") / N) / (g_ - 1.0)
    # degenerate guard (ADVICE r10): a single group (g-1 = 0) or zero
    # within-group df (N = g) divides by zero — raise, don't emit nulls
    icc = F.when(
        (g_ >= 2.0) & (N > g_), (msb - msw) / (msb + (k0 - 1.0) * msw)
    ).otherwise(
        F.raise_error(
            F.lit(
                "icc_oneway: needs >= 2 groups and more rows than groups"
            )
        ).cast("double")
    )
    out = m.select(
        F.round(icc, round_to).alias("icc1"),
        F.round(msb, round_to).alias("msb"),
        F.round(msw, round_to).alias("msw"),
        F.round(k0, round_to).alias("k0"),
        N.cast("long").alias("n"),
        g_.cast("long").alias("n_groups"),
    )
    return LazyFrame(out)


def cochran_q(
    frame: "LazyFrame | SparkDF",
    block_col: str,
    treatment_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Cochran's Q (Cochran 1950) — "do k binary treatments have equal
    success rates across matched blocks?" (the k-treatment McNemar): over
    COMPLETE blocks (one outcome per treatment in every block),
    Q = k(k−1)·Σⱼ(Cⱼ − T/k)² / (k·T − Σᵢ Rᵢ²) with treatment totals Cⱼ,
    block totals Rᵢ and grand total T; Q ~ χ²(k−1) under H₀.  Blocks
    missing any treatment drop (standard complete-case rule); duplicate
    (block, treatment) cells keep their max outcome (any-success).

    k IS FIXED FROM THE FULL CELL TABLE BEFORE the complete-case filter
    (ADVICE r10): a treatment observed only in incomplete blocks still
    counts toward k, so no block can then be complete — that situation
    raises ValueError("no complete blocks") rather than returning a
    degenerate null-q row; drop the stray treatment upstream if the
    intent was to test the remaining ones.

    One (block, treatment) groupBy, one block-level reduce, one
    treatment-level reduce over the tiny complete-cell table.  Output
    (1 row): q, df, n_blocks, k, grand_total."""
    sdf = _sdf(frame)
    y = F.col(outcome_col).cast("double")
    cells = (
        sdf.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & y.isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("__b__"), F.col(treatment_col).alias("__t__")
        )
        .agg(F.max((y != 0).cast("double")).alias("__y__"))
    )

    cells = register_cache(cells)
    k_val = cells.select(F.countDistinct("__t__").alias("k")).first()["k"]
    if k_val < 2:
        raise ValueError("cochran_q needs at least 2 treatments")
    blocks = (
        cells.groupBy("__b__")
        .agg(F.count(F.lit(1)).alias("__kt__"), F.sum("__y__").alias("__r__"))
        .filter(F.col("__kt__") == k_val)
    )
    complete = cells.join(blocks.select("__b__", "__r__"), "__b__")
    if blocks.isEmpty():
        raise ValueError(
            "cochran_q: no complete blocks — every block is missing at "
            "least one of the k treatments (k is fixed from the full "
            "cell table before the complete-case filter)"
        )
    tstats = complete.groupBy("__t__").agg(F.sum("__y__").alias("__c__"))
    bm = blocks.agg(
        F.count(F.lit(1)).cast("double").alias("nb"),
        F.sum("__r__").alias("T"),
        F.sum(F.col("__r__") * F.col("__r__")).alias("R2"),
    )
    # Σ Cⱼ² is ONE number over the k-row treatment table (cells cached) —
    # a plan literal, not a 1-row×1-row join (BroadcastNestedLoopJoin;
    # the median_ci precedent)
    c2_val = float(
        tstats.agg(F.sum(F.col("__c__") * F.col("__c__"))).first()[0] or 0.0
    )
    k = float(k_val)
    qn = k * (k - 1.0) * (F.lit(c2_val) - F.col("T") * F.col("T") / k)
    qd = k * F.col("T") - F.col("R2")
    out = bm.select(
        F.round(qn / qd, round_to).alias("q"),
        F.lit(int(k_val - 1)).alias("df"),
        F.col("nb").cast("long").alias("n_blocks"),
        F.lit(int(k_val)).alias("k"),
        F.col("T").cast("long").alias("grand_total"),
    )
    return LazyFrame(out)


def durbin_watson(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Durbin–Watson statistic (Durbin & Watson 1950) over an ordered
    residual/value series: DW = Σ_{t≥2}(v_t − v_{t−1})² / Σ v_t² — ≈2 for
    no lag-1 autocorrelation, →0 positive, →4 negative.  Feed it OLS
    residuals (fit_linear_by_key + column math) or any detrended metric.

    Per-key: one lag window per key.  Global (``by=None``): the lag rides
    distsort HALO buckets (each range bucket borrows its predecessor's
    last row), so no single-partition window at any scale — the acf
    construction.  Output per key (or 1 row): dw, n."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col))
        staged = sdf.filter(v.isNotNull()).select(
            *keys, v.alias("__v__"), F.lag(v).over(w).alias("__p__")
        )
    else:
        from .distsort import with_halo_buckets

        haloed, bcol, halo_col = with_halo_buckets(
            sdf.filter(v.isNotNull()), order_col, before=1
        )
        w = Window.partitionBy(bcol).orderBy(F.col(order_col))
        staged = haloed.select(
            F.col(halo_col), v.alias("__v__"), F.lag(v).over(w).alias("__p__")
        ).filter(~F.col(halo_col))
    d = F.col("__v__") - F.col("__p__")
    agg = staged.groupBy(*keys).agg(
        F.sum(F.when(F.col("__p__").isNotNull(), d * d)).alias("num"),
        F.sum(F.col("__v__") * F.col("__v__")).alias("den"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    out = agg.select(
        *keys, F.round(F.col("num") / F.col("den"), round_to).alias("dw"), "n"
    )
    return LazyFrame(out)


__all__.extend(
    ["lins_ccc", "bland_altman", "grubbs_test", "icc_oneway", "cochran_q", "durbin_watson"]
)


def kruskal_wallis(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Kruskal–Wallis H (Kruskal & Wallis 1952) with tie correction — the
    k-group generalization of mann_whitney_u: H = 12/(N(N+1))·Σ R_g²/n_g −
    3(N+1) over tie-averaged rank sums, divided by C = 1 − Σ(t³−t)/(N³−N).

    Ranking never runs a single-partition window (the mann_whitney_u
    distsort construction): values collapse to distinct-value cells whose
    global cumulative counts come from range buckets + driver prefix
    totals; per-(value, group) counts then join the per-value avg rank on
    the distinct-value key and one group reduce + one fused reduce finish.
    Output (1 row): h, h_corrected, df, n, n_groups."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(v.isNotNull() & g.isNotNull()).select(
        g.alias("__g__"), v.alias("__v__")
    )
    from .distsort import with_bucket_offsets

    vcells = register_cache(
        base.groupBy("__v__").agg(F.count(F.lit(1)).alias("__cnt__"))
    )
    d3, gb, tot = with_bucket_offsets(vcells, "__v__", {"cnt": F.col("__cnt__")})
    n_total = float(tot["cnt"])
    if n_total < 3:
        raise ValueError("kruskal_wallis needs at least 3 values")
    wexcl = (
        Window.partitionBy(gb)
        .orderBy(F.col("__v__"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumb = F.col("__off_cnt__") + F.coalesce(F.sum("__cnt__").over(wexcl), F.lit(0))
    ranks = d3.select(
        "__v__",
        (cumb + (F.col("__cnt__") + F.lit(1)) / 2.0).alias("__r__"),
        F.col("__cnt__"),
    )
    gcells = base.groupBy("__v__", "__g__").agg(F.count(F.lit(1)).alias("__cg__"))
    per_group = (
        gcells.join(ranks.select("__v__", "__r__"), "__v__")
        .groupBy("__g__")
        .agg(
            F.sum(F.col("__cg__") * F.col("__r__")).alias("__rg__"),
            F.sum("__cg__").cast("double").alias("__ng__"),
        )
    )
    gm = per_group.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("__rg__") * F.col("__rg__") / F.col("__ng__")).alias("rr"),
    )
    # the tie term is ONE number over the (cached) distinct-value cells —
    # ride it into the final projection as a plan literal instead of a
    # 1-row×1-row join (which plans as BroadcastNestedLoopJoin; the
    # median_ci precedent)
    tt_val = float(
        vcells.agg(
            F.sum(
                F.col("__cnt__") * F.col("__cnt__") * F.col("__cnt__")
                - F.col("__cnt__")
            ).cast("double")
        ).first()[0]
        or 0.0
    )
    n = F.lit(n_total)
    h = 12.0 / (n * (n + 1.0)) * F.col("rr") - 3.0 * (n + 1.0)
    corr = 1.0 - F.lit(tt_val) / (n * n * n - n)
    out = gm.select(
        F.round(h, round_to).alias("h"),
        F.round(h / corr, round_to).alias("h_corrected"),
        (F.col("k") - 1).cast("int").alias("df"),
        n.cast("long").alias("n"),
        F.col("k").cast("long").alias("n_groups"),
    )
    return LazyFrame(out)


def breusch_pagan(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Breusch–Pagan heteroscedasticity test (Koenker's studentized form):
    fit y ~ a + b·x, regress the squared residuals on x, LM = n·R²_aux ~
    χ²(1) under homoscedasticity — the standard "can I trust these OLS
    standard errors?" screen.

    Two fused all-reduces (the logistic_fit unrolled pattern): pass 1
    collects the OLS moments and (a, b) ride into pass 2 as plan literals,
    so the residual powers never materialize a column.  Output (1 row):
    lm, df, r2_aux, slope, intercept, n."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x__"), y.alias("__y__")
    )
    m1 = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__x__").alias("sx"),
        F.sum("__y__").alias("sy"),
        F.sum(F.col("__x__") * F.col("__x__")).alias("sxx"),
        F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
    ).collect()[0]
    n = float(m1["n"])
    if n < 4:
        raise ValueError("breusch_pagan needs at least 4 rows")
    sx, sy, sxx, sxy = (float(m1[k]) for k in ("sx", "sy", "sxx", "sxy"))
    det = n * sxx - sx * sx
    if det <= 0:
        raise ValueError("breusch_pagan: zero variance in x")
    b = (n * sxy - sx * sy) / det
    a = (sy - b * sx) / n
    e = F.col("__y__") - F.lit(a) - F.lit(b) * F.col("__x__")
    e2 = e * e
    m2 = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__x__").alias("sx"),
        F.sum(F.col("__x__") * F.col("__x__")).alias("sxx"),
        F.sum(e2).alias("se"),
        F.sum(e2 * e2).alias("see"),
        F.sum(F.col("__x__") * e2).alias("sxe"),
    )
    nn, sxc, sxxc = F.col("n"), F.col("sx"), F.col("sxx")
    cov = F.col("sxe") / nn - (sxc / nn) * (F.col("se") / nn)
    vx = sxxc / nn - (sxc / nn) * (sxc / nn)
    ve = F.col("see") / nn - (F.col("se") / nn) * (F.col("se") / nn)
    r2 = cov * cov / (vx * ve)
    out = m2.select(
        F.round(nn * r2, round_to).alias("lm"),
        F.lit(1).alias("df"),
        F.round(r2, round_to).alias("r2_aux"),
        F.round(F.lit(b), round_to).alias("slope"),
        F.round(F.lit(a), round_to).alias("intercept"),
        nn.cast("long").alias("n"),
    )
    return LazyFrame(out)


def granger_lag1(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    order_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Lag-1 Granger causality screen (Granger 1969): does x's past help
    predict y beyond y's own past?  Restricted y_t ~ y_{t−1} vs
    unrestricted y_t ~ y_{t−1} + x_{t−1};
    F = (RSS_r − RSS_u)/(RSS_u/(n−3)) ~ F(1, n−3) under no-causality.

    One lag window (per key, or distsort halo buckets when global), one
    fused ten-moment all-reduce, then the 2×2 normal equations solve in
    closed-form COLUMN math (Cramer) — never a driver fit.  Output per
    key (or 1 row): f_stat, beta_x, rss_u, rss_r, n."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    xv = F.col(x_col).cast("double")
    yv = F.col(y_col).cast("double")
    filt = sdf.filter(xv.isNotNull() & yv.isNotNull())
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col))
        staged = filt.select(
            *keys, yv.alias("__y__"),
            F.lag(yv).over(w).alias("__y1__"),
            F.lag(xv).over(w).alias("__x1__"),
        )
    else:
        from .distsort import with_halo_buckets

        haloed, bcol, halo_col = with_halo_buckets(filt, order_col, before=1)
        w = Window.partitionBy(bcol).orderBy(F.col(order_col))
        staged = haloed.select(
            F.col(halo_col), yv.alias("__y__"),
            F.lag(yv).over(w).alias("__y1__"),
            F.lag(xv).over(w).alias("__x1__"),
        ).filter(~F.col(halo_col))
    staged = staged.filter(F.col("__y1__").isNotNull() & F.col("__x1__").isNotNull())
    yc, y1, x1 = F.col("__y__"), F.col("__y1__"), F.col("__x1__")
    m = staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(yc).alias("sy"), F.sum(y1).alias("sy1"), F.sum(x1).alias("sx1"),
        F.sum(yc * yc).alias("syy"),
        F.sum(y1 * y1).alias("sy1y1"), F.sum(x1 * x1).alias("sx1x1"),
        F.sum(y1 * x1).alias("sy1x1"),
        F.sum(yc * y1).alias("syy1"), F.sum(yc * x1).alias("syx1"),
    )
    n = F.col("n")
    syy = F.col("syy") - F.col("sy") * F.col("sy") / n
    s11 = F.col("sy1y1") - F.col("sy1") * F.col("sy1") / n
    s22 = F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n
    s12 = F.col("sy1x1") - F.col("sy1") * F.col("sx1") / n
    q1 = F.col("syy1") - F.col("sy") * F.col("sy1") / n
    q2 = F.col("syx1") - F.col("sy") * F.col("sx1") / n
    det = s11 * s22 - s12 * s12
    bb = (s22 * q1 - s12 * q2) / det
    cc = (s11 * q2 - s12 * q1) / det
    rss_u = syy - bb * q1 - cc * q2
    rss_r = syy - q1 * q1 / s11
    fstat = (rss_r - rss_u) * (n - 3.0) / rss_u
    out = m.select(
        *keys,
        F.round(fstat, round_to).alias("f_stat"),
        F.round(cc, round_to).alias("beta_x"),
        F.round(rss_u, round_to).alias("rss_u"),
        F.round(rss_r, round_to).alias("rss_r"),
        n.cast("long").alias("n"),
    )
    return LazyFrame(out)


def ljung_box(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    lags: int,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Ljung–Box portmanteau test (Ljung & Box 1978): Q = n(n+2)·Σ_{k≤K}
    r_k²/(n−k) ~ χ²(K) under "the series is white noise" — the standard
    residual-autocorrelation check after a forecast fit (holt_forecast /
    holt_winters residuals).  r_k is the CANONICAL ACF estimator
    (statsmodels/textbook): lag-k autocovariance over lag-0 variance,
    both centered on the FULL-series mean with n denominators —
    r_k = Σ_{t>k}(v_t−v̄)(v_{t−k}−v̄) / Σ_t(v_t−v̄)².  (The in-repo
    ``acf`` operator defaults to its documented pairwise-Pearson
    convention; ``acf(..., estimator="canonical")`` computes EXACTLY
    this r_k, so the two operators agree when asked — r11 ADVICE +
    r11 verdict #7, cross-checked in tests/test_timeseries_stats.)

    One window builds all K lag columns (per key, or distsort halo buckets
    when global — each bucket borrows its predecessor's last K rows), then
    ONE aggregate computes every centered cross-sum via expanded raw
    moments, and Q is column math on the 1-row result.  Output per key
    (or 1 row): q_stat, df, n."""
    if lags < 1:
        raise ValueError("lags must be >= 1")
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    filt = sdf.filter(v.isNotNull())
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col))
        staged = filt.select(
            *keys, v.alias("__v__"),
            *[F.lag(v, l).over(w).alias(f"__l{l}__") for l in range(1, lags + 1)],
        )
    else:
        from .distsort import with_halo_buckets

        haloed, bcol, halo_col = with_halo_buckets(filt, order_col, before=lags)
        w = Window.partitionBy(bcol).orderBy(F.col(order_col))
        staged = haloed.select(
            F.col(halo_col), v.alias("__v__"),
            *[F.lag(v, l).over(w).alias(f"__l{l}__") for l in range(1, lags + 1)],
        ).filter(~F.col(halo_col))
    lag_aggs = []
    for l in range(1, lags + 1):
        ll = F.col(f"__l{l}__")
        lag_aggs += [
            F.sum(F.col("__v__") * ll).alias(f"__sx{l}__"),
            F.sum(F.when(ll.isNotNull(), F.col("__v__"))).alias(f"__sc{l}__"),
            F.sum(ll).alias(f"__sl{l}__"),
            F.count(ll).cast("double").alias(f"__c{l}__"),
        ]
    agg = staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__v__").alias("__sv__"),
        F.sum(F.col("__v__") * F.col("__v__")).alias("__svv__"),
        *lag_aggs,
    )
    n = F.col("n")
    mean = F.col("__sv__") / n
    den = F.col("__svv__") - n * mean * mean
    qsum = None
    for l in range(1, lags + 1):
        # Σ(v_t−v̄)(v_{t−k}−v̄) over the (n−k) lagged pairs, expanded to
        # raw moments so the full-series mean centers BOTH factors
        s = (
            F.col(f"__sx{l}__")
            - mean * F.col(f"__sc{l}__")
            - mean * F.col(f"__sl{l}__")
            + F.col(f"__c{l}__") * mean * mean
        )
        r = s / den
        term = r * r / (n - float(l))
        qsum = term if qsum is None else qsum + term
    q = n * (n + 2.0) * qsum
    out = agg.select(
        *keys,
        F.round(q, round_to).alias("q_stat"),
        F.lit(int(lags)).alias("df"),
        n.cast("long").alias("n"),
    )
    return LazyFrame(out)


def holm_adjust(
    frame: "LazyFrame | SparkDF",
    p_col: str,
    id_cols: "list[str] | str | None" = None,
    adj_col: str = "p_adj",
    round_to: int = 6,
) -> LazyFrame:
    """Holm step-down adjustment (Holm 1979) — the FWER-controlling
    complement to bh_adjust's FDR: adjusted p₍ᵢ₎ = min(1, max_{j ≤ i}
    (m−j+1)·p₍ⱼ₎) over the ascending-p ranking (the cap commutes with the
    running max, so it applies once at the end).  Uniformly more powerful
    than Bonferroni at the same FWER.

    The prefix-max over ranked p's is an ASCENDING-p running max, the
    mirror of bh_adjust's descending suffix-min: range buckets ordered
    asc, driver PREFIX-MAX offsets (≤ nbuckets rows), within-bucket
    running-max window over ~1/nbuckets of the data — no single-partition
    window.  Null p-values drop.  Appends ``adj_col``."""
    from .distsort import with_bucket_offsets, with_prefix_folds

    sdf = _sdf(frame)
    pv = F.col(p_col).cast("double")
    base = sdf.filter(pv.isNotNull())
    offs, bcol, totals = with_bucket_offsets(base, p_col, {"c": F.lit(1)})
    m = float(totals["c"])
    tie = [F.col(c) for c in ([id_cols] if isinstance(id_cols, str) else (id_cols or []))]
    wa = Window.partitionBy(bcol).orderBy(pv.asc(), *[c.asc() for c in tie])
    rank_asc = F.col("__off_c__") + F.row_number().over(wa)
    raw = pv * (F.lit(m) - rank_asc + 1.0)
    staged, _maxes = with_prefix_folds(
        offs.withColumn("__raw__", raw), bcol, {"mx": F.col("__raw__")}, "max"
    )
    run_max = F.max("__raw__").over(
        wa.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adj = F.least(F.lit(1.0), F.greatest(F.col("__off_mx__"), run_max))
    out = staged.withColumn(adj_col, F.round(adj, round_to)).drop(
        bcol, "__off_c__", "__raw__", "__off_mx__"
    )
    return LazyFrame(out)


__all__.extend(
    ["kruskal_wallis", "breusch_pagan", "granger_lag1", "ljung_box", "holm_adjust"]
)


def by_adjust(
    frame: "LazyFrame | SparkDF",
    p_col: str,
    id_cols: "list[str] | str | None" = None,
    adj_col: str = "p_adj",
    round_to: int = 6,
) -> LazyFrame:
    """Benjamini–Yekutieli FDR adjustment (Benjamini & Yekutieli 2001) —
    BH's arbitrary-dependence-safe sibling: adjusted pᵢ = min(1,
    min_{j ≥ i} p₍ⱼ₎·m·H_m/j) with the harmonic number H_m = Σ_{i≤m} 1/i.
    Use when the tests are correlated in unknown ways (overlapping slices,
    one metric under many segmentations); costs ~ln(m) power vs BH.

    Same distsort machinery as bh_adjust (range buckets + driver
    prefix-min offsets — no single-partition window); the only difference
    is the H_m factor inside the suffix-min, which commutes because it is
    a positive constant.  Appends ``adj_col``."""
    return bh_adjust(
        frame, p_col, id_cols=id_cols, adj_col=adj_col, round_to=round_to,
        _harmonic=True,
    )


def friedman_test(
    frame: "LazyFrame | SparkDF",
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Friedman rank test (Friedman 1937) — "do k treatments differ, with
    blocks as their own controls?": the repeated-measures companion to
    kruskal_wallis (continuous outcomes) and cochran_q (binary).  Within
    each complete block the k cell values get average-tie ranks; the
    tie-general (Conover) statistic
    χ²_F = (k−1)·Σ_j(R_j − n(k+1)/2)² / (Σ_ij r_ij² − n·k(k+1)²/4)
    ~ χ²(k−1) under H₀ (equals the classic 12/(nk(k+1))·ΣR_j² − 3n(k+1)
    when no ties).  Duplicate (block, treatment) cells average; k is fixed
    from the full cell table BEFORE the complete-case filter (the
    cochran_q convention) and blocks missing any treatment drop — raises
    when no complete block survives.

    One (block, treatment) groupBy, per-block rank windows (parallelism =
    #blocks — the natural shard), two fused reduces.  Output (1 row):
    chi2, df, n_blocks, k."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    cells = (
        sdf.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & v.isNotNull()
        )
        .groupBy(F.col(block_col).alias("__b__"), F.col(treatment_col).alias("__t__"))
        .agg(F.avg(v).alias("__v__"))
    )

    cells = register_cache(cells)
    k_val = cells.select(F.countDistinct("__t__").alias("k")).first()["k"]
    if k_val < 2:
        raise ValueError("friedman_test needs at least 2 treatments")
    sizes = cells.groupBy("__b__").agg(F.count(F.lit(1)).alias("__kt__"))
    complete = cells.join(
        sizes.filter(F.col("__kt__") == k_val).select("__b__"), "__b__"
    )
    if complete.isEmpty():
        raise ValueError(
            "friedman_test: no complete blocks — every block is missing at "
            "least one of the k treatments (k is fixed from the full cell "
            "table before the complete-case filter)"
        )
    wb = Window.partitionBy("__b__")
    rk = F.rank().over(wb.orderBy(F.col("__v__").asc()))
    ties = F.count(F.lit(1)).over(wb.orderBy(F.col("__v__").asc()).rangeBetween(0, 0))
    ranked = complete.select(
        "__b__", "__t__", (rk + (ties - F.lit(1)) / 2.0).alias("__r__")
    )
    ranked = register_cache(ranked)
    # treatment rank sums over the (tiny) per-treatment table -> ONE number
    # via a second reduce; n_blocks and Σr² ride the same row-level reduce
    tstats = ranked.groupBy("__t__").agg(F.sum("__r__").alias("__R__"))
    k = float(k_val)
    m = ranked.agg(
        (F.count(F.lit(1)) / k).cast("double").alias("nb"),
        F.sum(F.col("__r__") * F.col("__r__")).alias("sr2"),
    ).first()
    nb_val = float(m["nb"])
    sr2_val = float(m["sr2"])
    num_val = float(
        tstats.agg(
            F.sum(
                (F.col("__R__") - F.lit(nb_val * (k + 1.0) / 2.0))
                * (F.col("__R__") - F.lit(nb_val * (k + 1.0) / 2.0))
            )
        ).first()[0]
    )
    den = sr2_val - nb_val * k * (k + 1.0) * (k + 1.0) / 4.0
    if den <= 0:
        raise ValueError("friedman_test: all ranks tied — statistic undefined")
    chi2 = (k - 1.0) * num_val / den
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(chi2, round_to), int(k_val - 1), int(nb_val), int(k_val))],
        "chi2 double, df int, n_blocks int, k int",
    )
    return LazyFrame(out)


def wilcoxon_signed_rank(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) — paired two-sample
    location test without normality: rank |x−y| over all non-zero pairs
    (average ties), W⁺ = Σ ranks where x>y, and the normal approximation
    z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48) with the
    standard tie correction.  Zero differences drop (Wilcoxon's rule);
    no continuity correction (matches scipy mode='approx', correction=False).

    The global |d| ranking rides the spearman_corr construction: a
    distinct-value count table in range buckets + driver prefix offsets
    gives every value its average rank (no single-partition window), the
    tie term is one reduce over the same table, and ranks join back on the
    value.  Output (1 row): w_plus, w_minus, z, n."""
    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = (
        sdf.filter(x.isNotNull() & y.isNotNull())
        .select((x - y).alias("__d__"))
        .filter(F.col("__d__") != 0)
        .select(F.abs("__d__").alias("__a__"), (F.col("__d__") > 0).alias("__pos__"))
    )
    from .distsort import with_bucket_offsets

    base = register_cache(base)
    # persisted: the boundary sketch and the offsets aggregate each read it
    d = register_cache(base.groupBy("__a__").agg(F.count(F.lit(1)).alias("__cnt__")))
    # the tie term Σ(c³−c) rides the SAME per-bucket aggregate as the
    # prefix offsets (with_prefix_offsets returns grand totals), so the
    # separate tie-scalar job the r11 version ran is fused away
    d3, gb, _tot = with_bucket_offsets(
        d,
        "__a__",
        {
            "cnt": F.col("__cnt__"),
            "tie": (
                F.col("__cnt__").cast("double") * F.col("__cnt__") * F.col("__cnt__")
                - F.col("__cnt__")
            ),
        },
    )
    d3 = register_cache(d3)
    wexcl = (
        Window.partitionBy(gb)
        .orderBy(F.col("__a__"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumb = F.col("__off_cnt__") + F.coalesce(F.sum("__cnt__").over(wexcl), F.lit(0))
    ranks = d3.select(
        "__a__", (cumb + (F.col("__cnt__") + F.lit(1)) / 2.0).alias("__r__")
    )
    tie_val = float(_tot["tie"] or 0.0)
    joined = base.join(ranks, "__a__")
    m = joined.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("__pos__"), F.col("__r__"))).alias("wp"),
        F.sum(F.when(~F.col("__pos__"), F.col("__r__"))).alias("wm"),
    )
    n = F.col("n")
    mu = n * (n + 1.0) / 4.0
    var = n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - F.lit(tie_val) / 48.0
    wp = F.coalesce(F.col("wp"), F.lit(0.0))
    wm = F.coalesce(F.col("wm"), F.lit(0.0))
    z = F.when(var > 0, (wp - mu) / F.sqrt(var)).otherwise(
        F.raise_error(
            F.lit("wilcoxon_signed_rank: zero rank variance (all |d| tied "
                  "into one group of <2 pairs)")
        ).cast("double")
    )
    out = m.select(
        F.round(wp, round_to).alias("w_plus"),
        F.round(wm, round_to).alias("w_minus"),
        F.round(z, round_to).alias("z"),
        n.cast("long").alias("n"),
    )
    return LazyFrame(out)


def tost_equivalence(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    low: float,
    high: float,
    round_to: int = 6,
) -> LazyFrame:
    """Two One-Sided Tests equivalence procedure (Schuirmann 1987) over a
    Welch unequal-variance frame: are two groups equivalent WITHIN the
    margin [low, high]?  t_lower = (Δ − low)/se tests Δ > low, t_upper =
    (Δ − high)/se tests Δ < high; equivalence at level α iff t_lower ≥
    t₁₋α(df) AND t_upper ≤ −t₁₋α(df) — the A/B "no worse than" check that
    a plain t-test cannot give (failing to reject ≠ equivalent).  Feed
    (t, df) to a t CDF driver-side for p-values (the welch_ttest
    convention).

    ONE fused aggregate (same six sums as welch_ttest).  Output (1 row):
    diff, se, t_lower, t_upper, df, n_a, n_b."""
    if not low < high:
        raise ValueError("tost_equivalence needs low < high")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    agg = sdf.filter(g.isin([group_a, group_b])).agg(
        F.avg(F.when(g == group_a, v)).alias("ma"),
        F.avg(F.when(g == group_b, v)).alias("mb"),
        F.var_samp(F.when(g == group_a, v)).alias("va"),
        F.var_samp(F.when(g == group_b, v)).alias("vb"),
        F.count(F.when(g == group_a, v)).cast("double").alias("na"),
        F.count(F.when(g == group_b, v)).cast("double").alias("nb"),
    )
    sa = F.col("va") / F.col("na")
    sb = F.col("vb") / F.col("nb")
    se = F.sqrt(sa + sb)
    diff = F.col("ma") - F.col("mb")
    df_ = (sa + sb) * (sa + sb) / (
        sa * sa / (F.col("na") - 1) + sb * sb / (F.col("nb") - 1)
    )
    out = agg.select(
        F.round(diff, round_to).alias("diff"),
        F.round(se, round_to).alias("se"),
        F.round((diff - F.lit(float(low))) / se, round_to).alias("t_lower"),
        F.round((diff - F.lit(float(high))) / se, round_to).alias("t_upper"),
        F.round(df_, round_to).alias("df"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )
    return LazyFrame(out)


__all__.extend(
    ["by_adjust", "friedman_test", "wilcoxon_signed_rank", "tost_equivalence"]
)


def _norm_cdf(z):
    """Standard normal CDF via the Abramowitz & Stegun 26.2.17 polynomial
    (|error| < 7.5e-8) — Spark has no erf, so the SAME closed-form
    polynomial is used here and in the DuckDB oracles (bit-comparable by
    construction).  Column-in, column-out."""
    az = F.abs(z)
    k = 1.0 / (1.0 + 0.2316419 * az)
    poly = k * (
        0.319381530
        + k * (-0.356563782 + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429)))
    )
    pdf = F.exp(-az * az / 2.0) / math.sqrt(2.0 * math.pi)
    upper = 1.0 - pdf * poly
    return F.when(z >= 0, upper).otherwise(1.0 - upper)


def anderson_darling(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Anderson–Darling normality statistic (Anderson & Darling 1952, the
    tail-weighted ECDF test — more sensitive than ks_test exactly where
    data pipelines break, in the tails): with sample-estimated mean/sd
    (Stephens case 3) and ascending positions i,
    A² = −n − (1/n)·Σᵢ[(2i−1)·lnΦ(zᵢ) + (2(n−i)+1)·ln(1−Φ(zᵢ))],
    plus the finite-sample correction A*² = A²(1 + 0.75/n + 2.25/n²);
    compare A*² against Stephens' normality critical values (0.752 at 5%).
    Φ is the A&S 26.2.17 polynomial (see _norm_cdf) so the oracle can
    replay it exactly.  Tied values contribute a tie-order-invariant sum
    (equal Φ, and Σ(2i−1) over a tie block is fixed), so the statistic is
    deterministic under ties.

    Mean/sd are plan literals from one fused reduce; positions ride
    distsort range buckets + driver prefix offsets (the holm_adjust
    construction) — no single-partition window at any n.  Output (1 row):
    a2, a2_star, mean, sd, n."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    # persisted: the moments reduce, the boundary sketch, the offsets
    # aggregate and the final pass otherwise each re-ran the input scan
    base = register_cache(sdf.filter(v.isNotNull()).select(v.alias("__v__")))
    mrow = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("__v__").alias("mu"),
        F.stddev_samp("__v__").alias("sd"),
    ).first()
    n_val, mu_val, sd_val = float(mrow["n"]), mrow["mu"], mrow["sd"]
    if n_val < 2 or sd_val is None or sd_val <= 0:
        raise ValueError("anderson_darling: needs n >= 2 and nonzero variance")
    sd_val = float(sd_val)
    offs, bcol, _tot = with_bucket_offsets(base, "__v__", {"c": F.lit(1)})
    wi = Window.partitionBy(bcol).orderBy(F.col("__v__").asc())
    pos = F.col("__off_c__") + F.row_number().over(wi)
    z = (F.col("__v__") - F.lit(float(mu_val))) / F.lit(sd_val)
    cdf = _norm_cdf(z)
    # clamp: the polynomial can underflow to exactly 0/1 ~8 sigma out,
    # where ln() would be -inf; 1e-300 keeps the term finite and exact
    # everywhere the approximation itself is meaningful
    cdf = F.greatest(F.least(cdf, F.lit(1.0 - 1e-15)), F.lit(1e-300))
    term = (2.0 * pos - 1.0) * F.log(cdf) + (
        2.0 * (F.lit(n_val) - pos) + 1.0
    ) * F.log(1.0 - cdf)
    srow = offs.select(term.alias("__t__")).agg(F.sum("__t__")).first()
    a2 = -n_val - float(srow[0]) / n_val
    a2s = a2 * (1.0 + 0.75 / n_val + 2.25 / (n_val * n_val))
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(a2, round_to), round(a2s, round_to),
            round(float(mu_val), round_to), round(sd_val, round_to),
            int(n_val),
        )],
        "a2 double, a2_star double, mean double, sd double, n bigint",
    )
    return LazyFrame(out)


__all__.extend(["anderson_darling"])


def brunner_munzel(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Brunner–Munzel test (Brunner & Munzel 2000) — the rank-based
    two-sample test WITHOUT mann_whitney_u's equal-variance assumption
    (the "nonparametric Behrens–Fisher problem"): tests P(A<B)+½P(A=B) =
    ½ using midranks, group-wise variance estimates, and Satterthwaite
    df.  Prefer it over Mann–Whitney when the two groups have different
    spread/shape (the common real case for latency or revenue metrics).

    W = n_a·n_b·(R̄_b − R̄_a) / ((n_a+n_b)·√(n_a·S_a² + n_b·S_b²)), with
    S_i² the sample variance of (combined midrank − within-group midrank)
    in group i and p̂ = (R̄_b − (n_b+1)/2)/n_a the stochastic-superiority
    estimate.

    Combined midranks ride the spearman/wilcoxon distsort rank-table
    construction; within-group midranks get the same treatment, one
    prefix offset per group (≤ nbuckets rows) — no single-partition
    window on either ranking.  Output (1 row): w, df,
    p_hat, mean_rank_a, mean_rank_b, n_a, n_b."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = sdf.filter(v.isNotNull() & g.isin([group_a, group_b])).select(
        F.when(g == group_a, F.lit("a")).otherwise(F.lit("b")).alias("__g__"),
        v.alias("__v__"),
    )
    base = register_cache(base)

    # combined midranks from the global distinct-value table (persisted:
    # sketch + offsets both read it)
    cells = register_cache(
        base.groupBy("__v__").agg(F.count(F.lit(1)).alias("__cnt__"))
    )
    from .distsort import with_bucket_offsets

    cells2, gb, _tot = with_bucket_offsets(cells, "__v__", {"cnt": F.col("__cnt__")})
    wexcl = (
        Window.partitionBy(gb)
        .orderBy(F.col("__v__"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumb = F.col("__off_cnt__") + F.coalesce(F.sum("__cnt__").over(wexcl), F.lit(0))
    comb = cells2.select(
        "__v__", (cumb + (F.col("__cnt__") + F.lit(1)) / 2.0).alias("__R__")
    )

    # within-group midranks: (group, value) cells over their own buckets;
    # the per-bucket rows carry BOTH groups' counts (sa, sb) and each cell
    # reads its own group's offset
    gcells = register_cache(
        base.groupBy("__g__", "__v__").agg(F.count(F.lit(1)).alias("__c__"))
    )
    gcells, gb2, _tot2 = with_bucket_offsets(
        gcells, "__v__",
        {
            "sa": F.when(F.col("__g__") == "a", F.col("__c__")).otherwise(F.lit(0)),
            "sb": F.when(F.col("__g__") == "b", F.col("__c__")).otherwise(F.lit(0)),
        },
    )
    off2 = F.when(F.col("__g__") == "a", F.col("__off_sa__")).otherwise(
        F.col("__off_sb__")
    )
    wexcl2 = (
        Window.partitionBy("__g__", gb2)
        .orderBy(F.col("__v__"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cumb2 = off2 + F.coalesce(F.sum("__c__").over(wexcl2), F.lit(0))
    within = gcells.select(
        "__g__", "__v__", (cumb2 + (F.col("__c__") + F.lit(1)) / 2.0).alias("__wr__")
    )

    joined = base.join(comb, "__v__").join(within, ["__g__", "__v__"])
    d = F.col("__R__") - F.col("__wr__")
    m = joined.agg(
        F.count(F.when(F.col("__g__") == "a", 1)).cast("double").alias("na"),
        F.count(F.when(F.col("__g__") == "b", 1)).cast("double").alias("nb"),
        F.avg(F.when(F.col("__g__") == "a", F.col("__R__"))).alias("ra"),
        F.avg(F.when(F.col("__g__") == "b", F.col("__R__"))).alias("rb"),
        F.var_samp(F.when(F.col("__g__") == "a", d)).alias("sa2"),
        F.var_samp(F.when(F.col("__g__") == "b", d)).alias("sb2"),
    )
    na, nb = F.col("na"), F.col("nb")
    va = na * F.col("sa2")
    vb = nb * F.col("sb2")
    w = F.when(
        va + vb > 0,
        na * nb * (F.col("rb") - F.col("ra")) / ((na + nb) * F.sqrt(va + vb)),
    ).otherwise(
        F.raise_error(
            F.lit("brunner_munzel: zero rank variance in both groups "
                  "(degenerate input)")
        ).cast("double")
    )
    df_ = (va + vb) * (va + vb) / (va * va / (na - 1.0) + vb * vb / (nb - 1.0))
    p_hat = (F.col("rb") - (nb + 1.0) / 2.0) / na
    out = m.select(
        F.round(w, round_to).alias("w"),
        F.round(df_, round_to).alias("df"),
        F.round(p_hat, round_to).alias("p_hat"),
        F.round("ra", round_to).alias("mean_rank_a"),
        F.round("rb", round_to).alias("mean_rank_b"),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
    )
    return LazyFrame(out)


__all__.append("brunner_munzel")
