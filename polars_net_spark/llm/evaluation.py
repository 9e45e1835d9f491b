"""Classifier evaluation at corpus scale: calibration, ROC-AUC, thresholded
P/R/F1.  The evaluation half of the quality-filter loop (train_linear_quality
fits the model, linear_quality_score_frame serves it — these measure it), all
as aggregate/window compositions with exact closed forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from .._arrow import map_batches
from ..frame import LazyFrame

__all__ = ["calibration_report", "roc_auc", "prf1_report", "expected_calibration_error", "ndcg_at_k", "average_precision", "calibrate_isotonic", "apply_isotonic", "mrr_at_k", "recall_at_k", "classification_loss", "lift_table"]


def _sdf(frame):
    return frame if isinstance(frame, SparkDF) else frame.spark


def calibration_report(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Reliability table: scores cut into ``n_bins`` equal-width bins over
    [0, 1]; per bin the mean predicted score, observed positive rate, count,
    and |gap| — the rows of a reliability diagram, whose count-weighted gap
    sum is the expected calibration error (ECE).  One map-side-combining
    aggregate.  Scores outside [0, 1] clamp into the edge bins."""
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor(s * n_bins).cast("int")),
    )
    out = (
        sdf.filter(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.round(F.avg(s), round_to).alias("mean_score"),
            F.round(F.avg(y), round_to).alias("pos_rate"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.abs(F.avg(s) - F.avg(y)), round_to).alias("abs_gap"),
        )
    )
    return LazyFrame(out)


def roc_auc(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Exact ROC-AUC via the rank statistic: AUC = (R⁺ − n⁺(n⁺+1)/2) /
    (n⁺·n⁻) with tie-averaged ranks (equivalent to the trapezoidal ROC
    integral, ties handled as half-credit).  Per ``by`` key the window keys
    shard the ordering; the GLOBAL path (``by=None``) never runs a
    single-partition window: scores collapse to a distinct-score count table
    (the rank statistic only needs per-score (count, positives)), whose
    global cumulative counts come from deterministic range buckets + driver
    prefix totals (operators/distsort.py) — every task holds ~1/nbuckets of
    the DISTINCT scores.  Keys with only one class yield null AUC.
    Output: [keys...,] auc, n_pos, n_neg."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = sdf.filter(s.isNotNull() & y.isNotNull()).select(
        *keys, s.alias("__s__"), (y > 0).cast("int").alias("__y__")
    )
    if keys:
        wp = Window.partitionBy(*keys)
        w = wp.orderBy(F.col("__s__"))
        rk = F.rank().over(w)
        ties = F.count(F.lit(1)).over(wp.orderBy(F.col("__s__")).rangeBetween(0, 0))
        avg_rank = rk + (ties - F.lit(1)) / 2.0
        ranked = base.select(*keys, "__y__", avg_rank.alias("__r__"))
        agg = ranked.groupBy(*keys).agg(
            F.sum(F.when(F.col("__y__") == 1, F.col("__r__"))).alias("rp"),
            F.count(F.when(F.col("__y__") == 1, F.lit(1))).cast("double").alias("np"),
            F.count(F.when(F.col("__y__") == 0, F.lit(1))).cast("double").alias("nn"),
        )
    else:
        from .._cache import register_cache
        from ..operators.distsort import with_bucket_offsets

        # distinct-score sufficient statistics: avg_rank of a tie group of
        # size t starting after c earlier rows is c + (t+1)/2, so
        # Σ⁺avg_rank = Σ_groups pos · (cum_before + (cnt+1)/2) — exact
        # half-integer arithmetic, identical to the per-row rank window
        d = register_cache(
            base.groupBy("__s__").agg(
                F.count(F.lit(1)).alias("__cnt__"),
                F.sum("__y__").alias("__pos__"),
            )
        )
        d3, gb, _tot = with_bucket_offsets(d, "__s__", {"cnt": F.col("__cnt__")})
        wexcl = (
            Window.partitionBy(gb)
            .orderBy(F.col("__s__"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cumb = F.col("__off_cnt__") + F.coalesce(
            F.sum("__cnt__").over(wexcl), F.lit(0)
        )
        avg_rank = cumb + (F.col("__cnt__") + F.lit(1)) / 2.0
        staged = d3.select(
            "__cnt__", "__pos__", avg_rank.alias("__r__")
        )
        agg = staged.agg(
            F.sum(F.when(F.col("__pos__") > 0, F.col("__pos__") * F.col("__r__"))).alias("rp"),
            F.coalesce(F.sum("__pos__"), F.lit(0)).cast("double").alias("np"),
            F.coalesce(
                F.sum(F.col("__cnt__") - F.col("__pos__")), F.lit(0)
            ).cast("double").alias("nn"),
        )
    auc = F.when(
        (F.col("np") > 0) & (F.col("nn") > 0),
        (F.col("rp") - F.col("np") * (F.col("np") + 1) / 2) / (F.col("np") * F.col("nn")),
    )
    out = agg.select(
        *keys,
        F.round(auc, round_to).alias("auc"),
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
    )
    return LazyFrame(out)


def prf1_report(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    thresholds: "list[float]",
    round_to: int = 6,
) -> LazyFrame:
    """Precision/recall/F1/accuracy at each threshold — ALL thresholds from
    ONE scan (one conditional-count aggregate per threshold, fused in a
    single agg; long-format output).  Empty-prediction thresholds yield null
    precision/F1 rather than dividing by zero."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("int")
    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull())
    aggs = []
    for i, t in enumerate(thresholds):
        pred = (s >= F.lit(float(t))).cast("int")
        aggs += [
            F.sum(pred * y).alias(f"__tp{i}__"),
            F.sum(pred * (1 - y)).alias(f"__fp{i}__"),
            F.sum((1 - pred) * y).alias(f"__fn{i}__"),
            F.sum((1 - pred) * (1 - y)).alias(f"__tn{i}__"),
        ]
    one = base.agg(*aggs)
    rows = []
    for i, t in enumerate(thresholds):
        tp, fp = F.col(f"__tp{i}__"), F.col(f"__fp{i}__")
        fn, tn = F.col(f"__fn{i}__"), F.col(f"__tn{i}__")
        prec = F.when(tp + fp > 0, tp / (tp + fp))
        rec = F.when(tp + fn > 0, tp / (tp + fn))
        f1 = F.when(
            prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
            2 * prec * rec / (prec + rec),
        )
        acc = (tp + tn) / (tp + fp + fn + tn)
        rows.append(
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.round(prec, round_to).alias("precision"),
                F.round(rec, round_to).alias("recall"),
                F.round(f1, round_to).alias("f1"),
                F.round(acc, round_to).alias("accuracy"),
                tp.cast("long").alias("tp"),
                fp.cast("long").alias("fp"),
                fn.cast("long").alias("fn"),
                tn.cast("long").alias("tn"),
            )
        )
    entries = F.explode(F.array(*rows))
    out = one.select(entries.alias("e")).select("e.*")
    return LazyFrame(out)


def expected_calibration_error(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """ECE in one row: the count-weighted |pos_rate − mean_score| over the
    reliability bins of :func:`calibration_report`, plus the max gap (MCE)
    and n."""
    rep = calibration_report(
        frame, score_col, label_col, n_bins=n_bins, round_to=12
    ).spark
    out = rep.agg(
        F.round(
            F.sum(F.col("abs_gap") * F.col("n")) / F.sum("n"), round_to
        ).alias("ece"),
        F.round(F.max("abs_gap"), round_to).alias("mce"),
        F.sum("n").cast("long").alias("n"),
    )
    return LazyFrame(out)


def ndcg_at_k(
    frame: "LazyFrame | SparkDF",
    query_col: str,
    score_col: str,
    relevance_col: str,
    k: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """NDCG@k per query: DCG of the model's top-k (by score, tie-broken by
    relevance DESC then arbitrary-but-deterministic is NOT enough — callers
    must ensure a deterministic total order; here ties break by relevance
    then by score row order via relevance desc) over the ideal DCG of the
    top-k relevances.  Standard log2 discount, gain = relevance (linear).
    Two windows per query partition (model order, ideal order) — one
    query-keyed shuffle.  Queries with zero total relevance yield null.
    """
    sdf = _sdf(frame)
    q = F.col(query_col)
    s = F.col(score_col).cast("double")
    r = F.col(relevance_col).cast("double")
    base = sdf.filter(s.isNotNull() & r.isNotNull()).select(
        q.alias("__q__"), s.alias("__s__"), r.alias("__r__")
    )
    w_model = Window.partitionBy("__q__").orderBy(
        F.col("__s__").desc(), F.col("__r__").desc()
    )
    w_ideal = Window.partitionBy("__q__").orderBy(F.col("__r__").desc())
    pos_m = F.row_number().over(w_model)
    pos_i = F.row_number().over(w_ideal)
    disc_m = F.when(pos_m <= k, F.col("__r__") / F.log2(pos_m + 1)).otherwise(0.0)
    disc_i = F.when(pos_i <= k, F.col("__r__") / F.log2(pos_i + 1)).otherwise(0.0)
    agg = base.select("__q__", disc_m.alias("dm"), disc_i.alias("di")).groupBy(
        "__q__"
    ).agg(F.sum("dm").alias("dcg"), F.sum("di").alias("idcg"))
    out = agg.select(
        F.col("__q__").alias(query_col),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")), round_to
        ).alias("ndcg"),
    )
    return LazyFrame(out)


def mrr_at_k(
    frame: "LazyFrame | SparkDF",
    query_col: str,
    score_col: str,
    relevance_col: str,
    k: int = 10,
    rel_threshold: float = 0.5,
    round_to: int = 6,
) -> LazyFrame:
    """Reciprocal rank of the FIRST relevant result in the model's top-k,
    per query — the retrieval-eval companion to :func:`ndcg_at_k` (averaging
    the ``rr`` column gives MRR@k).  A row is relevant when
    ``relevance_col > rel_threshold``.  Ties in score break by relevance
    DESC (optimistic, same convention as ndcg_at_k/average_precision), which
    makes ``rr`` tie-invariant: equal-scored relevant rows share the same
    first-relevant position.  Queries with no relevant result in the top-k
    get rr = 0 (never null, so the mean IS the MRR).

    One query-keyed window + one aggregate — the ordering shards on the
    query key, no global sort."""
    sdf = _sdf(frame)
    q = F.col(query_col)
    s = F.col(score_col).cast("double")
    r = F.col(relevance_col).cast("double")
    base = sdf.filter(s.isNotNull() & r.isNotNull()).select(
        q.alias("__q__"), s.alias("__s__"), r.alias("__r__")
    )
    w = Window.partitionBy("__q__").orderBy(F.col("__s__").desc(), F.col("__r__").desc())
    pos = F.row_number().over(w)
    rel = F.col("__r__") > rel_threshold
    rr_cand = F.when(rel & (pos <= k), 1.0 / pos).otherwise(0.0)
    out = (
        base.select("__q__", rr_cand.alias("rrc"))
        .groupBy("__q__")
        .agg(F.round(F.max("rrc"), round_to).alias("rr"))
        .select(F.col("__q__").alias(query_col), "rr")
    )
    return LazyFrame(out)


def recall_at_k(
    frame: "LazyFrame | SparkDF",
    query_col: str,
    score_col: str,
    relevance_col: str,
    k: int = 10,
    rel_threshold: float = 0.5,
    round_to: int = 6,
) -> LazyFrame:
    """Recall@k per query: (# relevant results in the model's top-k) /
    (# relevant results overall).  Relevance and tie conventions as
    :func:`mrr_at_k`; the relevance-DESC tiebreak makes the top-k relevant
    COUNT deterministic even when equal scores straddle the k boundary.
    Queries with zero relevant results yield null (undefined recall).

    One query-keyed window + one aggregate — shards on the query key."""
    sdf = _sdf(frame)
    q = F.col(query_col)
    s = F.col(score_col).cast("double")
    r = F.col(relevance_col).cast("double")
    base = sdf.filter(s.isNotNull() & r.isNotNull()).select(
        q.alias("__q__"), s.alias("__s__"), r.alias("__r__")
    )
    w = Window.partitionBy("__q__").orderBy(F.col("__s__").desc(), F.col("__r__").desc())
    pos = F.row_number().over(w)
    rel = (F.col("__r__") > rel_threshold).cast("double")
    agg = (
        base.select("__q__", rel.alias("rel"), F.when(pos <= k, rel).otherwise(0.0).alias("hit"))
        .groupBy("__q__")
        .agg(F.sum("hit").alias("hits"), F.sum("rel").alias("n_rel"))
    )
    out = agg.select(
        F.col("__q__").alias(query_col),
        F.round(
            F.when(F.col("n_rel") > 0, F.col("hits") / F.col("n_rel")), round_to
        ).alias("recall"),
        F.col("n_rel").cast("long").alias("n_rel"),
    )
    return LazyFrame(out)


def average_precision(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Average precision (area under the precision–recall curve, step
    interpolation): AP = Σ_k precision@k · 1[rel_k] / n⁺ over the model
    ordering — the imbalance-robust companion to ROC-AUC.  Ties in score
    break by label DESC (the optimistic convention — document order is not
    defined distributed; fully tied scores give the optimistic AP).  Per
    ``by`` key the window keys shard the ordering; the GLOBAL path
    (``by=None``) shards the desc-score ordering over deterministic range
    buckets (operators/distsort.py) — global k and cumulative positives are
    bucket-prefix totals + a within-bucket window, no single-partition
    WindowExec."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("int")
    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull()).select(
        *keys, s.alias("__s__"), y.alias("__y__")
    )
    if keys:
        wp = Window.partitionBy(*keys)
        w = wp.orderBy(F.col("__s__").desc(), F.col("__y__").desc())
        k = F.row_number().over(w)
        cum_pos = F.sum("__y__").over(w.rowsBetween(Window.unboundedPreceding, 0))
    else:
        from .._cache import register_cache
        from ..operators.distsort import with_bucket_offsets

        base = register_cache(base)
        base, gb, _tot = with_bucket_offsets(
            base, "__s__", {"cnt": F.lit(1), "pos": F.col("__y__")}, desc=True
        )
        # ties of __s__ share a bucket (bucket id is a function of the
        # score), so the within-bucket label-desc tie-break is global
        w = Window.partitionBy(gb).orderBy(
            F.col("__s__").desc(), F.col("__y__").desc()
        )
        k = F.col("__off_cnt__") + F.row_number().over(w)
        cum_pos = F.col("__off_pos__") + F.sum("__y__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    contrib = F.when(F.col("__y__") == 1, cum_pos / k).otherwise(0.0)
    agg = base.select(*keys, "__y__", contrib.alias("__c__")).groupBy(*keys).agg(
        F.sum("__c__").alias("ap_sum"),
        F.sum("__y__").cast("double").alias("np"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    out = agg.select(
        *keys,
        F.round(F.when(F.col("np") > 0, F.col("ap_sum") / F.col("np")), round_to).alias(
            "average_precision"
        ),
        F.col("np").cast("long").alias("n_pos"),
        F.col("n"),
    )
    return LazyFrame(out)


def calibrate_isotonic(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
) -> LazyFrame:
    """Fit isotonic (PAVA) calibration of P(label | score) with Spark
    MLlib's distributed IsotonicRegression — the step after training a
    quality filter (train_linear_quality) when its scores must act as
    probabilities.  Returns the calibration map as a (boundary, prediction)
    frame — plain data, serveable anywhere (:func:`apply_isotonic` replays
    it as pure Column math; no MLlib at serve time, mirroring the
    train/serve split of the linear quality filter).  Test-gated: PAVA has
    no closed SQL form (documented weaker-check class)."""
    from pyspark.ml.regression import IsotonicRegression

    sdf = _sdf(frame)
    prepared = sdf.select(
        F.col(score_col).cast("double").alias("features"),
        F.col(label_col).cast("double").alias("label"),
    ).dropna()
    model = IsotonicRegression(
        featuresCol="features", labelCol="label", isotonic=True
    ).fit(prepared)
    bounds = [float(b) for b in model.boundaries]
    preds = [float(p) for p in model.predictions]
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        list(zip(bounds, preds)), "boundary double, prediction double"
    )
    return LazyFrame(out)


def apply_isotonic(
    frame: "LazyFrame | SparkDF",
    calibration: "LazyFrame | SparkDF",
    score_col: str,
    out_col: str = "calibrated",
) -> LazyFrame:
    """Apply a :func:`calibrate_isotonic` map: piecewise-LINEAR
    interpolation between the (boundary, prediction) knots, clamped at the
    ends — MLlib's own transform semantics, replayed as pure Column math
    over the broadcast knot arrays (an O(#knots) array scan per row; the
    knot count is bounded by the PAVA pool count — collect contract
    documented)."""
    sdf = _sdf(frame)
    cal = _sdf(calibration).orderBy("boundary").collect()
    bs = [r["boundary"] for r in cal]
    ps = [r["prediction"] for r in cal]
    if not bs:
        raise ValueError("empty calibration map")
    s = F.col(score_col).cast("double")
    barr = F.array(*[F.lit(b) for b in bs])
    # idx = #boundaries <= s  (0 -> below the first knot)
    idx = F.size(F.filter(barr, lambda b: b <= s))
    lo_b = F.element_at(barr, F.greatest(idx, F.lit(1)))
    hi_b = F.element_at(barr, F.least(idx + 1, F.lit(len(bs))))
    parr = F.array(*[F.lit(p) for p in ps])
    lo_p = F.element_at(parr, F.greatest(idx, F.lit(1)))
    hi_p = F.element_at(parr, F.least(idx + 1, F.lit(len(ps))))
    frac = F.when(hi_b > lo_b, (s - lo_b) / (hi_b - lo_b)).otherwise(F.lit(0.0))
    interp = lo_p + frac * (hi_p - lo_p)
    value = (
        F.when(s <= F.lit(bs[0]), F.lit(ps[0]))
        .when(s >= F.lit(bs[-1]), F.lit(ps[-1]))
        .otherwise(interp)
    )
    return LazyFrame(sdf.withColumn(out_col, value))


def classification_loss(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    by: "str | list[str] | None" = None,
    eps: float = 1e-15,
    round_to: int = 6,
) -> LazyFrame:
    """Proper-scoring-rule losses for a probabilistic classifier in ONE fused
    aggregate: log-loss (cross-entropy with probabilities clipped to
    [eps, 1-eps] so a confident miss stays finite), Brier score
    (mean squared error of the probability), plus n and the positive rate.

    Complements the threshold metrics of :func:`prf1_report` and the ranking
    metrics of :func:`roc_auc` — these score the probability VALUES, which is
    what a quality-filter threshold transfer between corpora depends on.

    Global (``by=None``) is a single all-reduce aggregate; per-key shards on
    the key.  Output size is 1 row (or one per key) regardless of input size —
    no collect, no window.  Rows with a null score or label are excluded.
    """
    sdf = _sdf(frame)
    p = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("double")
    base = sdf.filter(p.isNotNull() & F.col(label_col).isNotNull())
    pc = F.least(F.greatest(p, F.lit(float(eps))), F.lit(1.0 - float(eps)))
    ll = -(y * F.log(pc) + (1.0 - y) * F.log(1.0 - pc))
    aggs = [
        F.round(F.avg(ll), round_to).alias("log_loss"),
        F.round(F.avg((p - y) * (p - y)), round_to).alias("brier"),
        F.round(F.avg(y), round_to).alias("pos_rate"),
        F.count(F.lit(1)).alias("n"),
    ]
    if by is None:
        out = base.agg(*aggs)
    else:
        keys = [by] if isinstance(by, str) else list(by)
        out = base.groupBy(*keys).agg(*aggs)
    return LazyFrame(out)


def lift_table(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Decile lift / cumulative-gains table: rows bucketed by exact score
    quantiles (bin 1 = highest scores), per bin the positive rate, lift vs
    the base rate, and cumulative gain/lift walking down from the top —
    "how much better than random is my top 10/20/30%", the campaign- and
    filter-targeting readout beside ROC-AUC.

    Quantile edges come from distsort ``exact_quantiles`` (identical
    values to the exact-percentile aggregate they replace — Spark's
    interpolation bit-for-bit — without the single merging reducer that
    buffers every score on one task at 100 TB) and ride the bin math as
    literals; binning is a count of edges ≤ score, so ties route
    identically in any engine.
    Per-bin counts combine map-side; the cumulative window rides on the
    ``n_bins``-row result (bounded by construction).  All bins materialize
    — heavy score ties can leave a bin empty (n=0, null rates).
    Output: decile, n, n_pos, pos_rate, lift, cum_gain, cum_lift.

    EAGER NOTE (exact path): the quantile pass runs Spark jobs at
    plan-CONSTRUCTION time and freezes the bounds as plan literals — the
    call is not fully lazy, and the bounds reflect the source as of this
    call."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = (F.col(label_col).cast("double") > 0).cast("long")
    base = sdf.filter(s.isNotNull() & F.col(label_col).isNotNull()).select(
        s.alias("__s__"), y.alias("__y__")
    )
    qs = [i / n_bins for i in range(1, n_bins)]
    from ..operators.distsort import exact_quantiles

    edge_vals = exact_quantiles(base, F.col("__s__"), qs)
    edges = F.array(*[F.lit(e).cast("double") for e in edge_vals])
    n_le = F.size(F.filter(edges, lambda e: F.col("__s__") >= e))
    decile = F.lit(n_bins) - n_le
    binned = base.select(decile.alias("decile"), "__y__")
    cnt = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y__").alias("n_pos")
    )
    spark = sdf.sparkSession
    grid = spark.range(1, n_bins + 1).select(F.col("id").cast("int").alias("decile"))
    tot = cnt.agg(
        F.sum("n").alias("tn"), F.sum("n_pos").alias("tp")
    )
    filled = (
        grid.join(cnt.select(F.col("decile").cast("int").alias("decile"), "n", "n_pos"), "decile", "left")
        .join(F.broadcast(tot))
        .select(
            "decile",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("n_pos"), F.lit(0)).alias("n_pos"),
            "tn", "tp",
        )
    )
    wcum = (
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )  # n_bins rows only — bounded by construction
    cum_n = F.sum("n").over(wcum)
    cum_pos = F.sum("n_pos").over(wcum)
    base_rate = F.col("tp") / F.col("tn")
    pos_rate = F.when(F.col("n") > 0, F.col("n_pos") / F.col("n"))
    out = filled.select(
        "decile",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(pos_rate, round_to).alias("pos_rate"),
        F.round(
            F.when(base_rate > 0, pos_rate / base_rate), round_to
        ).alias("lift"),
        F.round(
            F.when(F.col("tp") > 0, cum_pos / F.col("tp")), round_to
        ).alias("cum_gain"),
        F.round(
            F.when((base_rate > 0) & (cum_n > 0), (cum_pos / cum_n) / base_rate),
            round_to,
        ).alias("cum_lift"),
    )
    return LazyFrame(out)


def conformal_threshold(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    alpha: float = 0.1,
    round_to: int = 6,
) -> LazyFrame:
    """Split-conformal calibration (Vovk; Angelopoulos & Bates 2022): from
    a CALIBRATION set of nonconformity scores (|y − ŷ| for regression,
    1 − p̂_y for classification), the threshold q̂ = the
    ⌈(n+1)(1−α)⌉-th smallest score.  Predicting {y : score(x,y) ≤ q̂} then
    guarantees ≥ 1−α marginal coverage on exchangeable data — the
    distribution-free uncertainty wrapper for ANY model's outputs.

    The k-th smallest is fetched as the (n−k+1)-th LARGEST — an
    orderBy(desc).limit(r) Spark executes as TakeOrderedAndProject
    (per-partition heaps, no global sort); r ≈ α·(n+1), so the heap is a
    small fraction of the calibration set — and calibration sets are
    sampled small by construction (the method needs only hundreds-to-
    thousands of points).  When ⌈(n+1)(1−α)⌉ > n (α too small for n) q̂ is
    null: no finite threshold certifies 1−α — add calibration data.

    Output (1 row): n, k, qhat."""
    if not (0.0 < alpha < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    base = sdf.filter(s.isNotNull()).select(s.alias("__s__"))
    n = base.count()  # eager: k and the heap size depend on it
    import math

    k = math.ceil((n + 1) * (1.0 - alpha))
    spark = sdf.sparkSession
    if n == 0 or k > n:
        out = spark.createDataFrame([(n, k, None)], "n long, k long, qhat double")
        return LazyFrame(out)
    r = n - k + 1
    qhat = (
        base.orderBy(F.col("__s__").desc())
        .limit(r)
        .agg(
            F.lit(n).cast("long").alias("n"),
            F.lit(k).cast("long").alias("k"),
            F.round(F.min("__s__"), round_to).alias("qhat"),
        )
    )
    return LazyFrame(qhat)


def conformal_coverage(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    threshold: "LazyFrame | SparkDF",
    round_to: int = 6,
) -> LazyFrame:
    """Empirical coverage check for :func:`conformal_threshold` on a held-
    out test set: the fraction of test nonconformity scores ≤ q̂ (expected
    ≥ 1−α up to finite-sample noise).  One fused all-reduce; q̂ rides in as
    a 1-row broadcast.  Output (1 row): n_test, n_covered, coverage (null
    when q̂ is null — the threshold certified nothing)."""
    sdf = _sdf(frame)
    th = _sdf(threshold).select("qhat")
    s = F.col(score_col).cast("double")
    base = sdf.filter(s.isNotNull()).select(s.alias("__s__"))
    out = (
        base.join(F.broadcast(th))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum((F.col("__s__") <= F.col("qhat")).cast("long")).alias("n_covered"),
        )
        .select(
            "n_test",
            F.col("n_covered").cast("long").alias("n_covered"),
            F.round(F.col("n_covered") / F.col("n_test"), round_to).alias("coverage"),
        )
    )
    return LazyFrame(out)


__all__.extend(["conformal_threshold", "conformal_coverage"])


def rouge_n_frame(
    frame: "LazyFrame | SparkDF",
    cand_col: str,
    ref_col: str,
    n: int = 1,
    lowercase: bool = True,
    round_to: int = 6,
) -> LazyFrame:
    """Per-row ROUGE-N (Lin 2004): clipped n-gram overlap between a
    candidate text (summary / generation) and its reference —
    ``n_overlap = Σ_g min(count_cand(g), count_ref(g))`` over word n-grams,
    with precision = overlap/|cand grams|, recall = overlap/|ref grams|,
    and their F1.  The supervised generation-eval complement of the
    corpus-level jaccard/containment family.

    ZERO-shuffle design (the word_entropy_frame construction): both gram
    multisets become ONE sorted array of (gram, side) structs per row, and
    a single fold walks it run-length-wise, flushing min(cand_run, ref_run)
    at each gram boundary — O((|c|+|r|) log) map-side, no explode/groupBy.
    Word arrays and gram arrays land as their own projection columns so
    Catalyst never re-evaluates them from inside the lambdas.  Null or
    empty texts yield 0 grams and null precision/recall on that side."""
    if n < 1:
        raise ValueError("n must be >= 1")
    sdf = _sdf(frame)

    def words(c):
        raw = F.trim(F.coalesce(F.col(c), F.lit("")))
        if lowercase:
            raw = F.lower(raw)
        return F.filter(F.split(raw, r"\s+"), lambda w: F.length(w) > 0)

    staged = sdf.select("*", words(cand_col).alias("__wc__"), words(ref_col).alias("__wr__"))

    def grams(col):
        w = F.col(col)
        if n == 1:
            return w
        cnt = F.size(w) - (n - 1)
        # sequence(1, 0) DESCENDS in Spark, so short texts need the guard
        return F.when(
            cnt > 0,
            F.transform(
                F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # grams reference their word column >=2 times (operand + lambda body),
    # so CollapseProject keeps this barrier and each array builds once.
    g = staged.select("*", grams("__wc__").alias("__gc__"), grams("__wr__").alias("__gr__"))
    merged = F.array_sort(
        F.concat(
            F.transform("__gc__", lambda x: F.struct(x.alias("g"), F.lit(1).alias("c"), F.lit(0).alias("r"))),
            F.transform("__gr__", lambda x: F.struct(x.alias("g"), F.lit(0).alias("c"), F.lit(1).alias("r"))),
        )
    )
    overlap = F.aggregate(
        merged,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("cc"), F.lit(0).alias("rc"), F.lit(0).alias("s"),
        ),
        lambda acc, x: F.when(
            acc["prev"].isNull() | (x["g"] != acc["prev"]),
            F.struct(
                x["g"].alias("prev"), x["c"].alias("cc"), x["r"].alias("rc"),
                (acc["s"] + F.least(acc["cc"], acc["rc"])).alias("s"),
            ),
        ).otherwise(
            F.struct(
                x["g"].alias("prev"), (acc["cc"] + x["c"]).alias("cc"),
                (acc["rc"] + x["r"]).alias("rc"), acc["s"].alias("s"),
            )
        ),
        lambda acc: acc["s"] + F.least(acc["cc"], acc["rc"]),
    )
    nc, nr = F.size("__gc__"), F.size("__gr__")
    scored = g.select(
        "*",
        nc.cast("long").alias("n_cand"),
        nr.cast("long").alias("n_ref"),
        overlap.cast("long").alias("n_overlap"),
    )
    p = F.when(F.col("n_cand") > 0, F.col("n_overlap") / F.col("n_cand"))
    r = F.when(F.col("n_ref") > 0, F.col("n_overlap") / F.col("n_ref"))
    out = (
        scored.withColumn("rouge_p", F.round(p, round_to))
        .withColumn("rouge_r", F.round(r, round_to))
        .withColumn(
            "rouge_f1",
            F.round(
                F.when((p + r) > 0, 2.0 * p * r / (p + r)).otherwise(
                    F.when(p.isNotNull() & r.isNotNull(), F.lit(0.0))
                ),
                round_to,
            ),
        )
        .drop("__wc__", "__wr__", "__gc__", "__gr__")
    )
    return LazyFrame(out)


def edit_distance_report(
    frame: "LazyFrame | SparkDF",
    cand_col: str,
    ref_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Per-row character-level edit metrics — the ASR/OCR/transcription eval
    block: Levenshtein distance, CER = distance / |ref| (null when the
    reference is empty), normalized similarity 1 − distance/max(|c|, |r|)
    (1.0 when both empty), and an exact-match flag.  Pure map-side Column
    math (JVM levenshtein); cost is O(|c|·|r|) per row — cap or chunk very
    long texts upstream, the standard CER contract."""
    sdf = _sdf(frame)
    c = F.coalesce(F.col(cand_col), F.lit(""))
    r = F.coalesce(F.col(ref_col), F.lit(""))
    dist = F.levenshtein(c, r)
    lc, lr = F.length(c), F.length(r)
    out = (
        sdf.withColumn("edit_distance", dist.cast("long"))
        .withColumn("cer", F.round(F.when(lr > 0, dist / lr), round_to))
        .withColumn(
            "similarity",
            F.round(
                F.when(F.greatest(lc, lr) > 0, 1.0 - dist / F.greatest(lc, lr)).otherwise(1.0),
                round_to,
            ),
        )
        .withColumn("exact_match", (dist == 0).alias("exact_match"))
    )
    return LazyFrame(out)


__all__.extend(["rouge_n_frame", "edit_distance_report"])


def multilabel_report(
    frame: "LazyFrame | SparkDF",
    pred_col: str,
    true_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Multi-label classification metrics over array-valued labels (tag
    prediction, topic assignment): subset accuracy (exact set match),
    mean per-row Jaccard, and micro-averaged precision/recall/F1 (label
    instances pooled across rows).  Labels are SETS — duplicates and order
    ignored, nulls inside arrays dropped, a null array = empty set; both
    empty counts as a perfect row (Jaccard 1, exact match).

    Pure map-side set math per row (array_distinct/intersect/union) into
    ONE fused all-reduce — no shuffle beyond the final 1-row combine.
    Output (1 row): n, subset_accuracy, mean_jaccard, micro_p, micro_r,
    micro_f1."""
    sdf = _sdf(frame)

    def clean(c):
        return F.array_distinct(
            F.filter(F.coalesce(F.col(c), F.array()), lambda x: x.isNotNull())
        )

    staged = sdf.select(clean(pred_col).alias("__p__"), clean(true_col).alias("__t__"))
    i = F.size(F.array_intersect("__p__", "__t__"))
    u = F.size(F.array_union("__p__", "__t__"))
    jac = F.when(u > 0, i / u).otherwise(F.lit(1.0))
    exact = (i == u).cast("double")
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(exact).alias("__sa__"),
        F.avg(jac).alias("__mj__"),
        F.sum(i).alias("__si__"),
        F.sum(F.size("__p__")).alias("__sp__"),
        F.sum(F.size("__t__")).alias("__st__"),
    )
    p = F.when(F.col("__sp__") > 0, F.col("__si__") / F.col("__sp__"))
    r = F.when(F.col("__st__") > 0, F.col("__si__") / F.col("__st__"))
    out = agg.select(
        F.col("n").cast("long").alias("n"),
        F.round("__sa__", round_to).alias("subset_accuracy"),
        F.round("__mj__", round_to).alias("mean_jaccard"),
        F.round(p, round_to).alias("micro_p"),
        F.round(r, round_to).alias("micro_r"),
        F.round(
            F.when((p + r) > 0, 2.0 * p * r / (p + r)).otherwise(
                F.when(p.isNotNull() & r.isNotNull(), F.lit(0.0))
            ),
            round_to,
        ).alias("micro_f1"),
    )
    return LazyFrame(out)


__all__.append("multilabel_report")


def brier_decomposition(
    frame: "LazyFrame | SparkDF",
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Murphy decomposition of the Brier score (Murphy 1973): over score
    bins, BS = reliability − resolution + uncertainty, where reliability
    = Σ nₖ(s̄ₖ − ōₖ)²/n (calibration error — want 0), resolution =
    Σ nₖ(ōₖ − ō)²/n (how much the bins separate outcomes — want big),
    uncertainty = ō(1 − ō) (the data's own entropy — model-independent).
    The decomposed complement of classification_loss's raw Brier and
    calibration_report's per-bin table; the identity is exact for BINNED
    scores (bs here uses the bin-mean forecast, the standard convention).

    One binned map-side-combining aggregate + a 1-row overall-rate
    broadcast.  Scores clamp into [0, 1] edge bins like
    calibration_report.  Output (1 row): n, brier, reliability,
    resolution, uncertainty."""
    sdf = _sdf(frame)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.least(
        F.lit(n_bins - 1), F.greatest(F.lit(0), F.floor(s * n_bins).cast("int"))
    )
    bins = (
        sdf.filter(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("__b__"))
        .agg(
            F.count(F.lit(1)).alias("__n__"),
            F.avg(s).alias("__s__"),
            F.avg(y).alias("__o__"),
        )
    )
    # ONE pass, no self-join: resolution = Σn·ō_k²/N − ō² (the variance
    # decomposition), so the overall rate never needs a second aggregate.
    wide = bins.agg(
        F.sum("__n__").alias("N"),
        F.sum(F.col("__n__") * F.col("__o__")).alias("so"),
        F.sum(F.col("__n__") * F.col("__o__") * F.col("__o__")).alias("soo"),
        F.sum(
            F.col("__n__")
            * (F.col("__s__") - F.col("__o__"))
            * (F.col("__s__") - F.col("__o__"))
        ).alias("sd2"),
    )
    obar = F.col("so") / F.col("N")
    rel = F.col("sd2") / F.col("N")
    res = F.col("soo") / F.col("N") - obar * obar
    unc = obar * (1.0 - obar)
    out = wide.select(
        F.col("N").cast("long").alias("n"),
        F.round(rel - res + unc, round_to).alias("brier"),
        F.round(rel, round_to).alias("reliability"),
        F.round(res, round_to).alias("resolution"),
        F.round(unc, round_to).alias("uncertainty"),
    )
    return LazyFrame(out)


__all__.append("brier_decomposition")


def _word_array(text_expr):
    """Lowercased whitespace word array (empty tokens dropped); feed the
    result to _grams_of, which builds n-grams via the collapse-proof
    shifted-slice zip_with fold (see ngram_coverage: element_at inside a
    transform lambda re-evaluates the split per element — O(words²)
    regex work)."""
    ws = F.filter(
        F.split(F.trim(F.lower(text_expr)), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    return ws


def _grams_of(w, n: int):
    if n == 1:
        return w
    ln = F.greatest(F.size(w) - (n - 1), F.lit(0))
    g = F.slice(w, 1, ln)
    for j in range(1, n):
        g = F.zip_with(
            g, F.slice(w, 1 + j, ln), lambda a, b: F.concat_ws(" ", a, b)
        )
    return g


def _spread(sdf):
    """Repartition ONLY when the input is a plain scan chain with fewer
    partitions than the default parallelism — a single-file gate corpus
    must not serialize the per-row gram folds onto one core (the
    _stage_words rule), but a production many-file scan is already
    parallel, and a shuffled upstream must not pay the probe's re-planning
    (see polars_net_spark/_spread.py)."""
    from .._spread import spread_plain_scan

    return spread_plain_scan(sdf)


def bleu_corpus(
    frame: "LazyFrame | SparkDF",
    hyp_col: str,
    ref_col: str,
    id_col: str,
    max_n: int = 4,
    round_to: int = 6,
) -> LazyFrame:
    """Corpus-level BLEU (Papineni et al. 2002, unsmoothed, single
    reference) — the generation-quality yardstick for translation/
    summarization eval sets: modified n-gram precision p_n =
    Σ_docs Σ_grams min(count_hyp, count_ref) / Σ_docs count_hyp for
    n = 1..``max_n``, geometric mean, and the brevity penalty
    BP = min(1, e^(1 − ref_len/hyp_len)) on CORPUS total lengths.
    Any p_n = 0 gives BLEU 0 (the standard unsmoothed convention —
    corpus-level pooling makes this rare).

    ZERO-shuffle scale shape (the rouge_n_frame fold, generalized to all
    orders): per doc and per order, the clipped match m_n is a row-local
    sorted-(gram, side) run-length fold — no explode, no (doc, gram)
    shuffle join — and the per-order totals are just gram-array sizes, so
    the whole metric is ONE map-side pass plus ONE fused 1-row all-reduce
    (2·max_n + 3 sums).  Never a window, never per-row Python.  Output
    (1 row): bleu, brevity_penalty, p1..p{max_n}, hyp_len, ref_len,
    n_docs."""
    if not 1 <= max_n <= 8:
        raise ValueError("max_n must be in 1..8")
    sdf = _sdf(frame)
    base = sdf.filter(
        F.col(hyp_col).isNotNull() & F.col(ref_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        _word_array(F.col(hyp_col)).alias("__wh__"),
        _word_array(F.col(ref_col)).alias("__wr__"),
    )
    base = _spread(base)
    # Clipped word-gram matches run vectorized in one mapInArrow pass
    # emitting per-batch integer partials (the chrf_corpus shape) — the
    # Catalyst sort+fold this replaces was interpreted HOF code (no
    # codegen).  Tuple grams hash-count identically to the concat_ws
    # string grams (words are \s+-split, so joining is injective).
    maxn = int(max_n)
    names = (
        ["nd", "hl", "rl"]
        + [f"m{n}" for n in range(1, maxn + 1)]
        + [f"h{n}" for n in range(1, maxn + 1)]
    )

    def _partials(batches):
        from collections import Counter

        for batch in batches:
            whs = batch.column(0).to_pylist()
            wrs = batch.column(1).to_pylist()
            hl = rl = 0
            m = [0] * (maxn + 1)
            hh = [0] * (maxn + 1)
            for wh, wr in zip(whs, wrs):
                hl += len(wh)
                rl += len(wr)
                for n in range(1, maxn + 1):
                    gh = Counter(zip(*[wh[i:] for i in range(n)]))
                    gr = Counter(zip(*[wr[i:] for i in range(n)]))
                    hh[n] += sum(gh.values())
                    m[n] += sum((gh & gr).values())
            vals = [len(whs), hl, rl] + m[1:] + hh[1:]
            yield {f: [v] for f, v in zip(names, vals)}

    schema = ", ".join(f"{f} bigint" for f in names)
    parts = map_batches(base.select("__wh__", "__wr__"), _partials, schema)
    aggs = [
        F.sum("nd").alias("nd"),
        F.sum("hl").alias("hl"),
        F.sum("rl").alias("rl"),
    ]
    for n in range(1, max_n + 1):
        aggs.append(F.sum(f"m{n}").alias(f"m{n}"))
        aggs.append(F.sum(f"h{n}").alias(f"h{n}"))
    red = parts.agg(*aggs).collect()[0]
    n_docs = int(red["nd"] or 0)
    if n_docs == 0:
        raise ValueError("bleu_corpus: no usable rows")
    hl, rl = int(red["hl"] or 0), int(red["rl"] or 0)
    if hl == 0:
        raise ValueError("bleu_corpus: empty hypothesis corpus")
    import math

    ps = []
    for n in range(1, max_n + 1):
        m, h = int(red[f"m{n}"] or 0), int(red[f"h{n}"] or 0)
        if h == 0:
            raise ValueError(f"bleu_corpus: no {n}-grams in hypothesis corpus")
        ps.append(m / h)
    bp = min(1.0, math.exp(1.0 - rl / hl))
    bleu = (
        bp * math.exp(sum(math.log(p) for p in ps) / max_n)
        if all(p > 0 for p in ps)
        else 0.0
    )
    spark = sdf.sparkSession
    fields = [round(bleu, round_to), round(bp, round_to)] + [
        round(p, round_to) for p in ps
    ] + [hl, rl, n_docs]
    schema = (
        "bleu double, brevity_penalty double, "
        + ", ".join(f"p{n} double" for n in range(1, max_n + 1))
        + ", hyp_len bigint, ref_len bigint, n_docs bigint"
    )
    out = spark.createDataFrame([tuple(fields)], schema)
    return LazyFrame(out)


def rouge_n(
    frame: "LazyFrame | SparkDF",
    hyp_col: str,
    ref_col: str,
    id_col: str,
    n: int = 2,
    round_to: int = 6,
) -> LazyFrame:
    """ROUGE-N (Lin 2004, single reference) — the recall-oriented overlap
    score for summarization eval: per doc, clipped n-gram overlap
    Σ_g min(count_hyp, count_ref) against the REFERENCE total (recall)
    and the hypothesis total (precision); reports corpus MICRO scores
    (pooled sums — robust to short docs) plus the macro mean of per-doc
    recall (the number the original ROUGE script averages).  Docs whose
    reference has no n-grams are excluded from macro recall (undefined),
    matching the convention.

    ZERO-shuffle scale shape: the per-doc clipped match is a row-local
    sorted-(gram, side) run-length fold (the rouge_n_frame technique) and
    both totals are gram-array sizes, so the metric — macro recall
    included, since per-doc recall is now row-local — is ONE map-side
    pass plus ONE fused 1-row all-reduce.  n_docs counts every usable
    input pair, consistent with bleu_corpus/chrf_corpus — including docs
    too short to produce any n-gram.  Output (1 row): n, n_docs,
    micro_recall, macro_recall, micro_precision, micro_f1."""
    if n < 1:
        raise ValueError("n must be >= 1")
    sdf = _sdf(frame)
    base = sdf.filter(
        F.col(hyp_col).isNotNull() & F.col(ref_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        _word_array(F.col(hyp_col)).alias("__wh__"),
        _word_array(F.col(ref_col)).alias("__wr__"),
    )
    base = _spread(base)
    # per-doc clipped matches vectorized in one mapInArrow partials pass
    # (the bleu_corpus/chrf_corpus shape — the interpreted Catalyst fold
    # had no codegen); macro recall partials carry (Σ m/rt, count rt>0)
    # so the final mean divides pooled partials exactly like F.avg does
    nn = int(n)

    def _partials(batches):
        from collections import Counter

        for batch in batches:
            whs = batch.column(0).to_pylist()
            wrs = batch.column(1).to_pylist()
            m_t = ht_t = rt_t = 0
            mac_s, mac_c = 0.0, 0
            for wh, wr in zip(whs, wrs):
                gh = Counter(zip(*[wh[i:] for i in range(nn)]))
                gr = Counter(zip(*[wr[i:] for i in range(nn)]))
                ht_i = sum(gh.values())
                rt_i = sum(gr.values())
                m_i = sum((gh & gr).values())
                m_t += m_i
                ht_t += ht_i
                rt_t += rt_i
                if rt_i > 0:
                    mac_s += m_i / rt_i
                    mac_c += 1
            yield {
                "nd": [len(whs)],
                "m": [m_t],
                "rt": [rt_t],
                "ht": [ht_t],
                "mac_s": [mac_s],
                "mac_c": [mac_c],
            }

    parts = map_batches(
        base.select("__wh__", "__wr__"),
        _partials,
        "nd bigint, m bigint, rt bigint, ht bigint, mac_s double, mac_c bigint",
    )
    red = parts.agg(
        F.sum("nd").alias("nd"),
        F.sum("m").alias("m"),
        F.sum("rt").alias("rt"),
        F.sum("ht").alias("ht"),
        (F.sum("mac_s") / F.when(F.sum("mac_c") > 0, F.sum("mac_c"))).alias(
            "macro_r"
        ),
    ).collect()[0]
    n_docs = int(red["nd"] or 0)
    m, rt, ht = (float(red[k] or 0) for k in ("m", "rt", "ht"))
    if rt == 0:
        raise ValueError(f"rouge_n: reference corpus has no {n}-grams")
    micro_r = m / rt
    micro_p = m / ht if ht > 0 else None
    micro_f = (
        2 * micro_p * micro_r / (micro_p + micro_r)
        if micro_p is not None and micro_p + micro_r > 0
        else None
    )
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            n, n_docs, round(micro_r, round_to),
            None if red["macro_r"] is None else round(float(red["macro_r"]), round_to),
            None if micro_p is None else round(micro_p, round_to),
            None if micro_f is None else round(micro_f, round_to),
        )],
        "n int, n_docs bigint, micro_recall double, macro_recall double, "
        "micro_precision double, micro_f1 double",
    )
    return LazyFrame(out)


__all__.extend(["bleu_corpus", "rouge_n"])


def _clip_long(gh, gr):
    """Clipped multiset overlap Σ_g min(count_h(g), count_r(g)) between two
    packed-long gram arrays, row-locally: tag the side into the low bit
    (hyp even < ref odd, so within a sorted run every hyp precedes every
    ref), sort ONE primitive long array, then a greedy run-length fold
    where each ref consumes an outstanding hyp of the same gram — exactly
    min(h, r) per gram.  The accumulator packs (outstanding-hyp count,
    matched total) into one long (31 bits each, so docs up to 2^31 grams),
    so the fold is pure integer arithmetic — measured ~17× faster than the
    string-struct fold at sf1 (the interpreted struct-accumulator
    allocation was the cost, not the sort)."""
    merged = F.array_sort(
        F.concat(
            F.transform(gh, lambda x: x * 2),
            F.transform(gr, lambda x: x * 2 + 1),
        )
    )
    two31 = F.lit(2147483648).cast("long")
    return F.aggregate(
        merged,
        F.struct(
            F.lit(-1).cast("long").alias("p"),
            F.lit(0).cast("long").alias("z"),
        ),
        lambda acc, x: F.struct(
            F.shiftright(x, 1).alias("p"),
            F.when(
                F.shiftright(x, 1) != acc["p"],
                # new gram run: matched total carries over, outstanding-hyp
                # count restarts at 1 for a hyp element, 0 for a ref
                (two31 - (x % 2) * two31) + (acc["z"] % two31),
            ).otherwise(
                F.when((x % 2) == 0, acc["z"] + two31).otherwise(
                    F.when(
                        F.shiftright(acc["z"], 31) > 0,
                        acc["z"] - two31 + 1,
                    ).otherwise(acc["z"])
                )
            ).alias("z"),
        ),
        lambda acc: (acc["z"] % two31).cast("long"),
    )


def chrf_corpus(
    frame: "LazyFrame | SparkDF",
    hyp_col: str,
    ref_col: str,
    id_col: str,
    max_n: int = 6,
    beta: float = 2.0,
    round_to: int = 6,
) -> LazyFrame:
    """Corpus chrF (Popović 2015) — the CHARACTER-n-gram F-score that
    stays meaningful where word BLEU shatters (morphology-rich languages,
    tokenizer mismatches, short texts): whitespace is stripped (the
    sacreBLEU convention), clipped character n-gram matches for
    n = 1..``max_n`` give per-order corpus precision P_n and recall R_n,
    the order means P̄/R̄ combine as F_β = (1+β²)·P̄·R̄/(β²·P̄ + R̄)
    with β = 2 weighting recall.  Orders with an empty hypothesis or
    reference total are skipped from the respective mean (sacreBLEU's
    effective-order rule applied corpus-wide).

    ZERO-shuffle scale shape: per doc and per order, the clipped match is
    a row-local sort + greedy run-length fold over PACKED-LONG grams
    (codepoints < 256 pack exactly into 8 bits × n ≤ 7 — see _clip_long;
    rows with wider codepoints take the exact string-fold branch of the
    same per-row when(), so every row pays only its own path), and the
    per-order totals are just char_length arithmetic — the whole metric
    is ONE map-side pass plus ONE fused 1-row all-reduce (3·max_n + 1
    sums).  No explode, no (doc, gram) shuffle join, no per-row Python.
    Output (1 row): chrf, prec_mean, rec_mean, n_docs."""
    if not 1 <= max_n <= 10:
        raise ValueError("max_n must be in 1..10")
    if beta <= 0:
        raise ValueError("beta must be > 0")
    sdf = _sdf(frame)
    base = sdf.filter(
        F.col(hyp_col).isNotNull() & F.col(ref_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        F.regexp_replace(F.col(hyp_col), r"\s+", "").alias("__h__"),
        F.regexp_replace(F.col(ref_col), r"\s+", "").alias("__r__"),
    )
    base = _spread(base)
    # Per-row clipped matches run as ONE vectorized numpy pass inside
    # mapInArrow emitting per-batch integer partial sums (nd, m_n, h_n,
    # r_n), reduced by a tiny sum aggregate.  The r11 Catalyst version
    # computed the same integers through array_sort + aggregate() folds,
    # but higher-order functions have no codegen — a lineage decomposition
    # at sf1 (50k docs, 32 cores) measured the interpreted sort (4.1 s) +
    # fold lambda (6.1 s) as nearly all of a 14.2 s wall.  Gram windows are CODEPOINT windows exactly as
    # before (the expression version's Latin-1 fast path only fired when
    # code units == codepoints, and its string fallback used codepoint
    # substr); totals stay char_length arithmetic (len(str) = codepoints).
    maxn = int(max_n)
    names = (
        ["nd"]
        + [f"m{n}" for n in range(1, maxn + 1)]
        + [f"h{n}" for n in range(1, maxn + 1)]
        + [f"r{n}" for n in range(1, maxn + 1)]
    )

    def _partials(batches):
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        def clipped(gh, gr):
            uh, ch = np.unique(gh, return_counts=True)
            ur, cr = np.unique(gr, return_counts=True)
            common, ih, ir = np.intersect1d(
                uh, ur, assume_unique=True, return_indices=True
            )
            if common.size == 0:
                return 0
            return int(np.minimum(ch[ih], cr[ir]).sum())

        def packed(c, n):
            ln = c.size - (n - 1)
            if ln <= 0:
                return c[:0]
            g = c[:ln].copy()
            for j in range(1, n):
                g *= 256
                g += c[j : j + ln]
            return g

        def windows(c, n):
            if c.size < n:
                return np.empty((0,), dtype=[("", c.dtype)] * n)
            w = np.ascontiguousarray(sliding_window_view(c, n))
            return w.view([("", c.dtype)] * n).reshape(-1)

        for batch in batches:
            hyps = batch.column(0).to_pylist()
            refs = batch.column(1).to_pylist()
            m = [0] * (maxn + 1)
            ht = [0] * (maxn + 1)
            rt = [0] * (maxn + 1)
            for hs, rs in zip(hyps, refs):
                hcp = np.frombuffer(hs.encode("utf-32-le"), np.uint32)
                rcp = np.frombuffer(rs.encode("utf-32-le"), np.uint32)
                lh, lr = hcp.size, rcp.size
                lat = (lh == 0 or int(hcp.max()) < 256) and (
                    lr == 0 or int(rcp.max()) < 256
                )
                if lat:
                    hc = hcp.astype(np.int64)
                    rc = rcp.astype(np.int64)
                for n in range(1, maxn + 1):
                    ht[n] += lh - n + 1 if lh >= n else 0
                    rt[n] += lr - n + 1 if lr >= n else 0
                    if lat and n <= 7:
                        m[n] += clipped(packed(hc, n), packed(rc, n))
                    else:
                        m[n] += clipped(windows(hcp, n), windows(rcp, n))
            vals = [len(hyps)] + m[1:] + ht[1:] + rt[1:]
            yield {f: [v] for f, v in zip(names, vals)}

    schema = ", ".join(f"{f} bigint" for f in names)
    parts = map_batches(base.select("__h__", "__r__"), _partials, schema)
    aggs = [F.sum("nd").alias("nd")]
    for n in range(1, max_n + 1):
        aggs.append(F.sum(f"m{n}").alias(f"m{n}"))
        aggs.append(F.sum(f"h{n}").alias(f"h{n}"))
        aggs.append(F.sum(f"r{n}").alias(f"r{n}"))
    red = parts.agg(*aggs).collect()[0]
    nd = int(red["nd"] or 0)
    if nd == 0:
        raise ValueError("chrf_corpus: no usable rows")
    ps, rs = [], []
    for n in range(1, max_n + 1):
        m = int(red[f"m{n}"] or 0)
        h = int(red[f"h{n}"] or 0)
        r = int(red[f"r{n}"] or 0)
        if h > 0:
            ps.append(m / h)
        if r > 0:
            rs.append(m / r)
    if not ps or not rs:
        raise ValueError("chrf_corpus: empty hypothesis or reference corpus")
    pm, rm = sum(ps) / len(ps), sum(rs) / len(rs)
    b2 = beta * beta
    chrf = (
        (1 + b2) * pm * rm / (b2 * pm + rm) if (b2 * pm + rm) > 0 else 0.0
    )
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(chrf, round_to), round(pm, round_to), round(rm, round_to), nd)],
        "chrf double, prec_mean double, rec_mean double, n_docs bigint",
    )
    return LazyFrame(out)


__all__.append("chrf_corpus")
