"""Event-analytics building blocks: outlier flags, gap detection, cohort
retention, funnels.

All are window/aggregate compositions over the standard (user, ts, value)
shape — one key-partitioned shuffle each, no iteration, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from .._bounded import bounded
from .._cache import register_cache, scoped_caches
from ..frame import LazyFrame

__all__ = [
    "with_outlier_flags",
    "find_gaps",
    "cohort_retention",
    "funnel_counts",
    "seasonal_decompose",
    "acf",
    "cusum_flags",
    "trimmed_mean_by_key",
    "with_rank_normalized",
    "psi_report",
    "k_anonymity_report",
    "with_k_anonymity",
    "gini_coefficient",
    "benford_report",
    "with_scaled",
    "l_diversity_report",
    "survival_curve",
    "time_weighted_average",
    "target_encode",
    "with_target_encoded",
    "markov_transitions",
    "sessionize",
    "session_summary",
]


def _sdf(frame):
    return frame if isinstance(frame, SparkDF) else frame.spark


def _halo_order(sdf: SparkDF, ts_col: str):
    """Order-preserving numeric Column for distsort halo bucketing of a
    sequence keyed on ``ts_col``, or None when the dtype has no
    order-preserving numeric form (string/binary — the caller falls back
    to the warned single-partition global window).  Null timestamps map
    to -inf so they sort first, matching Spark's asc-nulls-first default
    on the global window they replace."""
    dt = dict(sdf.dtypes).get(ts_col, "")
    if dt.startswith("timestamp") or dt == "date":
        c = F.unix_micros(F.col(ts_col).cast("timestamp")).cast("double")
    elif dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or dt.startswith(
        "decimal"
    ):
        c = F.col(ts_col).cast("double")
    else:
        return None
    return F.coalesce(c, F.lit(float("-inf")))


def with_outlier_flags(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    method: str = "zscore",
    threshold: float = 3.0,
    flag_col: str = "is_outlier",
    score_col: str | None = None,
    round_to: int = 6,
) -> LazyFrame:
    """Flag per-key outliers: ``zscore`` = |x − mean| / std (population std),
    ``mad`` = |x − median| / (1.4826·MAD) (robust to the outliers
    themselves).  One grouped aggregate joined back (zscore combines
    map-side; mad's median materializes per-key value multisets in the
    percentile buffer — prefer zscore at extreme scale or pre-sample).
    Null values get a null flag.  Keys with zero spread flag nothing.
    """
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    if method == "zscore":
        stats = (
            sdf.groupBy(*keys).agg(
                F.avg(v).alias("__ctr__"),
                F.var_pop(v).alias("__var__"),
            )
            .select(*keys, "__ctr__", F.sqrt(F.col("__var__")).alias("__spr__"))
        )
    elif method == "mad":
        med = sdf.groupBy(*keys).agg(F.percentile(v, F.lit(0.5)).alias("__ctr__"))
        # keyed joins stay plain equi-joins (AQE broadcasts small stat sides;
        # a forced broadcast would be wrong for a million-key frame)
        joined = sdf.join(med, keys) if keys else sdf.join(F.broadcast(med))
        stats = (
            joined.groupBy(*keys)
            .agg(
                F.first("__ctr__").alias("__ctr__"),
                F.percentile(F.abs(v - F.col("__ctr__")), F.lit(0.5)).alias("__mad__"),
            )
            .select(*keys, "__ctr__", (F.col("__mad__") * 1.4826).alias("__spr__"))
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    out = sdf.join(stats, keys) if keys else sdf.join(F.broadcast(stats))
    score = F.when(
        F.col("__spr__") > 0, F.abs(v - F.col("__ctr__")) / F.col("__spr__")
    )
    cols = [F.col(c) for c in sdf.columns]
    cols.append(
        F.when(v.isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.coalesce(score > threshold, F.lit(False)))
        .alias(flag_col)
    )
    if score_col:
        cols.append(F.round(score, round_to).alias(score_col))
    return LazyFrame(out.select(*cols))


def find_gaps(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    by: "str | list[str] | None" = None,
    min_gap: str = "1 hour",
    tie_cols: "list[str] | None" = None,
) -> LazyFrame:
    """Per-key silence periods: consecutive-event spans longer than
    ``min_gap`` as (key, gap_start, gap_end, gap_seconds).  One lag window
    keyed on ``by`` — the monitoring-flavored sibling of sessionize (which
    labels the rows; this emits the holes)."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
    ts = F.col(ts_col).cast("timestamp")
    prev = F.lag(ts).over(w)
    gap_s = F.unix_micros(ts) / 1e6 - F.unix_micros(prev) / 1e6
    out = (
        sdf.select(*keys, ts.alias("__ts__"), prev.alias("__prev__"), gap_s.alias("__gap__"))
        .filter(F.col("__gap__") > F.lit(_interval_seconds(min_gap)))
        .select(
            *keys,
            F.col("__prev__").alias("gap_start"),
            F.col("__ts__").alias("gap_end"),
            F.round("__gap__", 6).alias("gap_seconds"),
        )
    )
    return LazyFrame(out)


def _interval_seconds(spec: str) -> float:
    """'2 hours' / '90 minutes' / '45 seconds' / '1 day' → seconds."""
    num, _, unit = spec.strip().partition(" ")
    mult = {
        "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    }
    if unit not in mult:
        raise ValueError(f"unsupported interval {spec!r}")
    return float(num) * mult[unit]


def cohort_retention(
    frame: "LazyFrame | SparkDF",
    user_col: str,
    ts_col: str,
    period: str = "week",
    max_periods: int | None = None,
) -> LazyFrame:
    """Classic cohort-retention triangle: users grouped by their FIRST-seen
    period (cohort); for each (cohort, period offset) the count of distinct
    users active in that period.  Offset 0 is the cohort size.

    Two shuffles: first-seen per user (map-side min), then the distinct
    count per (cohort, offset).  ``period``: 'day' | 'week' | 'month'.
    Output: cohort (period start date), period_offset, n_users.
    """
    if period not in ("day", "week", "month"):
        raise ValueError("period must be day/week/month")
    sdf = _sdf(frame)
    ts = F.col(ts_col).cast("timestamp")
    bucket = F.date_trunc(period, ts).cast("date")
    ev = sdf.select(F.col(user_col).alias("u"), bucket.alias("p"))
    first = ev.groupBy("u").agg(F.min("p").alias("cohort"))
    joined = ev.join(first, "u")
    if period == "day":
        off = F.datediff(F.col("p"), F.col("cohort"))
    elif period == "week":
        off = (F.datediff(F.col("p"), F.col("cohort")) / 7).cast("int")
    else:
        off = (
            (F.year("p") - F.year("cohort")) * 12 + (F.month("p") - F.month("cohort"))
        )
    acts = joined.select("u", "cohort", off.alias("period_offset"))
    if max_periods is not None:
        acts = acts.filter(F.col("period_offset") < max_periods)
    out = (
        acts.groupBy("cohort", "period_offset")
        .agg(F.count_distinct("u").alias("n_users"))
    )
    return LazyFrame(out)


def funnel_counts(
    frame: "LazyFrame | SparkDF",
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: "list[str]",
) -> LazyFrame:
    """Ordered-funnel completion: for each prefix of ``steps``, how many
    users performed those steps IN ORDER (step k's earliest qualifying time
    is after the time used for step k-1).  The per-user walk is a chain of
    conditional min-aggregates over one grouped collect of (step, ts) —
    a single shuffle on the user key.

    Output: step (name), step_idx (1-based), n_users — n_users is
    non-increasing down the funnel.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    sdf = _sdf(frame)
    ev = sdf.filter(F.col(step_col).isin(steps)).select(
        F.col(user_col).alias("u"),
        F.col(step_col).alias("s"),
        F.col(ts_col).cast("timestamp").alias("t"),
    )
    # earliest ts of step k strictly after the chosen ts of step k-1:
    # min(t | s == step_k, t > prev) as a chain of filtered min aggregates
    agg = ev.groupBy("u").agg(
        *[
            F.min(F.when(F.col("s") == st, F.col("t"))).alias(f"__m{i}__")
            for i, st in enumerate(steps)
        ],
        F.collect_list(F.struct("s", "t")).alias("__evs__"),
    )
    chain = agg
    prev = None
    reach_flags = []
    for i, st in enumerate(steps):
        if i == 0:
            cur = F.col("__m0__")
        else:
            # earliest occurrence of step i after prev (array min over the
            # collected events — group-sized array, same contract as implode).
            # Closure factory: defaults in the lambda would change its ARITY
            # and PySpark binds HOF lambdas by arity (the test_lambda_arity
            # trap).
            def _after(_st, _prev):
                return lambda e: (e["s"] == F.lit(_st)) & (e["t"] > _prev)

            cand = F.array_min(
                F.filter(F.col("__evs__"), _after(st, prev)).getField("t")
            )
            cur = F.when(prev.isNotNull(), cand)
        chain = chain.withColumn(f"__r{i}__", cur)
        prev = F.col(f"__r{i}__")
        reach_flags.append(F.col(f"__r{i}__").isNotNull())
    counts = chain.agg(
        *[
            F.sum(fl.cast("long")).alias(f"__n{i}__")
            for i, fl in enumerate(reach_flags)
        ]
    )
    # ONE pass over the 1-row counts (a per-step union would recompute the
    # whole per-user chain once per branch — no CSE across union legs)
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(st).alias("step"),
                    F.lit(i + 1).alias("step_idx"),
                    F.col(f"__n{i}__").alias("n_users"),
                )
                for i, st in enumerate(steps)
            ]
        )
    )
    rows = counts.select(entries.alias("e")).select("e.step", "e.step_idx", "e.n_users")
    return LazyFrame(rows)


def seasonal_decompose(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    period: int,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Moving-average seasonal decomposition (STL-lite): trend = centered
    rolling mean over one period; seasonal = the per-phase mean of
    (value − trend), re-centered to sum 0 over a period; residual =
    value − trend − seasonal.  Additive model, the classic
    statsmodels 'seasonal_decompose(model="additive")' recipe as pure
    window + aggregate composition.

    ``order_col`` must be a dense integer position per key (use
    with_dense_row_index / row_number upstream).  Edges (first/last
    half-period) have null trend/residual like statsmodels.  Two shuffles:
    the trend window and the phase aggregate (joined back keyed, AQE
    broadcastable).

    With ``by=None`` the trend window rides distsort halo buckets
    (with_halo_buckets): each range bucket borrows ±half-period neighbor
    rows, so the centered moving average is exact with NO single-partition
    window at any scale; global edges keep their statsmodels nulls because
    the first/last buckets have no halo beyond the data.
    """
    sdf = _sdf(frame)
    base_cols = sdf.columns
    keys = [by] if isinstance(by, str) else list(by or [])
    half = period // 2
    halo_col = None
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col))
    else:
        from .distsort import with_halo_buckets

        sdf, bcol, halo_col = with_halo_buckets(sdf, order_col, before=half, after=half)
        w = Window.partitionBy(bcol).orderBy(F.col(order_col))
    v = F.col(value_col).cast("double")
    if period % 2 == 0:
        # even period: 2x(period)-MA — window of period+1 with half-weight ends
        frame_w = w.rowsBetween(-half, half)
        cnt = F.count(v).over(frame_w)
        s = F.sum(v).over(frame_w)
        first_ = F.first(v).over(frame_w)
        last_ = F.last(v).over(frame_w)
        trend = F.when(
            cnt == period + 1, (s - (first_ + last_) / 2) / period
        )
    else:
        frame_w = w.rowsBetween(-half, half)
        cnt = F.count(v).over(frame_w)
        trend = F.when(cnt == period, F.avg(v).over(frame_w))
    staged = sdf.withColumn("__trend__", trend).withColumn(
        "__phase__", F.pmod(F.col(order_col), F.lit(period))
    )
    if halo_col is not None:
        # halo rows exist only to complete neighbor windows — drop them
        # (and the bucket plumbing) once the trend is computed
        staged = staged.filter(~F.col(halo_col)).drop(halo_col, bcol)
    phase_means = (
        staged.filter(F.col("__trend__").isNotNull())
        .groupBy(*keys, "__phase__")
        .agg(F.avg(v - F.col("__trend__")).alias("__pm__"))
    )
    # re-center so the seasonal component sums to ~0 over one period
    grand = phase_means.groupBy(*keys).agg(F.avg("__pm__").alias("__gm__"))
    seas = phase_means.join(grand, keys) if keys else phase_means.join(F.broadcast(grand))
    seas = seas.select(*keys, "__phase__", (F.col("__pm__") - F.col("__gm__")).alias("__seas__"))
    out = (
        staged.join(seas, keys + ["__phase__"] if keys else ["__phase__"])
        .select(
            *base_cols,
            F.round("__trend__", round_to).alias("trend"),
            F.round("__seas__", round_to).alias("seasonal"),
            F.round(v - F.col("__trend__") - F.col("__seas__"), round_to).alias("residual"),
        )
    )
    return LazyFrame(out)


def acf(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    lags: int,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
    estimator: str = "pearson",
) -> LazyFrame:
    """Autocorrelation at lags 1..``lags`` per key, long-format output
    (key..., lag, acf).  Two estimators, same plan shape:

    - ``estimator="pearson"`` (default, unchanged): corr(x_t, x_{t−l})
      — the SQL-standard pairwise-complete estimator; each lag centers
      on ITS pairs' means.  statsmodels differs slightly.
    - ``estimator="canonical"``: the textbook/statsmodels convention
      ``ljung_box`` uses — r_l = Σ_{t>l}(v_t−v̄)(v_{t−l}−v̄) /
      Σ_t(v_t−v̄)², both factors centered on the FULL-series mean with
      the lag-0 variance as the one denominator.  With this setting,
      acf's r_l values are EXACTLY ljung_box's r_l on the same series
      (cross-checked in tests); the two conventions diverge most on
      short series and large lags.

    One window building all lag columns (single WindowExec) + one
    aggregate.  With ``by=None`` the lag window rides distsort halo
    buckets: each range bucket borrows its predecessor's last ``lags``
    rows, so every lag pair a global ordered window would see is present
    with NO single-partition stage; the final reduce is the ordinary
    1-row map-side-combining aggregate."""
    if estimator not in ("pearson", "canonical"):
        raise ValueError("estimator must be 'pearson' or 'canonical'")
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(order_col))
        staged = sdf.select(
            *keys, v.alias("__v__"),
            *[F.lag(v, l).over(w).alias(f"__l{l}__") for l in range(1, lags + 1)],
        )
    else:
        from .distsort import with_halo_buckets

        haloed, bcol, halo_col = with_halo_buckets(sdf, order_col, before=lags)
        w = Window.partitionBy(bcol).orderBy(F.col(order_col))
        staged = haloed.select(
            F.col(halo_col), v.alias("__v__"),
            *[F.lag(v, l).over(w).alias(f"__l{l}__") for l in range(1, lags + 1)],
        ).filter(~F.col(halo_col))
    if estimator == "canonical":
        # ljung_box's r_l via expanded raw moments: full-series mean
        # centers both factors, lag-0 variance is the one denominator
        lag_aggs = []
        for l in range(1, lags + 1):
            ll = F.col(f"__l{l}__")
            lag_aggs += [
                F.sum(F.col("__v__") * ll).alias(f"__sx{l}__"),
                F.sum(F.when(ll.isNotNull(), F.col("__v__"))).alias(f"__sc{l}__"),
                F.sum(ll).alias(f"__sl{l}__"),
                F.count(ll).cast("double").alias(f"__c{l}__"),
            ]
        raw = staged.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("double").alias("__n__"),
            F.sum("__v__").alias("__sv__"),
            F.sum(F.col("__v__") * F.col("__v__")).alias("__svv__"),
            *lag_aggs,
        )
        n = F.col("__n__")
        mean = F.col("__sv__") / n
        den = F.col("__svv__") - n * mean * mean
        agg = raw.select(
            *keys,
            *[
                F.round(
                    (
                        F.col(f"__sx{l}__")
                        - mean * F.col(f"__sc{l}__")
                        - mean * F.col(f"__sl{l}__")
                        + F.col(f"__c{l}__") * mean * mean
                    )
                    / den,
                    round_to,
                ).alias(f"__a{l}__")
                for l in range(1, lags + 1)
            ],
        )
    else:
        agg = staged.groupBy(*keys).agg(
            *[
                F.round(F.corr(F.col("__v__"), F.col(f"__l{l}__")), round_to).alias(f"__a{l}__")
                for l in range(1, lags + 1)
            ]
        )
    entries = F.explode(
        F.array(
            *[
                F.struct(F.lit(l).alias("lag"), F.col(f"__a{l}__").alias("acf"))
                for l in range(1, lags + 1)
            ]
        )
    )
    out = agg.select(*keys, entries.alias("e")).select(*keys, "e.lag", "e.acf")
    return LazyFrame(out)


def cusum_flags(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    by: "str | list[str] | None" = None,
    threshold: float = 5.0,
    round_to: int = 6,
) -> LazyFrame:
    """CUSUM drift detection: s_t = Σ_{i≤t} (x_i − mean) per key, flagged
    where |s_t| > threshold·std (population).  A sustained level shift
    accumulates linearly in s_t while noise cancels — the standard
    changepoint screen as one stats aggregate + one cumulative window.

    With ``by=None`` the global running sum rides the distsort
    range-bucket + driver-prefix-offset machinery (an unkeyed cumulative
    sum is exactly a prefix total): no single-partition window at any
    scale, same shape as the global rank statistics."""
    sdf = _sdf(frame)
    base_cols = sdf.columns
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    stats = sdf.groupBy(*keys).agg(
        F.avg(v).alias("__m__"), F.sqrt(F.var_pop(v)).alias("__s__")
    )
    if keys:
        joined = sdf.join(stats, keys)
        w = Window.partitionBy(*keys).orderBy(F.col(order_col)).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cusum = F.sum(v - F.col("__m__")).over(w)
    else:
        from .distsort import with_bucket_offsets

        joined = sdf.join(F.broadcast(stats))
        joined, bcol, _totals = with_bucket_offsets(
            joined, order_col, {"d": v - F.col("__m__")}
        )
        w = Window.partitionBy(bcol).orderBy(F.col(order_col)).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cusum = F.col("__off_d__") + F.sum(v - F.col("__m__")).over(w)
    out = joined.select(
        *base_cols,
        F.round(cusum, round_to).alias("cusum"),
        F.when(
            F.col("__s__") > 0, F.abs(cusum) > threshold * F.col("__s__")
        ).otherwise(F.lit(False)).alias("is_drift"),
    )
    return LazyFrame(out)


def trimmed_mean_by_key(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    trim: float = 0.1,
    round_to: int = 6,
) -> LazyFrame:
    """Per-key trimmed mean: average of values inside the [trim, 1−trim]
    quantile band (exact bounds).  Keyed: two aggregates — the per-key
    bounds (percentile buffers bounded per key), then the band-filtered
    mean.  Global (no ``by``): the bounds come from distsort
    ``exact_quantiles`` — same values as the global ``F.percentile``
    aggregate it replaces (Spark's interpolation formula bit-for-bit)
    without that plan's single merging reducer buffering and sorting the
    whole column on one task at 100 TB; the bounds then ride the final
    aggregate as literals (no keyless join).

    EAGER NOTE (exact path): the quantile pass runs Spark jobs at
    plan-CONSTRUCTION time and freezes the bounds as plan literals — the
    call is not fully lazy, and the bounds reflect the source as of this
    call."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    if keys:
        bounds = sdf.groupBy(*keys).agg(
            F.percentile(v, F.lit(float(trim))).alias("__lo__"),
            F.percentile(v, F.lit(1.0 - float(trim))).alias("__hi__"),
        )
        joined = sdf.join(bounds, keys)
        band = v.between(F.col("__lo__"), F.col("__hi__"))
    else:
        from .distsort import exact_quantiles

        lo_v, hi_v = exact_quantiles(
            sdf, v, [float(trim), 1.0 - float(trim)]
        )
        lo = F.lit(lo_v).cast("double")
        hi = F.lit(hi_v).cast("double")
        joined = sdf
        band = v.between(lo, hi)
    out = (
        joined.groupBy(*keys)
        .agg(
            F.round(F.avg(F.when(band, v)), round_to).alias("trimmed_mean"),
            F.count(F.when(band, F.lit(1))).cast("long").alias("n_used"),
        )
    )
    return LazyFrame(out)


def with_rank_normalized(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    out_col: str = "rank_norm",
    round_to: int = 6,
) -> LazyFrame:
    """Quantile (rank) normalization: map values to (0, 1) uniformly within
    each key via (avg_rank − 0.5) / n — ties share their average rank, so
    equal inputs get equal outputs and the result is distribution-free (the
    feature-engineering standard before mixing heterogeneous score columns).
    Per ``by`` key one window (rank + tie count ride the same ordering) +
    the group count; the GLOBAL path (``by=None``) builds the value →
    avg_rank table from distinct-value counts — over deterministic
    percentile range buckets (operators/distsort.py) for numeric columns,
    and over Spark's own range-sort exchange (orderBy +
    spark_partition_id as the bucket, frozen behind a persist) for any
    other orderable type (strings, dates) — and joins it back: no
    single-partition window for ANY dtype.  Null values pass through as
    null."""
    from pyspark.sql.types import NumericType

    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col)
    if not keys:
        from .distsort import with_bucket_offsets, with_prefix_offsets

        d = (
            sdf.filter(v.isNotNull())
            .groupBy(v.alias("__v__"))
            .agg(F.count(F.lit(1)).alias("__cnt__"))
        )
        if isinstance(sdf.schema[value_col].dataType, NumericType):
            d = register_cache(d)
            d3, gb, totals = with_bucket_offsets(d, "__v__", {"cnt": F.col("__cnt__")})
        else:
            # non-numeric: Spark's range partitioner orders any orderable
            # type; the partition id IS a range bucket.  Persist freezes
            # the sampled boundaries so the prefix pass and the final
            # window see the same assignment.
            gb = "__gb__"
            d2 = register_cache(
                d.orderBy(F.col("__v__")).withColumn(gb, F.spark_partition_id())
            )
            d3, totals = with_prefix_offsets(d2, gb, {"cnt": F.col("__cnt__")})
        n = float(totals.get("cnt", 0) or 0)
        wexcl = (
            Window.partitionBy(gb)
            .orderBy(F.col("__v__"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cumb = F.col("__off_cnt__") + F.coalesce(F.sum("__cnt__").over(wexcl), F.lit(0))
        avg_rank = cumb + (F.col("__cnt__") + F.lit(1)) / 2.0
        ranks = d3.select(
            "__v__",
            F.round((avg_rank - 0.5) / F.lit(max(n, 1.0)), round_to).alias(out_col),
        )
        out = sdf.join(ranks, v == F.col("__v__"), "left").drop("__v__")
        return LazyFrame(out)
    wp = Window.partitionBy(*keys) if keys else Window.partitionBy()
    # nulls must sort LAST or they consume rank 1 and shift everything
    w = wp.orderBy(v.asc_nulls_last())
    # average rank of a tie group = rank + (ties-1)/2, from ONE window order
    rk = F.rank().over(w)
    ties = F.count(v).over(wp.orderBy(v.asc_nulls_last()).rangeBetween(0, 0))
    n = F.count(v).over(wp)
    avg_rank = rk + (ties - F.lit(1)) / 2.0
    out = sdf.withColumn(
        out_col,
        F.when(v.isNotNull(), F.round((avg_rank - 0.5) / n, round_to)),
    )
    return LazyFrame(out)


def psi_report(
    ref: "LazyFrame | SparkDF",
    cur: "LazyFrame | SparkDF",
    value_col: str,
    n_bins: int = 10,
    breaks: "list[float] | None" = None,
    eps: float = 1e-6,
    round_to: int = 6,
) -> LazyFrame:
    """Population Stability Index between a reference and a current
    distribution of ``value_col`` — THE train/serve drift probe for a quality
    score or feature column (PSI < 0.1 stable, > 0.25 shifted).

    Bin edges are ``n_bins`` equal-width bins over the REFERENCE min/max
    (or explicit ``breaks``, len = n_bins+1 ascending); current values
    outside the reference range clamp into the edge bins, so drift OUT of
    the training range is visible as edge-bin mass, never dropped.  Shares
    are floored at ``eps`` so empty bins keep the sum finite (standard PSI
    practice).  All ``n_bins`` bins are materialized from a literal grid —
    empty bins appear with p=eps rather than vanishing.

    Shuffle shape: one tiny min/max aggregate on ref (1-row broadcast),
    one bin-keyed count per side (map-side combine), a bins-sized join —
    output is exactly ``n_bins`` rows regardless of input size.  Output:
    bin, lo, hi, p_ref, p_cur, psi_term (sum psi_term for the index).
    """
    rdf, cdf = _sdf(ref), _sdf(cur)
    v = F.col(value_col).cast("double")
    if breaks is not None:
        if len(breaks) < 2 or sorted(breaks) != list(breaks):
            raise ValueError("breaks must be ascending with at least 2 edges")
        edges = [float(b) for b in breaks]
        n_bins = len(edges) - 1
        spark = rdf.sparkSession
        grid = spark.range(n_bins).select(
            F.col("id").cast("int").alias("bin"),
            F.element_at(F.lit(edges), F.col("id").cast("int") + 1).alias("lo"),
            F.element_at(F.lit(edges), F.col("id").cast("int") + 2).alias("hi"),
        )
        def binned(df):
            # bin = number of interior edges ≤ v, clamped into [0, n_bins-1]
            # (out-of-range values land in the edge bins, same as the
            # ref-min/max path)
            le = F.lit(0)
            for e in edges[1:-1]:
                le = le + (v >= F.lit(e)).cast("int")
            return df.filter(v.isNotNull()).select(
                F.least(F.lit(n_bins - 1), le).cast("int").alias("bin")
            )
    else:
        mm = rdf.agg(F.min(v).alias("mn"), F.max(v).alias("mx"))
        spark = rdf.sparkSession
        grid = (
            spark.range(n_bins)
            .select(F.col("id").cast("int").alias("bin"))
            .join(F.broadcast(mm))
            .select(
                "bin",
                (F.col("mn") + (F.col("mx") - F.col("mn")) * F.col("bin") / n_bins).alias("lo"),
                (F.col("mn") + (F.col("mx") - F.col("mn")) * (F.col("bin") + 1) / n_bins).alias("hi"),
            )
        )
        def binned(df):
            d = df.filter(v.isNotNull()).join(F.broadcast(mm))
            width = (F.col("mx") - F.col("mn")) / n_bins
            raw = F.when(width > 0, F.floor((v - F.col("mn")) / width).cast("int")).otherwise(F.lit(0))
            return d.select(
                F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw)).alias("bin")
            )
    def share(df, name):
        cnt = binned(df).groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
        tot = cnt.agg(F.sum("c").alias("t"))
        return cnt.join(F.broadcast(tot)).select(
            "bin", (F.col("c") / F.col("t")).alias(name)
        )
    e = F.lit(float(eps))
    pr = F.greatest(F.coalesce(F.col("p_ref"), F.lit(0.0)), e)
    pc = F.greatest(F.coalesce(F.col("p_cur"), F.lit(0.0)), e)
    out = (
        grid.join(share(rdf, "p_ref"), "bin", "left")
        .join(share(cdf, "p_cur"), "bin", "left")
        .select(
            "bin",
            F.round(F.col("lo"), round_to).alias("lo"),
            F.round(F.col("hi"), round_to).alias("hi"),
            F.round(pr, round_to).alias("p_ref"),
            F.round(pc, round_to).alias("p_cur"),
            F.round((pc - pr) * F.log(pc / pr), round_to).alias("psi_term"),
        )
    )
    return LazyFrame(out)


def with_k_anonymity(
    frame: "LazyFrame | SparkDF",
    quasi_cols: "list[str]",
    k: int = 5,
    size_col: str = "group_size",
    flag_col: str = "is_k_anonymous",
) -> LazyFrame:
    """Annotate each row with its quasi-identifier equivalence-class size and
    whether that class meets the ``k``-anonymity bar — the release gate for
    training data carrying demographic/segment columns (a class smaller than
    k re-identifies its members).  NULL quasi-identifier values form their
    own class (null-safe grouping), matching the report.

    One keyed window count — shards on the quasi-identifier tuple, no join,
    no collect."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    sdf = _sdf(frame)
    w = Window.partitionBy(*[F.col(c) for c in quasi_cols])
    size = F.count(F.lit(1)).over(w)
    return LazyFrame(
        sdf.withColumn(size_col, size.cast("long")).withColumn(
            flag_col, F.col(size_col) >= F.lit(int(k))
        )
    )


def k_anonymity_report(
    frame: "LazyFrame | SparkDF",
    quasi_cols: "list[str]",
    k: int = 5,
) -> LazyFrame:
    """One-row k-anonymity audit over the quasi-identifier tuple: the
    smallest equivalence class, how many classes/rows fall below ``k``, and
    totals.  Grouping is null-safe (NULL = its own class, like GROUP BY).

    One map-side-combining groupBy + a 5-column all-reduce — output is one
    row at any input size.  Output: min_k, n_groups, n_violating_groups,
    n_violating_rows, n_rows."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    sdf = _sdf(frame)
    grp = sdf.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("__sz__")
    )
    viol = F.col("__sz__") < F.lit(int(k))
    out = grp.agg(
        F.min("__sz__").cast("long").alias("min_k"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(viol.cast("long")).cast("long").alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("__sz__")).otherwise(F.lit(0))).cast("long").alias("n_violating_rows"),
        F.sum("__sz__").cast("long").alias("n_rows"),
    )
    return LazyFrame(out)


def theil_index(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Theil T inequality index — the entropy-based companion to
    :func:`gini_coefficient` (0 = perfectly even, ln n = one holder has
    everything; unlike Gini it DECOMPOSES additively across groups, which
    is why corpus-share audits prefer it):

        T = Σ (xᵢ/Σx)·ln(xᵢ/μ) = Σ(x·ln x)/Σx − ln μ

    — the right-hand identity makes it ONE fused map-side-combining
    aggregate, no sort, no second pass.  Only strictly positive values
    carry Theil mass; zero/negative/null rows are excluded and counted.
    Output (1 row): n, n_excluded, mean, theil."""
    sdf = _sdf(frame)
    x = F.col(value_col).cast("double")
    ok = x.isNotNull() & (x > 0)
    out = sdf.agg(
        F.count(F.when(ok, 1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count(F.when(ok, 1))).cast("long").alias("n_excluded"),
        F.round(F.sum(F.when(ok, x)) / F.count(F.when(ok, 1)), round_to).alias("mean"),
        F.round(
            F.sum(F.when(ok, x * F.log(x))) / F.sum(F.when(ok, x))
            - F.log(F.sum(F.when(ok, x)) / F.count(F.when(ok, 1))),
            round_to,
        ).alias("theil"),
    )
    return LazyFrame(out)


def weighted_quantiles(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    weight_col: str,
    qs: "tuple[float, ...] | list[float]" = (0.25, 0.5, 0.75),
    round_to: int = 6,
) -> LazyFrame:
    """Exact weighted quantiles: for each q, the smallest value whose
    cumulative weight reaches q·W (the left-continuous inverse of the
    weighted CDF) — the sampling-weight / importance-weight form of
    median and friends that a plain percentile can't answer.

    Scale shape: values collapse to DISTINCT levels with summed weights
    map-side; the cumulative weight rides distsort range buckets + driver
    prefix offsets; every requested q resolves in ONE fused conditional
    reduce against literal q·W thresholds (W is exact from the prefix
    totals) — no per-q join, no data-sized window.  Rows with null value
    or null/non-positive weight are excluded.  Output: (q, value,
    total_weight), one row per q ascending."""
    from .distsort import with_bucket_offsets

    qlist = sorted(float(q) for q in qs)
    if not qlist or qlist[0] <= 0 or qlist[-1] > 1:
        raise ValueError("qs must be in (0, 1]")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")

    g = register_cache(
        sdf.filter(v.isNotNull() & w.isNotNull() & (w > 0))
        .groupBy(v.alias("__v__"))
        .agg(F.sum(w).alias("__w__"))
    )
    g3, gb, tot = with_bucket_offsets(g, "__v__", {"w": F.col("__w__")})
    W = float(tot.get("w", 0) or 0)
    if W <= 0:
        raise ValueError("weighted_quantiles: no rows with positive weight")
    wincl = (
        Window.partitionBy(gb)
        .orderBy("__v__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cumw = F.col("__off_w__") + F.sum("__w__").over(wincl)
    staged = g3.select("__v__", cumw.alias("__cw__"))
    # The within-bucket float cumsum can land a few ULPs below the
    # driver-combined total W (different summation order), so the q=1.0
    # threshold q*W == W could miss EVERY row; coalescing each picked
    # value with the global max (free in the same fused reduce) restores
    # the exact answer — a null can only arise from that ULP shortfall at
    # the top of the CDF, where the left-continuous inverse IS the max.
    picked = staged.agg(
        *[
            F.min(F.when(F.col("__cw__") >= q * W, F.col("__v__"))).alias(f"__q{i}__")
            for i, q in enumerate(qlist)
        ],
        F.max("__v__").alias("__vmax__"),
    )
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"),
                    F.round(
                        F.coalesce(F.col(f"__q{i}__"), F.col("__vmax__")), round_to
                    ).alias("value"),
                )
                for i, q in enumerate(qlist)
            ]
        )
    )
    out = picked.select(entries.alias("e")).select(
        "e.q", "e.value", F.round(F.lit(W), round_to).alias("total_weight")
    )
    return LazyFrame(out)


def rmst(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    tau: float,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Restricted mean survival time — the area under the Kaplan–Meier
    curve up to horizon ``tau``: the model-free "average survival time in
    the next τ units" that a median can't give when the curve never
    crosses 0.5, and the standard effect measure when hazards aren't
    proportional.  Builds on :func:`survival_curve` (same censoring
    semantics): RMST = Σ S(tᵢ₋₁)·(min(tᵢ,τ) − min(tᵢ₋₁,τ)) + S(t_last)·
    (τ − min(t_last, τ)), with S = 1 before the first event time.

    Scale shape: the lag over the curve shards on the key.  The GLOBAL
    path reuses survival_curve's bound decision (one count per call): at
    most 65,536 time cells (``_bounded.BOUND``, the rule stated in
    operators/distsort.py) take the lag in one window task; above it the
    lag rides halo buckets (1-row predecessor halo) — no single-partition
    window at scale.  Output: [keys...,] tau, n_times, rmst."""
    tau = float(tau)
    if tau <= 0:
        raise ValueError("tau must be > 0")
    keys = [by] if isinstance(by, str) else list(by or [])
    curve, windowed = _km_curve(frame, time_col, event_col, by, 6)
    if windowed:
        w = Window.partitionBy(*keys).orderBy("t")
        staged = curve
        halo_col = None
    else:
        from .distsort import with_halo_buckets

        staged, bcol, halo_col = with_halo_buckets(curve, "t", before=1)
        w = Window.partitionBy(bcol).orderBy("t")
    pt = F.coalesce(F.lag("t").over(w), F.lit(0.0))
    ps = F.coalesce(F.lag("survival").over(w), F.lit(1.0))
    seg = ps * (F.least(F.col("t"), F.lit(tau)) - F.least(pt, F.lit(tau)))
    staged = staged.select(*keys, "t", "survival", seg.alias("__seg__"), *(
        [F.col(halo_col)] if halo_col else []
    ))
    if halo_col:
        staged = staged.filter(~F.col(halo_col)).drop(halo_col)
    agg = staged.groupBy(*keys).agg(
        F.sum("__seg__").alias("__area__"),
        F.max(F.struct(F.col("t"), F.col("survival"))).alias("__last__"),
        F.count(F.lit(1)).cast("long").alias("n_times"),
    )
    tail = F.col("__last__.survival") * F.greatest(
        F.lit(0.0), F.lit(tau) - F.least(F.col("__last__.t"), F.lit(tau))
    )
    out = agg.select(
        *keys,
        F.lit(tau).alias("tau"),
        F.col("n_times"),
        F.round(F.col("__area__") + tail, round_to).alias("rmst"),
    )
    return LazyFrame(out)


def gini_coefficient(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Gini concentration coefficient of ``value_col``: G = 2·Σᵢ i·x₍ᵢ₎ /
    (n·Σx) − (n+1)/n over the ascending sort — "how dominated is my corpus
    by a few sources" as one number (0 = uniform, →1 = one source is
    everything).  Ties are permutation-invariant (equal values contribute
    the same Σ i·x under any tie order), so the result is deterministic.
    Intended for non-negative quantities (bytes, doc counts, revenue);
    a zero or negative total yields null.

    Per-key (``by=``) shards the sort on the key.  The GLOBAL path never
    runs a single-partition window: values collapse to a DISTINCT-value
    (count, value) table and the rank-run sum Σ i·x over a tie run of c
    copies of v starting after m rows is v·(c·m + c(c+1)/2) — global run
    starts come from deterministic range buckets + driver prefix offsets
    (operators/distsort.py).  Output: [keys...,] gini, n."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    if by is not None:
        keys = [by] if isinstance(by, str) else list(by)
        base = sdf.filter(v.isNotNull()).select(*keys, v.alias("__x__"))
        w = Window.partitionBy(*keys).orderBy(F.col("__x__"))
        rn = F.row_number().over(w)
        staged = base.select(*keys, "__x__", rn.alias("__i__"))
        agg = staged.groupBy(*keys).agg(
            F.sum(F.col("__i__") * F.col("__x__")).alias("iw"),
            F.sum("__x__").alias("sx"),
            F.count(F.lit(1)).alias("n"),
        )
    else:
        from .distsort import with_bucket_offsets

        d = register_cache(
            sdf.filter(v.isNotNull())
            .groupBy(v.alias("__x__"))
            .agg(F.count(F.lit(1)).alias("__c__"))
        )
        d3, gb, _tot = with_bucket_offsets(d, "__x__", {"cnt": F.col("__c__")})
        wexcl = (
            Window.partitionBy(gb)
            .orderBy(F.col("__x__"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        m = F.col("__off_cnt__") + F.coalesce(F.sum("__c__").over(wexcl), F.lit(0))
        c = F.col("__c__")
        run_iw = F.col("__x__") * (c * m + c * (c + 1) / 2.0)
        staged = d3.select(
            run_iw.alias("__iw__"),
            (F.col("__x__") * c).alias("__sx__"),
            c.alias("__c__"),
        )
        agg = staged.agg(
            F.sum("__iw__").alias("iw"),
            F.sum("__sx__").alias("sx"),
            F.sum("__c__").alias("n"),
        )
        keys = []
    g = F.when(
        (F.col("n") > 0) & (F.col("sx") > 0),
        2.0 * F.col("iw") / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1.0) / F.col("n"),
    )
    out = agg.select(
        *keys,
        F.round(g, round_to).alias("gini"),
        F.col("n").cast("long").alias("n"),
    )
    return LazyFrame(out)


def benford_report(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Benford first-significant-digit audit of ``value_col``: per digit
    1-9 the observed share vs the Benford expectation log₁₀(1+1/d) and the
    χ² contribution — the classic fabricated/synthetic-numbers screen for
    an ingested table (sum chi2_term ≫ 20 on natural wide-range data is a
    red flag).  Zeros and nulls carry no leading digit and are excluded.

    The digit comes from p = 10^⌊log₁₀|x|⌋ with a one-step correction
    (p > |x| → p/10; 10p ≤ |x| → 10p), so a ±1 ULP libm log₁₀ never
    misplaces the decade.  One map-side-combining 9-group aggregate joined
    onto a literal digit grid (all 9 digits always present) — output is 9
    rows at any input size.  Output: digit, n_d, p_obs, p_exp, chi2_term."""
    import math

    sdf = _sdf(frame)
    x = F.abs(F.col(value_col).cast("double"))
    ok = F.col(value_col).isNotNull() & (x > 0)
    p0 = F.pow(F.lit(10.0), F.floor(F.log10(x)).cast("double"))
    p1 = F.when(p0 > x, p0 / 10.0).otherwise(p0)
    p = F.when(p1 * 10.0 <= x, p1 * 10.0).otherwise(p1)
    digit = F.floor(x / p).cast("int")
    counts = (
        sdf.filter(ok)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    tot = counts.agg(F.sum("n_d").alias("n"))
    spark = sdf.sparkSession
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    exp_p = F.log10(1.0 + 1.0 / F.col("digit"))
    nd = F.coalesce(F.col("n_d"), F.lit(0))
    obs = nd / F.col("n")
    out = (
        grid.join(counts, "digit", "left")
        .join(F.broadcast(tot))
        .select(
            "digit",
            nd.cast("long").alias("n_d"),
            F.round(obs, round_to).alias("p_obs"),
            F.round(exp_p, round_to).alias("p_exp"),
            F.round(
                (nd - F.col("n") * exp_p) * (nd - F.col("n") * exp_p)
                / (F.col("n") * exp_p),
                round_to,
            ).alias("chi2_term"),
        )
    )
    return LazyFrame(out)


def with_scaled(
    frame: "LazyFrame | SparkDF",
    cols: "list[str]",
    method: str = "zscore",
    by: "str | list[str] | None" = None,
    suffix: str = "_scaled",
    round_to: int | None = None,
) -> LazyFrame:
    """Feature scaling for model-input prep: ``zscore`` = (x − mean)/std
    (population std), ``minmax`` = (x − min)/(max − min), ``robust`` =
    (x − median)/IQR — each appended as ``<col><suffix>``.  Zero spread
    (constant column) scales to null rather than dividing by zero; null
    inputs stay null.

    ONE grouped aggregate computes the stats for ALL columns (fused), then
    one join back — global stats ride a 1-row broadcast, per-key (``by=``)
    stats join on the key (AQE broadcasts small stat sides).  zscore/minmax
    stats combine map-side; per-key robust median/IQR uses the exact
    percentile buffer (bounded per key); GLOBAL robust stats come from
    ONE distsort ``exact_quantiles_multi`` pass over all columns —
    identical values to the global ``F.percentile`` aggregate they
    replace, with no single merging reducer buffering the whole column at
    100 TB (the scaled math then rides literals, no keyless join for the
    robust path).

    EAGER NOTE (global robust only): the quantile pass runs Spark jobs at
    plan-CONSTRUCTION time and freezes median/IQR as plan literals — the
    returned frame is not fully lazy, and the bounds reflect the input as
    of this call (re-collect after the source changes to refresh them).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    lits: "dict[str, tuple] | None" = None
    if method == "robust" and not keys:
        # ONE shared scan for every column's exact median/IQR (the r12
        # per-column loop re-ran the full input scan+combine per column);
        # NOTE this path evaluates eagerly at plan-construction time and
        # freezes the quantile bounds as literals — see the docstring.
        from .distsort import exact_quantiles_multi

        qs = exact_quantiles_multi(
            sdf, {c: F.col(c).cast("double") for c in cols}, [0.25, 0.5, 0.75]
        )
        lits = {}
        for c in cols:
            q1, med, q3 = qs[c]
            spr = None if (q1 is None or q3 is None) else q3 - q1
            lits[c] = (med, spr)
    aggs = []
    for c in cols:
        v = F.col(c).cast("double")
        if method == "zscore":
            aggs += [
                F.avg(v).alias(f"__ctr_{c}__"),
                F.stddev_pop(v).alias(f"__spr_{c}__"),
            ]
        elif method == "minmax":
            aggs += [
                F.min(v).alias(f"__ctr_{c}__"),
                (F.max(v) - F.min(v)).alias(f"__spr_{c}__"),
            ]
        elif method == "robust":
            if lits is None:
                aggs += [
                    F.percentile(v, F.lit(0.5)).alias(f"__ctr_{c}__"),
                    (
                        F.percentile(v, F.lit(0.75)) - F.percentile(v, F.lit(0.25))
                    ).alias(f"__spr_{c}__"),
                ]
        else:
            raise ValueError(f"unknown method {method!r}")
    if lits is not None:
        joined = sdf
        ctr_spr = {
            c: (
                F.lit(lits[c][0]).cast("double"),
                F.lit(lits[c][1]).cast("double"),
            )
            for c in cols
        }
    else:
        stats = sdf.groupBy(*keys).agg(*aggs)
        joined = sdf.join(stats, keys) if keys else sdf.join(F.broadcast(stats))
        ctr_spr = {
            c: (F.col(f"__ctr_{c}__"), F.col(f"__spr_{c}__")) for c in cols
        }
    out_cols = [F.col(c) for c in sdf.columns]
    for c in cols:
        v = F.col(c).cast("double")
        ctr, spr = ctr_spr[c]
        scaled = F.when(spr > 0, (v - ctr) / spr)
        if round_to is not None:
            scaled = F.round(scaled, round_to)
        out_cols.append(scaled.alias(f"{c}{suffix}"))
    return LazyFrame(joined.select(*out_cols))


def l_diversity_report(
    frame: "LazyFrame | SparkDF",
    quasi_cols: "list[str]",
    sensitive_col: str,
    l: int = 2,
) -> LazyFrame:
    """One-row l-diversity audit: within each quasi-identifier equivalence
    class, how many DISTINCT values of the sensitive attribute appear — a
    class where everyone shares one sensitive value leaks it even when
    k-anonymity holds (the standard companion check to
    :func:`k_anonymity_report`).  Null-safe grouping; null sensitive values
    count as a distinct value (they are an observable outcome).

    One two-level aggregate (distinct-per-group via a (quasi, sensitive)
    pre-group, both map-side combining) + a 4-column all-reduce.
    Output: min_l, n_groups, n_violating_groups, n_rows."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    sdf = _sdf(frame)
    qs = [F.col(c) for c in quasi_cols]
    cells = sdf.groupBy(*qs, F.col(sensitive_col)).agg(
        F.count(F.lit(1)).alias("__n__")
    )
    grp = cells.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("__nl__"), F.sum("__n__").alias("__sz__")
    )
    viol = F.col("__nl__") < F.lit(int(l))
    out = grp.agg(
        F.min("__nl__").cast("long").alias("min_l"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(viol.cast("long")).cast("long").alias("n_violating_groups"),
        F.sum("__sz__").cast("long").alias("n_rows"),
    )
    return LazyFrame(out)


def survival_curve(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Kaplan–Meier survival estimator with right-censoring: rows are
    subjects, ``time_col`` the observation time, ``event_col`` truthy if the
    event (churn/failure/death) occurred at that time and falsy if the
    subject was censored then.  S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over distinct
    event times — the churn/retention curve done right (censoring-aware,
    unlike a naive survival fraction).

    Scale shape: the subject table collapses to DISTINCT (key, time) rows
    first (one map-side-combining aggregate), so all windows ride on time
    cardinality, not subjects.  Per-key (``by=``) windows shard on the key.
    The GLOBAL path takes the one bound rule of operators/distsort.py:
    the time cells are cached and counted once, and at most 65,536 cells
    (``_bounded.BOUND``) run the keyed windows with an empty key — one
    task over the cells.  Above the bound both running sums (at-risk
    counts and Σ ln(1−d/n)) ride range buckets + driver prefix offsets, so
    no single-partition window runs at scale.  Keep ``time_col`` at a
    sensible granularity (day/week buckets) — the output has one row per
    distinct time.

    Output: [keys...,] t, n_risk, d (events), c (censored), survival —
    survival is the post-t value, rows only at times with ≥1 event or
    censoring.  S hits exact 0 when the last at-risk subject events."""
    return LazyFrame(_km_curve(frame, time_col, event_col, by, round_to)[0])


def _km_curve(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    by: "str | list[str] | None",
    round_to: int,
) -> "tuple[SparkDF, bool]":
    """survival_curve's body.  Returns ``(curve, windowed)``: ``windowed``
    is True when the curve came from the keyed window form (per key, or
    unkeyed below the bound), so a consumer can run its own window over
    the curve under the same decision without counting again."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    t = F.col(time_col).cast("double")
    ev = (F.col(event_col).cast("double") > 0).cast("long")
    base = sdf.filter(t.isNotNull() & F.col(event_col).isNotNull())
    grp = base.groupBy(*keys, t.alias("t")).agg(
        F.sum(ev).alias("d"), F.sum(1 - ev).alias("c")
    )
    small = False
    if not keys:
        grp, _n, small = bounded(grp, "survival_curve")
    if keys or small:
        wtot = Window.partitionBy(*keys)
        wexcl = (
            Window.partitionBy(*keys)
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        n_total = F.sum(F.col("d") + F.col("c")).over(wtot)
        n_risk = n_total - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(wexcl), F.lit(0)
        )
        term = 1.0 - F.col("d") / n_risk
        logv = F.when((F.col("d") > 0) & (term > 0), F.log(term)).otherwise(F.lit(0.0))
        zflag = F.when((F.col("d") > 0) & (term <= 0), 1).otherwise(0)
        staged = grp.select(
            *keys, "t", "d", "c", n_risk.alias("n_risk"),
            logv.alias("__lg__"), zflag.alias("__zf__"),
        )
        cum_lg = F.sum("__lg__").over(
            Window.partitionBy(*keys).orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        )
        cum_zf = F.sum("__zf__").over(
            Window.partitionBy(*keys).orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        )
        out = staged.select(
            *keys, "t",
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d"),
            F.col("c").cast("long").alias("c"),
            F.round(
                F.when(cum_zf > 0, F.lit(0.0)).otherwise(F.exp(cum_lg)), round_to
            ).alias("survival"),
        )
        return out, True
    from .distsort import with_bucket_offsets, with_prefix_offsets

    d3, gb, tot = with_bucket_offsets(grp, "t", {"dc": F.col("d") + F.col("c")})
    n_total = float(tot["dc"])
    wexcl = (
        Window.partitionBy(gb).orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    n_risk = F.lit(n_total) - (
        F.col("__off_dc__")
        + F.coalesce(F.sum(F.col("d") + F.col("c")).over(wexcl), F.lit(0))
    )
    term = 1.0 - F.col("d") / n_risk
    logv = F.when((F.col("d") > 0) & (term > 0), F.log(term)).otherwise(F.lit(0.0))
    zflag = F.when((F.col("d") > 0) & (term <= 0), 1).otherwise(0)
    staged = register_cache(
        d3.select(
            gb, "t", "d", "c", n_risk.alias("n_risk"),
            logv.alias("__lg__"), zflag.alias("__zf__"),
        )
    )
    s2, _tot2 = with_prefix_offsets(
        staged, gb, {"lg": F.col("__lg__"), "zf": F.col("__zf__")}
    )
    wincl = (
        Window.partitionBy(gb).orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_lg = F.col("__off_lg__") + F.sum("__lg__").over(wincl)
    cum_zf = F.col("__off_zf__") + F.sum("__zf__").over(wincl)
    out = s2.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.col("c").cast("long").alias("c"),
        F.round(
            F.when(cum_zf > 0, F.lit(0.0)).otherwise(F.exp(cum_lg)), round_to
        ).alias("survival"),
    )
    return out, False


def time_weighted_average(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    value_col: str,
    by: "str | list[str] | None" = None,
    method: str = "trapezoid",
    round_to: int = 6,
) -> LazyFrame:
    """Time-weighted average of an irregularly sampled signal per key:
    trapezoid = Σ Δt·(vᵢ+vᵢ₊₁)/2 / (t_n − t₀) (linear between samples),
    ``step`` = Σ Δt·vᵢ / (t_n − t₀) (last-observation-carried-forward) —
    the honest mean for sensor/price/gauge data where a plain avg
    over-weights bursts of samples.

    One lag window per key + one aggregate.  Keys with a single sample (no
    span) yield that value; null values/timestamps are excluded.  With
    ``by=None`` the lag-1 window rides distsort halo buckets (each bucket
    borrows its predecessor's last sample), so the global form is exact
    AND distributed — no single-partition window at any scale.  Output:
    [keys...,] twa, t_min, t_max, n."""
    if method not in ("trapezoid", "step"):
        raise ValueError("method must be trapezoid or step")
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    ts = F.col(ts_col).cast("timestamp")
    tsec = F.unix_micros(ts) / 1e6
    v = F.col(value_col).cast("double")
    base = sdf.filter(ts.isNotNull() & v.isNotNull()).select(
        *keys, tsec.alias("__t__"), v.alias("__v__")
    )
    if keys:
        w = Window.partitionBy(*keys).orderBy("__t__")
        halo_col = None
    else:
        from .distsort import with_halo_buckets

        base, bcol, halo_col = with_halo_buckets(base, "__t__", before=1)
        w = Window.partitionBy(bcol).orderBy("__t__")
    pt, pv = F.lag("__t__").over(w), F.lag("__v__").over(w)
    dt = F.col("__t__") - pt
    area = dt * (pv + F.col("__v__")) / 2.0 if method == "trapezoid" else dt * pv
    staged = base.select(*keys, "__t__", "__v__", area.alias("__a__"), *(
        [F.col(halo_col)] if halo_col else []
    ))
    if halo_col:
        staged = staged.filter(~F.col(halo_col)).drop(halo_col)
    agg = staged.groupBy(*keys).agg(
        F.sum("__a__").alias("area"),
        F.min("__t__").alias("t0"),
        F.max("__t__").alias("t1"),
        F.count(F.lit(1)).alias("n"),
        F.avg("__v__").alias("vbar"),
    )
    span = F.col("t1") - F.col("t0")
    twa = F.when(span > 0, F.col("area") / span).otherwise(F.col("vbar"))
    out = agg.select(
        *keys,
        F.round(twa, round_to).alias("twa"),
        F.to_timestamp(F.col("t0")).alias("t_min"),
        F.to_timestamp(F.col("t1")).alias("t_max"),
        F.col("n").cast("long").alias("n"),
    )
    return LazyFrame(out)


def target_encode(
    frame: "LazyFrame | SparkDF",
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    round_to: int = 6,
) -> LazyFrame:
    """Smoothed mean target encoding table: per category, the
    shrinkage-blended target mean enc = (Σy + m·prior) / (n + m) with
    ``m = smoothing`` pseudo-observations of the global prior — the
    high-cardinality-categorical feature encoder (rare categories shrink to
    the prior instead of memorizing noise).

    One map-side-combining aggregate keyed on the category plus a 1-row
    broadcast for the prior; output is category-cardinality-sized.  Null
    categories form their own group (they encode like any other level).
    Rows with a null target are excluded from both the prior and the
    per-category statistics.

    Output: (cat_col, n, target_mean, encoding)."""
    sdf = _sdf(frame)
    m = float(smoothing)
    if m < 0:
        raise ValueError("smoothing must be >= 0")
    y = F.col(target_col).cast("double")
    base = sdf.filter(y.isNotNull()).select(F.col(cat_col), y.alias("__y__"))
    per_cat = base.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y__").alias("__sum__")
    )
    prior = base.agg(F.avg("__y__").alias("__prior__"))
    out = per_cat.join(F.broadcast(prior)).select(
        cat_col,
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__sum__") / F.col("n"), round_to).alias("target_mean"),
        F.round(
            (F.col("__sum__") + F.lit(m) * F.col("__prior__")) / (F.col("n") + F.lit(m)),
            round_to,
        ).alias("encoding"),
    )
    return LazyFrame(out)


def with_target_encoded(
    frame: "LazyFrame | SparkDF",
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    out_col: "str | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Row-level companion of :func:`target_encode`: attaches the smoothed
    encoding to every row as ``out_col`` (default ``{cat_col}_enc``).

    The encodings table is category-cardinality-sized and joins back via an
    explicit broadcast (null-safe on the category so null levels get their
    encoding too); unseen-at-scoring categories would get the global prior —
    here every row's category is by construction in the table, so the
    fallback only matters for rows whose target was null everywhere in the
    category (they fall back to the prior as well)."""
    sdf = _sdf(frame)
    out_col = out_col or f"{cat_col}_enc"
    enc = target_encode(sdf, cat_col, target_col, smoothing, round_to=12).spark.select(
        F.col(cat_col).alias("__cat__"), F.col("encoding").alias("__enc__")
    )
    prior = (
        sdf.filter(F.col(target_col).isNotNull())
        .agg(F.avg(F.col(target_col).cast("double")).alias("__prior__"))
    )
    joined = (
        sdf.join(F.broadcast(enc), F.col(cat_col).eqNullSafe(F.col("__cat__")), "left")
        .join(F.broadcast(prior))
        .select(
            *sdf.columns,
            F.round(F.coalesce(F.col("__enc__"), F.col("__prior__")), round_to).alias(out_col),
        )
    )
    return LazyFrame(joined)


def markov_transitions(
    frame: "LazyFrame | SparkDF",
    state_col: str,
    ts_col: str,
    by: "str | list[str] | None" = None,
    tie_cols: "list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """First-order Markov transition matrix over event sequences: for each
    observed (from_state, to_state) adjacency (consecutive events within a
    ``by`` sequence, ordered by ``ts_col`` then ``tie_cols``), the count and
    the row-normalized probability P(to | from) — the behavioral model
    behind next-event prediction, anomalous-flow detection and funnel
    generalization.

    One lag window sharded on the sequence key + two map-side-combining
    aggregates (pair counts, then a from-state total attached by a
    broadcast-sized join bounded by state cardinality).  Null states and
    sequence-initial events (no predecessor) contribute no transition.
    With ``by=None`` and a temporal/numeric ``ts_col`` the lag-1 window
    rides distsort halo buckets (exact and distributed — no
    single-partition stage); a non-orderable-numeric ts falls back to the
    warned global window.

    Output: (from_state, to_state, n, p) with Σ_to p = 1 per from_state."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    ties = list(tie_cols or [])
    ordn = None if keys else _halo_order(sdf, ts_col)
    if keys or ordn is None:
        order = [F.col(ts_col)] + [F.col(c) for c in ties]
        w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
        if not keys:
            from ..exprs import _warn_single_partition

            _warn_single_partition("markov_transitions(by=None, non-numeric ts)")
        staged = sdf.select(
            F.col(state_col).alias("__to__"),
            F.lag(F.col(state_col)).over(w).alias("__from__"),
        )
    else:
        from .distsort import with_halo_buckets

        pre = sdf.select(
            F.col(state_col).alias("__st__"),
            ordn.alias("__ord__"),
            *[F.col(c) for c in ties],
        )
        haloed, bcol, halo_col = with_halo_buckets(
            pre, "__ord__", before=1, tie_cols=ties
        )
        w = Window.partitionBy(bcol).orderBy(
            F.col("__ord__"), *[F.col(c) for c in ties]
        )
        staged = (
            haloed.select(
                F.col("__st__").alias("__to__"),
                F.lag("__st__").over(w).alias("__from__"),
                F.col(halo_col),
            )
            .filter(~F.col(halo_col))
            .drop(halo_col)
        )
    staged = staged.filter(F.col("__from__").isNotNull() & F.col("__to__").isNotNull())
    pairs = staged.groupBy("__from__", "__to__").agg(F.count(F.lit(1)).alias("n"))
    totals = pairs.groupBy("__from__").agg(F.sum("n").alias("__tot__"))
    out = pairs.join(F.broadcast(totals), "__from__").select(
        F.col("__from__").alias("from_state"),
        F.col("__to__").alias("to_state"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("__tot__"), round_to).alias("p"),
    )
    return LazyFrame(out)


def sessionize(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    by: "str | list[str] | None" = None,
    gap: str = "30 minutes",
    tie_cols: "list[str] | None" = None,
    session_col: str = "session_id",
) -> LazyFrame:
    """Gap-based session labeling (the row-labeling sibling of
    :func:`find_gaps`): within each ``by`` sequence ordered by ``ts_col``
    (then ``tie_cols``), a new session starts at the first event and at any
    event whose time since the previous one exceeds ``gap``.  Adds
    ``session_col`` — the 1-based session index within the key, so the full
    session identity is (*by, session_id*).

    Two windows (lag flag + running sum of flags) over the SAME key
    partitioning/order — Spark plans ONE Exchange and sorts once; with
    ``by`` given, state shards on the key and no partition ever holds more
    than one key's rows (the at-scale contract).  With ``by=None`` the
    lag flag rides distsort halo buckets (each bucket borrows the
    predecessor's last event) and the global running session count is the
    bucket-local running sum plus a driver prefix offset of per-bucket
    flag totals — exact and distributed, no single-partition window; a
    non-orderable-numeric ts falls back to the warned global window."""
    sdf = _sdf(frame)
    base_cols = sdf.columns
    keys = [by] if isinstance(by, str) else list(by or [])
    ties = list(tie_cols or [])
    ts = F.col(ts_col).cast("timestamp")
    gap_lim = F.lit(_interval_seconds(gap))
    ordn = None if keys else _halo_order(sdf, ts_col)
    if keys or ordn is None:
        order = [F.col(ts_col)] + [F.col(c) for c in ties]
        w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
        if not keys:
            from ..exprs import _warn_single_partition

            _warn_single_partition("sessionize(by=None, non-numeric ts)")
        gap_s = F.unix_micros(ts) / 1e6 - F.unix_micros(F.lag(ts).over(w)) / 1e6
        new_flag = F.when(gap_s.isNull() | (gap_s > gap_lim), F.lit(1)).otherwise(F.lit(0))
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = sdf.withColumn(session_col, F.sum(new_flag).over(run).cast("long"))
        return LazyFrame(out)
    from .distsort import with_halo_buckets, with_prefix_offsets

    haloed, bcol, halo_col = with_halo_buckets(
        sdf.withColumn("__ord__", ordn), "__ord__", before=1, tie_cols=ties
    )
    w = Window.partitionBy(bcol).orderBy(F.col("__ord__"), *[F.col(c) for c in ties])
    gap_s = F.unix_micros(ts) / 1e6 - F.unix_micros(F.lag(ts).over(w)) / 1e6
    new_flag = F.when(gap_s.isNull() | (gap_s > gap_lim), F.lit(1)).otherwise(F.lit(0))
    flagged = haloed.withColumn("__nf__", new_flag).filter(~F.col(halo_col))
    offs, _tot = with_prefix_offsets(flagged, bcol, {"nf": F.col("__nf__")})
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = offs.withColumn(
        session_col,
        (F.col("__off_nf__") + F.sum("__nf__").over(run)).cast("long"),
    ).select(*base_cols, session_col)
    return LazyFrame(out)


def session_summary(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    by: "str | list[str] | None" = None,
    gap: str = "30 minutes",
    tie_cols: "list[str] | None" = None,
) -> LazyFrame:
    """One row per session from :func:`sessionize`: (*by, session_id,
    session_start, session_end, n_events, duration_seconds*).  The groupBy
    keys are a superset of the sessionize window keys, so the aggregate
    reuses the session shuffle's co-location (map-side combine on top)."""
    keys = [by] if isinstance(by, str) else list(by or [])
    lab = sessionize(frame, ts_col, by=by, gap=gap, tie_cols=tie_cols).spark
    ts = F.col(ts_col).cast("timestamp")
    out = (
        lab.groupBy(*keys, "session_id")
        .agg(
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .withColumn(
            "duration_seconds",
            F.round(
                F.unix_micros(F.col("session_end")) / 1e6
                - F.unix_micros(F.col("session_start")) / 1e6,
                6,
            ),
        )
    )
    return LazyFrame(out)


def attribution_frame(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    user_col: str,
    event_col: str,
    conversion: str,
    touch_types: "list[str] | None" = None,
    lookback: "str | None" = None,
    tie_cols: "list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Multi-touch attribution: every ``conversion`` event per user claims
    the touch events since that user's previous conversion (and, with
    ``lookback``, no older than that window), and each channel
    (``event_col`` value) receives credit under the three standard models —
    first-touch (1 to the earliest touch), last-touch (1 to the latest),
    linear (1/n to each).  Total credit per model = number of conversions
    that had at least one touch.

    Scale shape: ONE user-keyed window pass assigns touches to their next
    conversion via a reverse running count of conversion flags (no
    touch×conversion join), two more windows on the same (user, segment)
    partitioning rank touches and count them, then one channel aggregate.
    Ties at the first/last timestamp break on ``tie_cols`` so credit is
    deterministic.  Output: (channel, first_touch, last_touch, linear),
    channels with zero credit omitted."""
    sdf = _sdf(frame)
    order = [F.col(ts_col)] + [F.col(c) for c in (tie_cols or [])]
    wu = Window.partitionBy(user_col).orderBy(*[o.desc() for o in order])
    conv_flag = (F.col(event_col) == conversion).cast("int")
    seg = F.sum(conv_flag).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = sdf.withColumn("__seg__", seg).filter(F.col("__seg__") > 0)
    wseg = Window.partitionBy(user_col, "__seg__")
    conv_ts = F.max(
        F.when(F.col(event_col) == conversion, F.col(ts_col).cast("timestamp"))
    ).over(wseg)
    is_touch = F.col(event_col) != conversion
    if touch_types is not None:
        is_touch = F.col(event_col).isin(list(touch_types))
    if lookback is not None:
        is_touch = is_touch & (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            >= F.unix_micros(F.col("__ct__"))
            - F.lit(int(_interval_seconds(lookback) * 1e6))
        )
    touches = staged.withColumn("__ct__", conv_ts).filter(
        is_touch & (F.col(ts_col).cast("timestamp") < F.col("__ct__"))
    )
    wseq = Window.partitionBy(user_col, "__seg__").orderBy(*order)
    wseq_d = Window.partitionBy(user_col, "__seg__").orderBy(*[o.desc() for o in order])
    scored = (
        touches.withColumn("__rn_a__", F.row_number().over(wseq))
        .withColumn("__rn_d__", F.row_number().over(wseq_d))
        .withColumn("__n__", F.count(F.lit(1)).over(wseg))
    )
    out = (
        scored.groupBy(F.col(event_col).alias("channel"))
        .agg(
            F.round(F.sum((F.col("__rn_a__") == 1).cast("double")), round_to).alias("first_touch"),
            F.round(F.sum((F.col("__rn_d__") == 1).cast("double")), round_to).alias("last_touch"),
            F.round(F.sum(1.0 / F.col("__n__")), round_to).alias("linear"),
        )
    )
    return LazyFrame(out)


__all__.append("attribution_frame")


def rfm_frame(
    frame: "LazyFrame | SparkDF",
    user_col: str,
    ts_col: str,
    value_col: str,
    n_bins: int = 5,
    as_of: "str | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """RFM customer segmentation: per user the Recency (days since last
    event, relative to ``as_of`` — default the corpus max date), Frequency
    (event count) and Monetary (value sum), each scored into ``n_bins``
    quantile bands (1..n; recency reversed so the most recent users score
    highest), plus the concatenated segment code ("545").

    One user-keyed map-side-combining aggregate, ONE fused exact-quantile
    edge aggregate over the (small) per-user frame broadcast back as a
    1-row array triple, then pure Column scoring — the lift_table edge
    convention (linear-interpolated exact quantiles).  Monetary rounds
    BEFORE scoring so engine summation-order ulps can't flip a band.
    A value exactly on an edge scores the lower band (strict <).  Users
    with all-null values get null monetary/m_score and no rfm code."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    sdf = _sdf(frame)
    u = (
        sdf.groupBy(F.col(user_col).alias("user"))
        .agg(
            F.max(F.col(ts_col).cast("date")).alias("__last__"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum(F.col(value_col).cast("double")), round_to).alias("monetary"),
        )
    )
    if as_of is None:
        anchor = u.agg(F.max("__last__").alias("__asof__"))
        u = u.join(F.broadcast(anchor))
    else:
        u = u.withColumn("__asof__", F.lit(as_of).cast("date"))
    u = u.withColumn("recency_days", F.datediff("__asof__", "__last__"))
    qs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    edges = u.agg(
        F.percentile(F.col("recency_days").cast("double"), qs).alias("__re__"),
        F.percentile(F.col("frequency").cast("double"), qs).alias("__fe__"),
        F.percentile(F.col("monetary"), qs).alias("__me__"),
    )
    scored = u.join(F.broadcast(edges))

    def below(edges_col, x):
        return F.size(F.filter(F.col(edges_col), lambda e: e < x))

    r_score = F.lit(n_bins) - below("__re__", F.col("recency_days").cast("double"))
    f_score = below("__fe__", F.col("frequency").cast("double")) + 1
    m_score = F.when(
        F.col("monetary").isNotNull(), below("__me__", F.col("monetary")) + 1
    )
    out = scored.select(
        F.col("user").alias(user_col),
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        r_score.cast("int").alias("r_score"),
        f_score.cast("int").alias("f_score"),
        m_score.cast("int").alias("m_score"),
        F.when(
            F.col("monetary").isNotNull(),
            F.concat(
                r_score.cast("string"), f_score.cast("string"), m_score.cast("string")
            ),
        ).alias("rfm"),
    )
    return LazyFrame(out)


__all__.append("rfm_frame")


def abc_analysis(
    frame: "LazyFrame | SparkDF",
    key_col: str,
    value_col: str,
    thresholds: "tuple[float, float]" = (0.8, 0.95),
    round_to: int = 6,
) -> LazyFrame:
    """ABC / Pareto concentration analysis (the 80/20 table): keys ranked
    by total value descending; each key's cumulative share of the grand
    total assigns its class — A while cum-share ≤ t1, B while ≤ t2, C
    beyond (strictly-before-this-key share is compared, so the key that
    CROSSES a threshold still belongs to the higher class, the inventory-
    management convention).

    One key aggregate (map-side combining) collapses rows to keys; the
    ranked cumulative runs over KEYS via the distsort range-bucket +
    prefix-offset machinery — no single-partition window however many keys.
    Ties rank deterministically ((−value, key) bucket order is by value
    only, within-bucket order by value desc then key).  Output:
    (key, value, rank, cum_share, abc_class)."""
    from .distsort import with_bucket_offsets

    t1, t2 = float(thresholds[0]), float(thresholds[1])
    if not (0.0 < t1 < t2 <= 1.0):
        raise ValueError("thresholds must satisfy 0 < t1 < t2 <= 1")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")

    keys = register_cache(
        sdf.filter(v.isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.round(F.sum(v), round_to).alias("value"))
    )
    offs, bcol, totals = with_bucket_offsets(
        keys, "value", {"v": F.col("value"), "c": F.lit(1)}, desc=True
    )
    gtot = float(totals["v"])
    w = Window.partitionBy(bcol).orderBy(F.col("value").desc(), F.col("key"))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.col("__off_v__") + F.sum("value").over(run)
    rank = F.col("__off_c__") + F.row_number().over(w)
    prev_share = (cum - F.col("value")) / F.lit(gtot)
    out = offs.select(
        F.col("key").alias(key_col),
        "value",
        rank.cast("long").alias("rank"),
        F.round(cum / F.lit(gtot), round_to).alias("cum_share"),
        F.when(prev_share < F.lit(t1) - F.lit(1e-12), F.lit("A"))
        .when(prev_share < F.lit(t2) - F.lit(1e-12), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return LazyFrame(out)


def pareto_front(
    frame: "LazyFrame | SparkDF",
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """2-D Pareto frontier (skyline, both dimensions maximized): the rows
    no other row weakly dominates with at least one strict improvement.
    Exact duplicates of a frontier point all stay (neither dominates).

    Scale shape: x collapses to DISTINCT values with their max-y (map-side
    combine); the "max y over all strictly larger x" sweep runs as a
    range-bucketed window with driver PREFIX-MAX offsets (the distsort
    trick with max instead of sum) — no single-partition window however
    many distinct x.  A frontier x-group survives iff its max-y strictly
    exceeds every larger-x max-y; surviving rows are the group's max-y
    rows, recovered with one semi-join back to the input.  Nulls drop."""
    from .distsort import with_prefix_folds, with_range_buckets

    sdf = _sdf(frame)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = sdf.filter(x.isNotNull() & y.isNotNull())

    gx = register_cache(
        base.groupBy(x.alias("__x__")).agg(F.max(y).alias("__ym__"))
    )
    bucketed, bcol = with_range_buckets(gx, "__x__", desc=True)
    # driver prefix-MAX per bucket: max __ym__ over all STRICTLY EARLIER
    # (larger-x) buckets — ≤ nbuckets rows to the driver
    bucketed, _mx = with_prefix_folds(bucketed, bcol, {"ym": F.col("__ym__")}, "max")
    off = F.col("__off_ym__")
    wb = Window.partitionBy(bcol).orderBy(F.col("__x__").desc())
    in_bucket_prev = F.max("__ym__").over(
        wb.rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.greatest(off, F.coalesce(in_bucket_prev, F.lit(float("-inf"))))
    frontier_x = bucketed.withColumn("__pm__", prev_max).filter(
        F.col("__ym__") > F.col("__pm__")
    )
    out = base.join(
        frontier_x.select("__x__", "__ym__"),
        (x == F.col("__x__")) & (y == F.col("__ym__")),
        "leftsemi",
    )
    return LazyFrame(out)


__all__.extend(["abc_analysis", "pareto_front"])


def funnel_timing(
    frame: "LazyFrame | SparkDF",
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: "list[str]",
    round_to: int = 6,
) -> LazyFrame:
    """Time-to-convert between adjacent funnel steps: for users who reach
    step k+1 under the same greedy-earliest walk as funnel_counts (step
    k+1's earliest occurrence strictly after step k's chosen time), the
    delay in seconds — count, mean, median, and p90 per step pair.

    Same shuffle shape as funnel_counts: one user-keyed grouped collect +
    the conditional-min chain, then ONE step-pair aggregate (the exact
    percentiles buffer per-pair delay multisets — the with_outlier_flags
    'mad' contract; switch to approx off-gate if a pair has billions of
    converters).  Output: (step_from, step_to, n_users, avg_seconds,
    median_seconds, p90_seconds)."""
    if len(steps) < 2:
        raise ValueError("steps must name at least two steps")
    sdf = _sdf(frame)
    ev = sdf.filter(F.col(step_col).isin(steps)).select(
        F.col(user_col).alias("u"),
        F.col(step_col).alias("s"),
        F.col(ts_col).cast("timestamp").alias("t"),
    )
    agg = ev.groupBy("u").agg(
        F.min(F.when(F.col("s") == steps[0], F.col("t"))).alias("__r0__"),
        F.collect_list(F.struct("s", "t")).alias("__evs__"),
    )
    chain = agg
    prev = F.col("__r0__")
    for i, st in enumerate(steps[1:], start=1):
        def _after(_st, _prev):
            return lambda e: (e["s"] == F.lit(_st)) & (e["t"] > _prev)

        cand = F.array_min(F.filter(F.col("__evs__"), _after(st, prev)).getField("t"))
        chain = chain.withColumn(f"__r{i}__", F.when(prev.isNotNull(), cand))
        prev = F.col(f"__r{i}__")
    delays = chain.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(steps[i]).alias("step_from"),
                    F.lit(steps[i + 1]).alias("step_to"),
                    F.lit(i).alias("__i__"),
                    (
                        F.unix_micros(F.col(f"__r{i + 1}__")) / 1e6
                        - F.unix_micros(F.col(f"__r{i}__")) / 1e6
                    ).alias("delay"),
                )
                for i in range(len(steps) - 1)
            ])
        ).alias("d")
    ).select("d.step_from", "d.step_to", "d.__i__", "d.delay").filter(
        F.col("delay").isNotNull()
    )
    out = (
        delays.groupBy("step_from", "step_to", "__i__")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("delay"), round_to).alias("avg_seconds"),
            F.round(F.percentile("delay", F.lit(0.5)), round_to).alias("median_seconds"),
            F.round(F.percentile("delay", F.lit(0.9)), round_to).alias("p90_seconds"),
        )
        .drop("__i__")
    )
    return LazyFrame(out)


__all__.append("funnel_timing")


def cohort_value(
    frame: "LazyFrame | SparkDF",
    user_col: str,
    ts_col: str,
    value_col: str,
    period: str = "week",
    max_periods: "int | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Cohort LTV triangle — cohort_retention's monetary sibling: users
    grouped by first-seen period; per (cohort, period offset) the active
    user count, the period's value sum, and the running cumulative value
    (the LTV curve numerator; divide by the cohort's offset-0 n_active for
    LTV per acquired user).

    Shuffles: first-seen per user (map-side min), the (cohort, offset)
    aggregate, then ONE cohort-keyed cumulative window over the tiny
    triangle (rows = cohorts × offsets, never user-sized).  Null values
    count as activity with zero value."""
    if period not in ("day", "week", "month"):
        raise ValueError("period must be day/week/month")
    sdf = _sdf(frame)
    ts = F.col(ts_col).cast("timestamp")
    bucket = F.date_trunc(period, ts).cast("date")
    ev = sdf.select(
        F.col(user_col).alias("u"),
        bucket.alias("p"),
        F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)).alias("v"),
    )
    first = ev.groupBy("u").agg(F.min("p").alias("cohort"))
    joined = ev.join(first, "u")
    if period == "day":
        off = F.datediff(F.col("p"), F.col("cohort"))
    elif period == "week":
        off = (F.datediff(F.col("p"), F.col("cohort")) / 7).cast("int")
    else:
        off = (F.year("p") - F.year("cohort")) * 12 + (F.month("p") - F.month("cohort"))
    acts = joined.select("u", "cohort", off.alias("period_offset"), "v")
    if max_periods is not None:
        acts = acts.filter(F.col("period_offset") < max_periods)
    tri = acts.groupBy("cohort", "period_offset").agg(
        F.count_distinct("u").alias("n_active"),
        F.round(F.sum("v"), round_to).alias("value"),
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tri.withColumn("cum_value", F.round(F.sum("value").over(wc), round_to))
    return LazyFrame(out)


__all__.append("cohort_value")


def concentration_report(
    frame: "LazyFrame | SparkDF",
    key_col: str,
    value_col: str,
    top_k: int = 5,
    round_to: int = 6,
) -> LazyFrame:
    """Market/corpus concentration in one row: number of keys, HHI
    (Σ share², 1/n..1), normalized HHI ((HHI − 1/n)/(1 − 1/n), 0..1),
    Shannon entropy of the share distribution (bits), and the top-1 /
    top-``top_k`` share — the "is this corpus dominated by a few
    domains/sources" audit beside abc_analysis (which lists every key;
    this is the scalar summary).  Keys with non-positive total drop (log
    and share semantics need positive mass).

    One key aggregate (map-side combining), one fused share all-reduce,
    and a TakeOrderedAndProject top-k for the head shares — no global
    sort, no single-partition window."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    keys = (
        sdf.filter(v.isNotNull())
        .groupBy(F.col(key_col).alias("__k__"))
        .agg(F.sum(v).alias("__v__"))
        .filter(F.col("__v__") > 0)
    )
    tot = keys.agg(F.sum("__v__").alias("__t__"))
    shares = keys.join(F.broadcast(tot)).select(
        (F.col("__v__") / F.col("__t__")).alias("__s__")
    )
    scalars = shares.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("__s__") * F.col("__s__")).alias("__hhi__"),
        (-F.sum(F.col("__s__") * F.log2("__s__"))).alias("__ent__"),
    )
    top = (
        shares.orderBy(F.col("__s__").desc())
        .limit(int(top_k))
        .agg(
            F.max("__s__").alias("__top1__"),
            F.sum("__s__").alias("__topk__"),
        )
    )
    n = F.col("n_keys")
    hhi = F.col("__hhi__")
    out = scalars.join(F.broadcast(top)).select(
        n.cast("long").alias("n_keys"),
        F.round(hhi, round_to).alias("hhi"),
        F.round(
            F.when(n > 1, (hhi - 1.0 / n) / (1.0 - 1.0 / n)).otherwise(1.0),
            round_to,
        ).alias("hhi_normalized"),
        (F.round(F.col("__ent__"), round_to) + F.lit(0.0)).alias("entropy_bits"),
        F.round(F.col("__top1__"), round_to).alias("top1_share"),
        F.round(F.col("__topk__"), round_to).alias(f"top{top_k}_share"),
    )
    return LazyFrame(out)


__all__.append("concentration_report")


def period_over_period(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    value_col: str,
    every: str = "month",
    round_to: int = 6,
) -> LazyFrame:
    """Period-over-period report: per calendar bucket the value total, the
    previous period's total, absolute and percent change — the BI
    heartbeat table.  One map-side-combining period aggregate; the lag
    window runs over the TINY period table (one row per bucket, never
    data-sized), ordered by the bucket itself so calendar gaps compare
    against the previous EXISTING period (document-noted; densify upstream
    for strict adjacency).  Null values count as zero mass.  Output:
    (period, value, prev_value, change, pct_change — null on the first
    period or a zero base)."""
    if every not in ("day", "week", "month", "quarter", "year"):
        raise ValueError("every must be day/week/month/quarter/year")
    sdf = _sdf(frame)
    ts = F.col(ts_col).cast("timestamp")
    bucket = F.date_trunc(every, ts).cast("date")
    per = (
        sdf.filter(ts.isNotNull())
        .groupBy(bucket.alias("period"))
        .agg(F.round(F.sum(F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))), round_to).alias("value"))
    )
    w = Window.orderBy("period")
    # single-partition window is FINE here: the frame is one row per
    # calendar bucket (a few thousand rows for decades of days)
    out = per.withColumn("prev_value", F.lag("value").over(w)).select(
        "period",
        "value",
        "prev_value",
        F.round(F.col("value") - F.col("prev_value"), round_to).alias("change"),
        F.round(
            F.when(
                F.col("prev_value").isNotNull() & (F.col("prev_value") != 0),
                (F.col("value") - F.col("prev_value")) / F.abs(F.col("prev_value")),
            ),
            round_to,
        ).alias("pct_change"),
    )
    return LazyFrame(out)


def frequent_sequences(
    frame: "LazyFrame | SparkDF",
    state_col: str,
    ts_col: str,
    by: "str | list[str] | None" = None,
    length: int = 3,
    min_count: int = 2,
    tie_cols: "list[str] | None" = None,
) -> LazyFrame:
    """Top consecutive event n-grams (the order-n generalization of
    markov_transitions' bigrams): every run of ``length`` consecutive
    events within a ``by`` sequence, counted corpus-wide and pruned at
    ``min_count``.  One lag-chain window sharded on the key + one
    map-side-combining count — sequence boundaries leak-free (a window
    never crosses keys), null states break runs.  With ``by=None`` the
    lag chain rides distsort halo buckets with a ``length-1``-row
    predecessor halo (exact and distributed); a non-orderable-numeric ts
    falls back to the warned global window.  Output: (step_1..step_n,
    n), most frequent patterns for next-event models and anomalous-flow
    review."""
    if length < 2:
        raise ValueError("length must be >= 2")
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    ties = list(tie_cols or [])
    ordn = None if keys else _halo_order(sdf, ts_col)
    if keys or ordn is None:
        order = [F.col(ts_col)] + [F.col(c) for c in ties]
        w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
        if not keys:
            from ..exprs import _warn_single_partition

            _warn_single_partition("frequent_sequences(by=None, non-numeric ts)")
        cols = [
            F.lag(F.col(state_col), length - 1 - i).over(w).alias(f"step_{i + 1}")
            for i in range(length)
        ]
        staged = sdf.select(*cols)
    else:
        from .distsort import with_halo_buckets

        pre = sdf.select(
            F.col(state_col).alias("__st__"),
            ordn.alias("__ord__"),
            *[F.col(c) for c in ties],
        )
        haloed, bcol, halo_col = with_halo_buckets(
            pre, "__ord__", before=length - 1, tie_cols=ties
        )
        w = Window.partitionBy(bcol).orderBy(
            F.col("__ord__"), *[F.col(c) for c in ties]
        )
        cols = [
            F.lag(F.col("__st__"), length - 1 - i).over(w).alias(f"step_{i + 1}")
            for i in range(length)
        ]
        staged = (
            haloed.select(*cols, F.col(halo_col))
            .filter(~F.col(halo_col))
            .drop(halo_col)
        )
    pred = F.lit(True)
    for i in range(length):
        pred = pred & F.col(f"step_{i + 1}").isNotNull()
    out = (
        staged.filter(pred)
        .groupBy(*[f"step_{i + 1}" for i in range(length)])
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= int(min_count))
    )
    return LazyFrame(out)


__all__.extend(["period_over_period", "frequent_sequences"])


def lorenz_curve(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    n_points: int = 10,
    round_to: int = 6,
) -> LazyFrame:
    """Lorenz curve points — the curve behind gini_coefficient: for each
    population share p = k/n_points (rows ranked by value ascending), the
    share of total value held by that bottom fraction (step-function
    evaluation at the largest rank ≤ p·N — exact and deterministic, no
    interpolation).  Perfect equality tracks the diagonal; the bow is the
    inequality (area gap × 2 = Gini).

    Scale shape: values collapse to DISTINCT levels with (count, sum)
    map-side, global cumulative rows/value ride the distsort range-bucket
    + driver-prefix machinery, and each curve point is one bounded
    argmax — no single-partition window however many rows.  Negative
    values are rejected (Lorenz shares need non-negative mass).
    Output: (p, cum_value_share), ALWAYS exactly n_points rows: a p whose
    p·N falls before the first distinct-value group's cumulative count (tiny
    frames, or one dominant lowest value) joins back onto the literal p grid
    with share 0.0 instead of silently dropping."""
    from .distsort import with_bucket_offsets

    if n_points < 1:
        raise ValueError("n_points must be >= 1")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    base = sdf.filter(v.isNotNull()).select(v.alias("__v__"))
    neg = base.filter(F.col("__v__") < 0).limit(1).count()
    if neg:
        raise ValueError("lorenz_curve requires non-negative values")

    dv = register_cache(
        base.groupBy("__v__").agg(
            F.count(F.lit(1)).alias("__c__"), F.sum("__v__").alias("__s__")
        )
    )
    offs, bcol, totals = with_bucket_offsets(
        dv, "__v__", {"c": F.col("__c__"), "s": F.col("__s__")}
    )
    ntot, stot = float(totals["c"]), float(totals["s"])
    wb = Window.partitionBy(bcol).orderBy("__v__")
    run = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_rows = F.col("__off_c__") + F.sum("__c__").over(run)
    cum_val = F.col("__off_s__") + F.sum("__s__").over(run)
    staged = offs.select(cum_rows.alias("__cr__"), cum_val.alias("__cv__"))
    pts = F.array(*[F.lit(k / n_points) for k in range(1, n_points + 1)])
    picked = (
        staged.select("__cr__", "__cv__", F.explode(pts).alias("p"))
        .filter(F.col("__cr__") <= F.col("p") * F.lit(ntot) + F.lit(1e-9))
        .groupBy("p")
        .agg(F.max("__cv__").alias("__best__"))
    )
    # re-anchor on the literal grid so a p with no rank <= p*N (tiny frames,
    # dominant lowest value) still emits a row with share 0.0 — the grid is
    # n_points rows, so this join is a broadcast no-op at any data scale
    grid = sdf.sparkSession.range(1, n_points + 1).select(
        (F.col("id").cast("double") / F.lit(float(n_points))).alias("p")
    )
    out = (
        grid.join(picked, "p", "left")
        .select(
            F.round("p", 6).alias("p"),
            F.round(
                F.coalesce(F.col("__best__") / F.lit(stot), F.lit(0.0)), round_to
            ).alias("cum_value_share"),
        )
    )
    return LazyFrame(out)


__all__.append("lorenz_curve")


def mad_outliers(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    threshold: float = 3.5,
    round_to: int = 6,
) -> LazyFrame:
    """Robust outlier screen (Iglewicz & Hoaglin 1993): modified z-score
    M = 0.6745·(x − median)/MAD with MAD = median(|x − median|), flagged
    where |M| > ``threshold`` (3.5 is their recommended cut).  Unlike
    mean/σ z-scores, the screen itself is not dragged by the outliers it
    hunts — the right default for data-quality gates on heavy-tailed
    metrics.

    Two exact-median aggregates (median, then MAD about it) + two joins
    back; medians are exact percentile aggregates, so per group the value
    buffer is the memory contract (same as quantile()) — key by segment at
    100 TB, or pin the cut points upstream.  When MAD = 0 (>=half the
    group at the median) the z-score is null and nothing in the group is
    flagged — the documented degenerate convention.

    Output: all input columns + robust_z + is_outlier."""
    sdf = _sdf(frame)
    base_cols = sdf.columns
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    med = sdf.filter(v.isNotNull()).groupBy(*keys).agg(F.median(v).alias("__med__"))
    j1 = sdf.join(med, keys) if keys else sdf.join(F.broadcast(med))
    mad = (
        j1.filter(v.isNotNull())
        .groupBy(*keys)
        .agg(F.median(F.abs(v - F.col("__med__"))).alias("__mad__"))
    )
    j2 = j1.join(mad, keys) if keys else j1.join(F.broadcast(mad))
    z = F.when(
        F.col("__mad__") > 0,
        F.lit(0.6745) * (v - F.col("__med__")) / F.col("__mad__"),
    )
    out = j2.select(
        *base_cols,
        F.round(z, round_to).alias("robust_z"),
        F.coalesce(F.abs(z) > F.lit(float(threshold)), F.lit(False)).alias(
            "is_outlier"
        ),
    )
    return LazyFrame(out)


def log_rank_test(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    group_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Two-sample log-rank test (Mantel 1966) — the hypothesis test behind
    :func:`survival_curve`: do two groups share a survival distribution?
    At each distinct event time, group 1's observed events d1 compare to
    the hypergeometric expectation d·n1/n given the at-risk sets; the
    statistic is (Σd1 − ΣE1)²/ΣV, ~χ²(1) under H0.  Right-censoring enters
    through the at-risk counts exactly as in Kaplan–Meier.

    Exactly two observed groups are required (checked with a bounded
    3-row probe); 'group one' is the lexicographically smaller label.
    Scale shape mirrors survival_curve's global path: subjects collapse to
    distinct times (one map-side-combining aggregate), at-risk running
    sums ride the distsort range-bucket + driver-prefix machinery, and the
    statistic is one 1-row reduce — no single-partition window at any
    number of subjects.

    Output (1 row): n, group_one, o1 (observed), e1 (expected), var,
    chi2 (null when var = 0; feed (chi2, df=1) to a χ² CDF driver-side)."""
    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    t = F.col(time_col).cast("double")
    ev = (F.col(event_col).cast("double") > 0).cast("long")
    g = F.col(group_col).cast("string")
    base = sdf.filter(
        t.isNotNull() & F.col(event_col).isNotNull() & g.isNotNull()
    ).select(t.alias("__t__"), ev.alias("__e__"), g.alias("__g__"))
    probe = [r[0] for r in base.select("__g__").distinct().limit(3).collect()]
    if len(probe) != 2:
        raise ValueError(
            f"log_rank_test needs exactly 2 groups, found {sorted(probe)}"
        )
    g1 = sorted(probe)[0]
    is1 = (F.col("__g__") == F.lit(g1)).cast("long")

    cells = register_cache(
        base.groupBy("__t__").agg(
            F.sum(F.col("__e__") * is1).alias("d1"),
            F.sum("__e__").alias("d"),
            F.sum(is1).alias("m1"),
            F.count(F.lit(1)).alias("m"),
        )
    )
    offs, gb, tot = with_bucket_offsets(
        cells, "__t__", {"m1": F.col("m1"), "m": F.col("m")}
    )
    wexcl = (
        Window.partitionBy(gb).orderBy("__t__").rowsBetween(Window.unboundedPreceding, -1)
    )
    n1r = F.lit(float(tot["m1"])) - (
        F.col("__off_m1__") + F.coalesce(F.sum("m1").over(wexcl), F.lit(0))
    )
    nr = F.lit(float(tot["m"])) - (
        F.col("__off_m__") + F.coalesce(F.sum("m").over(wexcl), F.lit(0))
    )
    # materialize the at-risk window columns BEFORE the d>0 filter — the
    # cumulative entry counts must run over ALL distinct times, including
    # censoring-only ones
    ar = offs.select("d1", "d", n1r.alias("__n1r__"), nr.alias("__nr__"))
    p1 = F.col("__n1r__") / F.col("__nr__")
    e1t = F.col("d") * p1
    vt = F.when(
        F.col("__nr__") > 1,
        F.col("d") * p1 * (1 - p1) * (F.col("__nr__") - F.col("d")) / (F.col("__nr__") - 1),
    ).otherwise(F.lit(0.0))
    staged = ar.filter(F.col("d") > 0).select(
        F.col("d1").alias("__o1__"), e1t.alias("__e1__"), vt.alias("__v__")
    )
    agg = staged.agg(
        F.sum("__o1__").alias("o1"),
        F.sum("__e1__").alias("e1"),
        F.sum("__v__").alias("var"),
    )
    chi2 = F.when(
        F.col("var") > 0,
        (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("var"),
    )
    out = agg.select(
        F.lit(int(tot["m"])).cast("long").alias("n"),
        F.lit(g1).alias("group_one"),
        F.col("o1").cast("long").alias("o1"),
        F.round("e1", round_to).alias("e1"),
        F.round("var", round_to).alias("var"),
        F.round(chi2, round_to).alias("chi2"),
    )
    return LazyFrame(out)


__all__.extend(["mad_outliers", "log_rank_test"])


def holt_forecast(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    by: "str | list[str] | None" = None,
    alpha: float = 0.5,
    beta: "float | None" = None,
    horizon: int = 1,
    round_to: int = 6,
) -> LazyFrame:
    """Exponential-smoothing point forecast per series: simple (SES,
    ``beta=None``) or Holt's linear trend method.  SES: ℓ_t = α·x_t +
    (1−α)·ℓ_{t−1}, forecast flat at ℓ_n.  Holt: ℓ_t = α·x_t +
    (1−α)(ℓ_{t−1}+b_{t−1}); b_t = β(ℓ_t−ℓ_{t−1}) + (1−β)b_{t−1};
    forecast ℓ_n + h·b_n.  Standard initialization ℓ₁ = x₁,
    b₁ = x₂ − x₁ (Hyndman & Athanasopoulos); a Holt series with < 2
    points yields nulls.

    The recurrence is inherently sequential WITHIN a series, so each
    series folds as one array expression: values gather via
    array_sort(collect_list(struct(order, value))) — the per-key memory
    contract is the series length (same as every per-series op here; the
    scale lever is keying by series, which real forecast pipelines do) —
    and the fold runs inside codegen, no Python.  ``by=None`` treats the
    whole frame as ONE series under that same contract.

    Output: ([keys...,] n, level, trend, forecast)."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    a = float(alpha)
    if not 0 < a <= 1:
        raise ValueError("alpha must be in (0, 1]")
    b = None if beta is None else float(beta)
    if b is not None and not 0 < b <= 1:
        raise ValueError("beta must be in (0, 1]")
    v = F.col(value_col).cast("double")
    o = F.col(order_col)
    base = sdf.filter(v.isNotNull() & o.isNotNull())
    gathered = base.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(o.alias("o"), v.alias("v")))),
            lambda s: s["v"],
        ).alias("__xs__")
    )
    xs = F.col("__xs__")
    n = F.size(xs)
    if b is None:
        level = F.aggregate(
            F.slice(xs, 2, F.greatest(n - 1, F.lit(0))),
            F.element_at(xs, 1),
            lambda acc, x: F.lit(a) * x + F.lit(1 - a) * acc,
        )
        trend = F.lit(0.0)
        fc = level
    else:
        init = F.struct(
            F.element_at(xs, 1).alias("l"),
            (F.element_at(xs, 2) - F.element_at(xs, 1)).alias("b"),
        )
        folded = F.aggregate(
            F.slice(xs, 2, F.greatest(n - 1, F.lit(0))),
            init,
            lambda acc, x: F.struct(
                (F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])).alias("l"),
                (
                    F.lit(b)
                    * ((F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])) - acc["l"])
                    + F.lit(1 - b) * acc["b"]
                ).alias("b"),
            ),
        )
        level = F.when(n >= 2, folded["l"])
        trend = F.when(n >= 2, folded["b"])
        fc = level + F.lit(float(horizon)) * trend
    out = gathered.select(
        *keys,
        n.cast("long").alias("n"),
        F.round(level, round_to).alias("level"),
        F.round(trend, round_to).alias("trend"),
        F.round(fc, round_to).alias("forecast"),
    )
    return LazyFrame(out)


__all__.append("holt_forecast")


def dp_count_report(
    frame: "LazyFrame | SparkDF",
    keys: "str | list[str]",
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: str = "dp",
    round_to: int = 6,
) -> LazyFrame:
    """Laplace-mechanism noisy counts per key — the publishable-histogram
    primitive of differential privacy: noisy_n = n + Lap(sensitivity/ε),
    via inverse-CDF sampling of a uniform drawn from md5(seed‖key).

    DETERMINISM CAVEAT (read this): the draw is SEEDED so pipelines are
    reproducible and an external engine can replay the release
    bit-for-bit — which is exactly what real ε-DP forbids (a replayable
    seed lets an adversary subtract the noise).  For an actual private
    release, swap ``seed`` for fresh entropy per release and keep an ε
    budget ledger; the mechanism, sensitivity handling, and plan shape
    are identical.

    One map-side-combining count aggregate + map-only noise math — no
    extra shuffle.  Output: (keys..., n, noisy_n) with noisy_n clipped at
    0 (counts cannot be negative)."""
    sdf = _sdf(frame)
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    counts = sdf.groupBy(*key_list).agg(F.count(F.lit(1)).alias("n"))
    tag = F.concat_ws("|", F.lit(str(seed)), *[F.col(k).cast("string") for k in key_list])
    u = (
        F.conv(F.substring(F.md5(tag), 1, 13), 16, 10).cast("double")
        / F.lit(float(16 ** 13))
    )
    b = F.lit(float(sensitivity) / float(epsilon))
    centered = u - F.lit(0.5)
    lap = -b * F.signum(centered) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(centered)
    )
    out = counts.select(
        *key_list,
        F.col("n").cast("long").alias("n"),
        F.greatest(
            F.lit(0.0), F.round(F.col("n") + lap, round_to)
        ).alias("noisy_n"),
    )
    return LazyFrame(out)


def collapse_rare_levels(
    frame: "LazyFrame | SparkDF",
    col: str,
    min_count: "int | None" = None,
    min_share: "float | None" = 0.01,
    other: str = "__other__",
) -> LazyFrame:
    """Collapse rare categories of a column into one ``other`` bucket —
    the feature-prep step before one-hot/target encoding that stops
    long-tail levels from exploding the feature space (and the privacy
    step that stops singleton categories identifying rows).  A level
    survives when its count ≥ ``min_count`` (absolute) or its share ≥
    ``min_share`` (relative, the 1% default) — passing ``min_count``
    switches to the absolute rule.  Nulls pass through unchanged (they
    are their own signal; combine with fill upstream).

    Shuffle shape: one map-side-combining level count + the SURVIVOR set
    joined back.  The broadcast hint applies ONLY on the ``min_share``
    path, where the survivor set is bounded by 1/min_share; under
    ``min_count`` the survivor set is unbounded (min_count=2 on an id-like
    column keeps nearly every level), so that join is left unhinted and
    AQE broadcasts it when the measured size allows (r7 ADVICE: no forced
    broadcast of an arbitrarily large frame).  All other columns pass
    through untouched."""
    if min_count is not None:
        min_share = None
    if min_share is None and min_count is None:
        raise ValueError("pass one of min_count / min_share")
    sdf = _sdf(frame)
    base_cols = sdf.columns
    counts = sdf.filter(F.col(col).isNotNull()).groupBy(F.col(col).alias("__lv__")).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    if min_count is not None:
        keep = counts.filter(F.col("__c__") >= int(min_count))
    else:
        tot = counts.agg(F.sum("__c__").alias("__t__"))
        keep = (
            counts.join(F.broadcast(tot))
            .filter(F.col("__c__") / F.col("__t__") >= float(min_share))
        )
    keep = keep.select(F.col("__lv__"), F.lit(True).alias("__keep__"))
    if min_count is None:
        keep = F.broadcast(keep)  # bounded by 1/min_share — always safe
    j = sdf.join(keep, sdf[col] == keep["__lv__"], "left")
    replaced = F.when(
        F.col(col).isNull() | F.col("__keep__").isNotNull(), F.col(col)
    ).otherwise(F.lit(other))
    out = j.select(
        *[replaced.alias(c) if c == col else F.col(c) for c in base_cols]
    )
    return LazyFrame(out)


__all__.extend(["dp_count_report", "collapse_rare_levels"])


def interarrival_report(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Inter-arrival-time summary per key: gap mean/std/extremes, the
    coefficient of variation, and the Goh–Barabási burstiness
    B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 = metronome, 0 = Poisson, →1 = bursts)
    — the one-row answer to "is this event stream organic or scripted?"
    that sits beside sessionize/find_gaps.

    One lag window sharded on the key + one keyed reduce; with
    ``by=None`` the lag rides distsort halo buckets (exact, distributed).
    Output: [keys...,] n_events, n_gaps, mean_gap_s, std_gap_s, cv,
    burstiness, min_gap_s, max_gap_s."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    ts = F.col(ts_col).cast("timestamp")
    tsec = (F.unix_micros(ts) / 1e6).alias("__t__")
    base = sdf.filter(ts.isNotNull()).select(*keys, tsec)
    if keys:
        w = Window.partitionBy(*keys).orderBy("__t__")
        halo_col = None
    else:
        from .distsort import with_halo_buckets

        base, bcol, halo_col = with_halo_buckets(base, "__t__", before=1)
        w = Window.partitionBy(bcol).orderBy("__t__")
    gap = F.col("__t__") - F.lag("__t__").over(w)
    staged = base.select(*keys, "__t__", gap.alias("__g__"), *(
        [F.col(halo_col)] if halo_col else []
    ))
    if halo_col:
        staged = staged.filter(~F.col(halo_col)).drop(halo_col)
    agg = staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("__g__").cast("long").alias("n_gaps"),
        F.avg("__g__").alias("__m__"),
        F.stddev_samp("__g__").alias("__s__"),
        F.min("__g__").alias("__mn__"),
        F.max("__g__").alias("__mx__"),
    )
    mu, sd = F.col("__m__"), F.col("__s__")
    out = agg.select(
        *keys,
        "n_events",
        "n_gaps",
        F.round(mu, round_to).alias("mean_gap_s"),
        F.round(sd, round_to).alias("std_gap_s"),
        F.round(F.when(mu > 0, sd / mu), round_to).alias("cv"),
        F.round(F.when((sd + mu) > 0, (sd - mu) / (sd + mu)), round_to).alias(
            "burstiness"
        ),
        F.round(F.col("__mn__"), round_to).alias("min_gap_s"),
        F.round(F.col("__mx__"), round_to).alias("max_gap_s"),
    )
    return LazyFrame(out)


__all__.extend(["theil_index", "weighted_quantiles", "rmst", "interarrival_report"])


def wasserstein_1d(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between two groups'
    value distributions: W₁ = ∫|F_A − F_B| dv over the merged support —
    the drift measure that, unlike KS (worst single gap) or PSI (binned),
    weights BOTH how far and how much mass moved, in the value's own
    units.

    Scale shape: values collapse to distinct levels with per-group counts
    map-side; both cumulative counts ride ONE distsort prefix pass (two
    named sums share the exchange); the segment width to the next
    distinct value comes from a 1-row successor halo; W₁ is one fused
    reduce.  Output (1 row): w1, n_a, n_b."""
    from .distsort import with_halo_buckets, with_prefix_offsets

    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    a_flag = (g == F.lit(group_a)).cast("long")
    b_flag = (g == F.lit(group_b)).cast("long")
    base = (
        sdf.filter(v.isNotNull() & (g.isin([group_a, group_b])))
        .groupBy(v.alias("__v__"))
        .agg(F.sum(a_flag).alias("__ca__"), F.sum(b_flag).alias("__cb__"))
    )
    haloed, bcol, halo_col = with_halo_buckets(base, "__v__", after=1)
    # halo rows exist only to provide each bucket's successor value; they
    # must not contribute mass to the prefix sums or the cumulatives
    offs, tot = with_prefix_offsets(
        haloed,
        bcol,
        {"a": F.when(~F.col(halo_col), F.col("__ca__")).otherwise(F.lit(0)),
         "b": F.when(~F.col(halo_col), F.col("__cb__")).otherwise(F.lit(0))},
    )
    na, nb = float(tot["a"]), float(tot["b"])
    if na <= 0 or nb <= 0:
        raise ValueError("wasserstein_1d: both groups need at least one value")
    w = Window.partitionBy(bcol).orderBy("__v__")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    cum_a = F.col("__off_a__") + F.sum(
        F.when(~F.col(halo_col), F.col("__ca__")).otherwise(F.lit(0))
    ).over(run)
    cum_b = F.col("__off_b__") + F.sum(
        F.when(~F.col(halo_col), F.col("__cb__")).otherwise(F.lit(0))
    ).over(run)
    nxt = F.lead("__v__").over(w)
    seg = F.when(
        nxt.isNotNull(),
        F.abs(cum_a / F.lit(na) - cum_b / F.lit(nb)) * (nxt - F.col("__v__")),
    )
    staged = offs.select(
        F.col(halo_col), seg.alias("__seg__")
    ).filter(~F.col(halo_col))
    out = staged.agg(
        F.round(F.sum("__seg__"), round_to).alias("w1"),
        F.lit(int(na)).cast("long").alias("n_a"),
        F.lit(int(nb)).cast("long").alias("n_b"),
    )
    return LazyFrame(out)


def diversity_report(
    frame: "LazyFrame | SparkDF",
    col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Categorical diversity panel in one pass: distinct count, Shannon
    entropy H (nats) and its ln(k)-normalized form, Simpson concentration
    Σp² (the repeat-collision probability), effective number of categories
    e^H, and the Good-Turing singleton share f₁/n — the estimated
    probability mass of UNSEEN categories, the "is my corpus's tail
    exhausted?" number.

    One value-count aggregate (the null group rides along as its own
    row, so n_null costs no second scan and the operator stays lazy) +
    one 1-row fused reduce; null categories are excluded from the
    diversity terms and reported.  Output (1 row): n, n_null, k,
    entropy, entropy_norm, simpson, eff_k, singleton_share."""
    sdf = _sdf(frame)
    c = F.col(col)
    counts = sdf.groupBy(c.alias("__v__")).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    nn = F.col("__v__").isNotNull()
    red = counts.agg(
        F.coalesce(F.sum(F.when(nn, F.col("__c__"))), F.lit(0)).alias("n"),
        F.coalesce(
            F.sum(F.when(~nn, F.col("__c__"))), F.lit(0)
        ).alias("n_null"),
        F.count(F.when(nn, 1)).alias("k"),
        F.sum(F.when(nn, F.col("__c__") * F.log("__c__"))).alias("clc"),
        F.sum(F.when(nn, F.col("__c__") ** 2)).alias("c2"),
        F.count(F.when(nn & (F.col("__c__") == 1), 1)).alias("f1"),
    )
    n, k = F.col("n"), F.col("k")
    h = F.log(n) - F.col("clc") / n
    out = red.select(
        n.cast("long").alias("n"),
        F.col("n_null").cast("long").alias("n_null"),
        k.cast("long").alias("k"),
        F.round(h, round_to).alias("entropy"),
        F.round(F.when(k > 1, h / F.log(k)).otherwise(F.lit(0.0)), round_to).alias(
            "entropy_norm"
        ),
        F.round(F.col("c2") / (n * n), round_to).alias("simpson"),
        F.round(F.exp(h), round_to).alias("eff_k"),
        F.round(F.col("f1") / n, round_to).alias("singleton_share"),
    )
    return LazyFrame(out)


def nelson_aalen(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    by: "str | list[str] | None" = None,
    round_to: int = 6,
) -> LazyFrame:
    """Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ and the
    Fleming–Harrington survival exp(−H) — the hazard-side companion to
    :func:`survival_curve` (Kaplan–Meier), preferred for small at-risk
    sets and the input to hazard-ratio eyeballing.

    Builds on survival_curve's (t, n_risk, d) table; the cumulative sum
    shards on the key, and the GLOBAL path rides distsort range buckets +
    driver prefix offsets over the distinct-time table — no
    single-partition window.  Output: [keys...,] t, n_risk, d,
    cum_hazard, s_fleming."""
    keys = [by] if isinstance(by, str) else list(by or [])
    curve = survival_curve(frame, time_col, event_col, by=by).spark
    h = (F.col("d") / F.col("n_risk")).alias("__h__")
    staged = curve.select(*keys, "t", "n_risk", "d", h)
    if keys:
        run = (
            Window.partitionBy(*keys)
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = F.sum("__h__").over(run)
    else:
        from .distsort import with_bucket_offsets

        staged, gb, _tot = with_bucket_offsets(staged, "t", {"h": F.col("__h__")})
        run = (
            Window.partitionBy(gb)
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = F.col("__off_h__") + F.sum("__h__").over(run)
    out = staged.select(
        *keys,
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.round(cum, round_to).alias("cum_hazard"),
        F.round(F.exp(-cum), round_to).alias("s_fleming"),
    )
    return LazyFrame(out)


def dup_rate_by_key(
    frame: "LazyFrame | SparkDF",
    text_col: str,
    by: str,
    round_to: int = 6,
) -> LazyFrame:
    """Exact-duplicate pressure per segment: within each ``by`` key, the
    share of rows whose normalized text (lower + trim + whitespace
    collapse) occurs more than once in that segment, plus the surplus-row
    share an exact dedup would delete — the per-source triage view that
    tells you WHERE the duplication lives before running the full dedup.

    Two map-side-combining aggregates keyed on (key, hash) then (key);
    the text never shuffles — it collapses to the 128-bit md5 of the
    normalized form map-side (same fingerprint-identity trade as
    dedup_exact: exact modulo a 2^-128-class collision).
    Output: (by, n, n_distinct, dup_rows, dup_row_share, surplus_share)."""
    sdf = _sdf(frame)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = F.md5(norm)
    base = sdf.filter(F.col(text_col).isNotNull() & F.col(by).isNotNull())
    cnt = base.groupBy(F.col(by), h.alias("__h__")).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    out = cnt.groupBy(by).agg(
        F.sum("__c__").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("__c__") > 1, F.col("__c__")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_rows"),
        F.round(
            F.sum(F.when(F.col("__c__") > 1, F.col("__c__")).otherwise(F.lit(0)))
            / F.sum("__c__"),
            round_to,
        ).alias("dup_row_share"),
        F.round(
            (F.sum("__c__") - F.count(F.lit(1))) / F.sum("__c__"), round_to
        ).alias("surplus_share"),
    )
    return LazyFrame(out)


__all__.extend(
    ["wasserstein_1d", "diversity_report", "nelson_aalen", "dup_rate_by_key"]
)


def c_index(
    frame: "LazyFrame | SparkDF",
    time_col: str,
    event_col: str,
    score_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Harrell's concordance index for a survival risk score — the
    model-quality number beside survival_curve/nelson_aalen/log_rank_test:
    among PERMISSIBLE pairs (the earlier time is an observed EVENT,
    t_i < t_j), the share where the earlier-failing subject also has the
    HIGHER risk score; score ties count ½.  0.5 = random ordering,
    1.0 = perfect ranking.  (Textbook permissibility rule; pairs tied on
    time are not counted — the lifelines tied-time refinement differs
    there, documented.)

    EXACT via the joint distinct-cell contingency, the same BOUNDED-
    CARDINALITY contract as kendall_tau/mann_kendall: rows collapse to
    (t, d, s) cells in ONE map-side-combining aggregate and the pair
    counts come from the cell self-join on t-order — cost |cells|², so
    bin continuous scores/times upstream for high-cardinality inputs.
    Output (1 row): c_index, n_pairs, concordant, tied, n."""
    sdf = _sdf(frame)
    t = F.col(time_col).cast("double")
    d = F.col(event_col).cast("int")
    s = F.col(score_col).cast("double")
    base = sdf.filter(t.isNotNull() & d.isNotNull() & s.isNotNull()).select(
        t.alias("__t__"), d.alias("__d__"), s.alias("__s__")
    )
    cells = base.groupBy("__t__", "__d__", "__s__").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = cells.filter(F.col("__d__") == 1).select(
        F.col("__t__").alias("at"), F.col("__s__").alias("as_"),
        F.col("n").alias("an"),
    )
    b = cells.select(
        F.col("__t__").alias("bt"), F.col("__s__").alias("bs"),
        F.col("n").alias("bn"),
    )
    pairs = a.join(b, F.col("bt") > F.col("at"))
    red = pairs.agg(
        F.coalesce(F.sum(F.col("an") * F.col("bn")), F.lit(0)).alias("np"),
        F.coalesce(
            F.sum(F.when(F.col("as_") > F.col("bs"), F.col("an") * F.col("bn"))),
            F.lit(0),
        ).alias("conc"),
        F.coalesce(
            F.sum(F.when(F.col("as_") == F.col("bs"), F.col("an") * F.col("bn"))),
            F.lit(0),
        ).alias("tied"),
    )
    n_row = cells.agg(F.sum("n").alias("nn"))
    out = red.join(F.broadcast(n_row)).select(
        F.round(
            F.when(
                F.col("np") > 0,
                (F.col("conc") + 0.5 * F.col("tied")) / F.col("np"),
            ),
            round_to,
        ).alias("c_index"),
        F.col("np").cast("long").alias("n_pairs"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("tied").cast("long").alias("tied"),
        F.col("nn").cast("long").alias("n"),
    )
    return LazyFrame(out)


def quantile_compare(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    probs: "tuple[float, ...]" = (0.1, 0.25, 0.5, 0.75, 0.9),
    round_to: int = 6,
) -> LazyFrame:
    """Side-by-side quantile (Q-Q) table of two groups' distributions plus
    per-quantile gaps — the drift view that says WHERE the distributions
    diverge (wasserstein_1d gives the total, ks_test the worst point;
    this names the quantiles).  Quantile rule: inverse CDF, the smallest
    value whose cumulative count reaches ceil(p·n) (type-1 / 'lower',
    exactly replicable in SQL).

    Scale shape: values collapse to distinct levels with per-group counts
    map-side; both cumulative counts ride ONE distsort prefix pass
    (shared exchange — the wasserstein_1d plan); the bounded literal prob
    grid fans out map-only (explode of a literal array) and one aggregate
    picks each quantile.  Output: (p, q_a, q_b, gap) sorted by p."""
    from .distsort import with_bucket_offsets

    probs = tuple(float(p) for p in probs)
    if not probs or any(not 0.0 < p <= 1.0 for p in probs):
        raise ValueError("probs must be in (0, 1]")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    a_flag = (g == F.lit(group_a)).cast("long")
    b_flag = (g == F.lit(group_b)).cast("long")

    base = register_cache(
        sdf.filter(v.isNotNull() & (g.isin([group_a, group_b])))
        .groupBy(v.alias("__v__"))
        .agg(F.sum(a_flag).alias("__ca__"), F.sum(b_flag).alias("__cb__"))
    )
    offs, gb, tot = with_bucket_offsets(
        base, "__v__", {"a": F.col("__ca__"), "b": F.col("__cb__")}
    )
    na, nb = float(tot["a"]), float(tot["b"])
    if na <= 0 or nb <= 0:
        raise ValueError("quantile_compare: both groups need at least one value")
    w = Window.partitionBy(gb).orderBy("__v__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_a = F.col("__off_a__") + F.sum("__ca__").over(w)
    cum_b = F.col("__off_b__") + F.sum("__cb__").over(w)
    staged = offs.select("__v__", cum_a.alias("__cna__"), cum_b.alias("__cnb__"))
    grid = staged.select(
        "__v__", "__cna__", "__cnb__",
        F.explode(F.array(*[F.lit(p) for p in probs])).alias("p"),
    )
    out = (
        grid.groupBy("p")
        .agg(
            F.min(
                F.when(
                    F.col("__cna__") >= F.ceil(F.col("p") * F.lit(na)),
                    F.col("__v__"),
                )
            ).alias("qa"),
            F.min(
                F.when(
                    F.col("__cnb__") >= F.ceil(F.col("p") * F.lit(nb)),
                    F.col("__v__"),
                )
            ).alias("qb"),
        )
        .select(
            F.round("p", 6).alias("p"),
            F.round("qa", round_to).alias("q_a"),
            F.round("qb", round_to).alias("q_b"),
            F.round(F.col("qb") - F.col("qa"), round_to).alias("gap"),
        )
        .orderBy("p")
    )
    return LazyFrame(out)


__all__.extend(["c_index", "quantile_compare"])


def gumbel_fit(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    return_periods: "tuple[int, ...] | list[int]" = (10, 100, 1000),
    round_to: int = 6,
) -> LazyFrame:
    """Gumbel (EV-I) extreme-value fit by the method of moments — the
    block-maxima "how bad is the 1-in-T event" estimator behind capacity
    planning and tail-latency/flood-style SLO questions: feed it BLOCK
    MAXIMA (daily/hourly maxima, not raw rows); β̂ = s·√6/π,
    μ̂ = m − γ·β̂ (γ Euler–Mascheroni), and the T-period return level
    x_T = μ − β·ln(−ln(1 − 1/T)) — the level exceeded once per T blocks
    on average.

    Scale shape: ONE fused all-reduce (n, mean, sample std); levels are
    driver math over the literal period grid.  Output: one row per
    return period ascending — (return_period, return_level, gumbel_mu,
    gumbel_beta, n)."""
    import math

    periods = sorted(int(t) for t in return_periods)
    if not periods or periods[0] < 2:
        raise ValueError("return_periods must all be >= 2")
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    r = (
        sdf.filter(v.isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(v).alias("m"),
            F.stddev(v).alias("s"),
        )
        .collect()[0]
    )
    n = int(r["n"] or 0)
    if n < 3:
        raise ValueError("gumbel_fit needs at least 3 block maxima")
    m, s = float(r["m"]), float(r["s"] or 0)
    if s <= 0:
        raise ValueError("gumbel_fit: zero variance")
    beta = s * math.sqrt(6.0) / math.pi
    gamma = 0.57721566490153286
    mu = m - gamma * beta
    rows = [
        (
            t,
            round(mu - beta * math.log(-math.log(1.0 - 1.0 / t)), round_to),
            round(mu, round_to),
            round(beta, round_to),
            n,
        )
        for t in periods
    ]
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        rows,
        "return_period bigint, return_level double, gumbel_mu double, "
        "gumbel_beta double, n bigint",
    )
    return LazyFrame(out)


__all__.append("gumbel_fit")


def stickiness_report(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    user_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """DAU/MAU stickiness per calendar month — the product-analytics
    "how often do monthly users come back" ratio (1/30 ≈ monthly-only,
    1.0 = every user every day): avg daily active users over the month's
    ACTIVE days divided by monthly active users.

    Scale shape: one exact (day, user)-distinct aggregate feeds BOTH
    numbers — DAU per day then avg per month, and MAU as a distinct
    count over the same deduped frame — two map-side-combining passes
    over the (month-bucketed) dedup output, no window.  Output: one row
    per month ascending — (month, n_days_active, avg_dau, mau,
    stickiness)."""
    sdf = _sdf(frame)
    t = F.col(ts_col)
    base = sdf.filter(t.isNotNull() & F.col(user_col).isNotNull()).select(
        F.date_trunc("month", t).cast("date").alias("__m__"),
        F.to_date(t).alias("__d__"),
        F.col(user_col).alias("__u__"),
    ).distinct()
    dau = base.groupBy("__m__", "__d__").agg(
        F.count_distinct("__u__").alias("__dau__")
    )
    per_m = dau.groupBy("__m__").agg(
        F.count(F.lit(1)).alias("__nd__"), F.avg("__dau__").alias("__avg__")
    )
    mau = base.groupBy("__m__").agg(F.count_distinct("__u__").alias("__mau__"))
    out = (
        per_m.join(mau, "__m__")
        .select(
            F.col("__m__").alias("month"),
            F.col("__nd__").cast("long").alias("n_days_active"),
            F.round("__avg__", round_to).alias("avg_dau"),
            F.col("__mau__").cast("long").alias("mau"),
            F.round(F.col("__avg__") / F.col("__mau__"), round_to).alias(
                "stickiness"
            ),
        )
        .orderBy("month")
    )
    return LazyFrame(out)


def power_user_curve(
    frame: "LazyFrame | SparkDF",
    ts_col: str,
    user_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Power-user curve — the activity histogram behind the "smile graph":
    for each k, how many users were active on exactly k distinct days
    (and what share of the user base that is).  A right-leaning curve
    means a habit product; a spike at 1 means drive-by traffic.

    Scale shape: one (user, day)-distinct pass, one per-user count, one
    histogram aggregate — three map-side-combining steps keyed on ever-
    smaller keys, no window.  Output: (active_days, n_users, share)
    ascending."""
    sdf = _sdf(frame)
    t = F.col(ts_col)
    per_user = (
        sdf.filter(t.isNotNull() & F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("__u__"), F.to_date(t).alias("__d__"))
        .distinct()
        .groupBy("__u__")
        .agg(F.count(F.lit(1)).alias("__k__"))
    )
    hist = per_user.groupBy("__k__").agg(F.count(F.lit(1)).alias("__n__"))
    # global window over the HISTOGRAM only — bounded by the number of
    # distinct activity counts (<= days in the observation window), never
    # data-sized
    w = Window.partitionBy()
    out = hist.select(
        F.col("__k__").cast("long").alias("active_days"),
        F.col("__n__").cast("long").alias("n_users"),
        F.round(F.col("__n__") / F.sum("__n__").over(w), round_to).alias(
            "share"
        ),
    ).orderBy("active_days")
    return LazyFrame(out)


__all__.extend(["stickiness_report", "power_user_curve"])


def weibull_fit(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    round_to: int = 6,
) -> LazyFrame:
    """Weibull fit by MEDIAN-RANK REGRESSION (the reliability-engineering
    standard for lifetime/duration data): with order statistics x_(i)
    and Benard's median rank F_i = (i − 0.3)/(n + 0.4), the Weibull CDF
    linearizes to ln(−ln(1 − F_i)) = k·ln x_(i) − k·ln λ, so shape k is
    the OLS slope and scale λ = exp(−intercept/k).  Closed-form and
    deterministic where the MLE needs an iterative solve — and under
    value ties the OLS sums are order-invariant (ln x is constant across
    a tie block while the block's rank multiset is fixed).

    Scale shape: distinct-value cells + ONE distsort prefix pass give
    each cell its rank block (c₀+1 .. c₀+cnt), a bounded sequence-explode
    materializes (ln x, rank) pairs, and ONE fused OLS moment all-reduce
    finishes — no data-sized window, no global sort.  Non-positive
    values are excluded (Weibull support is x > 0).  Output (1 row):
    shape_k, scale_lambda, r2, n, n_excluded."""
    import math

    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    # ONE source scan: cells over all non-null values, the non-positive
    # mass read off the tiny cell table before it is filtered away
    all_cells = sdf.filter(v.isNotNull()).groupBy(v.alias("__v__")).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    with scoped_caches():
        # the scope also releases the cells when n<3 raises or the distsort
        # helpers fail on degenerate input
        all_cells = register_cache(all_cells)
        nexc_row = all_cells.agg(
            F.sum(F.when(F.col("__v__") <= 0, F.col("__c__"))).alias("x")
        ).collect()[0]
        n_excluded = int(nexc_row["x"] or 0)
        cells = all_cells.filter(F.col("__v__") > 0)
        offs, gb, tot = with_bucket_offsets(cells, "__v__", {"c": F.col("__c__")})
        n = int(tot["c"])
        if n < 3:
            raise ValueError("weibull_fit needs at least 3 positive values")
        w = Window.partitionBy(gb).orderBy("__v__").rowsBetween(
            Window.unboundedPreceding, -1
        )
        c0 = F.col("__off_c__") + F.coalesce(F.sum("__c__").over(w), F.lit(0.0))
        # stage the window result before the explode — Spark cannot analyze a
        # window expression nested inside a generator in one projection
        staged = offs.select(
            F.log("__v__").alias("__x__"),
            c0.cast("long").alias("__c0__"),
            F.col("__c__").cast("long").alias("__cnt__"),
        )
        pairs = staged.select(
            "__x__",
            F.explode(
                F.sequence(F.col("__c0__") + 1, F.col("__c0__") + F.col("__cnt__"))
            ).alias("__i__"),
        )
        yv = F.log(-F.log(1.0 - (F.col("__i__") - F.lit(0.3)) / F.lit(n + 0.4)))
        m = pairs.select(F.col("__x__"), yv.alias("__y__")).agg(
            F.sum("__x__").alias("sx"),
            F.sum("__y__").alias("sy"),
            F.sum(F.col("__x__") ** 2).alias("sxx"),
            F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
            F.sum(F.col("__y__") ** 2).alias("syy"),
        ).collect()[0]
    sx, sy, sxx, sxy, syy = (
        float(m[k]) for k in ("sx", "sy", "sxx", "sxy", "syy")
    )
    det = n * sxx - sx * sx
    if det <= 0:
        raise ValueError("weibull_fit: zero variance in values")
    k_shape = (n * sxy - sx * sy) / det
    if k_shape <= 0:
        raise ValueError("weibull_fit: non-positive shape (data not Weibull-like)")
    intercept = (sy - k_shape * sx) / n
    lam = math.exp(-intercept / k_shape)
    cyy = syy - sy * sy / n
    cxy = sxy - sx * sy / n
    cxx = sxx - sx * sx / n
    r2 = (cxy * cxy) / (cxx * cyy) if cxx > 0 and cyy > 0 else 1.0
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            round(k_shape, round_to), round(lam, round_to),
            round(r2, round_to), n, n_excluded,
        )],
        "shape_k double, scale_lambda double, r2 double, n bigint, "
        "n_excluded bigint",
    )
    return LazyFrame(out)


def chapman_estimate(
    frame: "LazyFrame | SparkDF",
    key_col: str,
    group_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> LazyFrame:
    """Chapman capture-recapture population estimate — "how many distinct
    entities exist in TOTAL, given two overlapping observation windows"
    (dedup-coverage QA, crawl-frontier sizing, wildlife-style census):
    with n_a and n_b the distinct keys seen in each sample and m the
    keys seen in BOTH, N̂ = (n_a+1)(n_b+1)/(m+1) − 1 (the bias-corrected
    Lincoln–Petersen), with
    SE = √((n_a+1)(n_b+1)(n_a−m)(n_b−m)/((m+1)²(m+2))).

    Assumes closed population and independent samples (document the
    usual caveats).  Scale shape: one (key)-grouped conditional-max
    aggregate marks each key's sample membership, one fused reduce
    counts the three cells — never a distinct-distinct join.  Output
    (1 row): n_a, n_b, n_both, chapman_n, se."""
    sdf = _sdf(frame)
    g = F.col(group_col)
    base = sdf.filter(
        F.col(key_col).isNotNull() & g.isin([group_a, group_b])
    )
    per_key = base.groupBy(F.col(key_col).alias("__k__")).agg(
        F.max((g == F.lit(group_a)).cast("int")).alias("__a__"),
        F.max((g == F.lit(group_b)).cast("int")).alias("__b__"),
    )
    r = per_key.agg(
        F.sum("__a__").alias("na"),
        F.sum("__b__").alias("nb"),
        F.sum(F.col("__a__") * F.col("__b__")).alias("m"),
    ).collect()[0]
    na, nb, m = int(r["na"] or 0), int(r["nb"] or 0), int(r["m"] or 0)
    if na < 1 or nb < 1:
        raise ValueError("chapman_estimate: both samples need at least 1 key")
    import math

    est = (na + 1.0) * (nb + 1.0) / (m + 1.0) - 1.0
    var = (
        (na + 1.0) * (nb + 1.0) * (na - m) * (nb - m)
        / ((m + 1.0) ** 2 * (m + 2.0))
    )
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(na, nb, m, round(est, round_to), round(math.sqrt(var), round_to))],
        "n_a bigint, n_b bigint, n_both bigint, chapman_n double, se double",
    )
    return LazyFrame(out)


__all__.extend(["weibull_fit", "chapman_estimate"])


def eb_shrunk_rates(
    frame: "LazyFrame | SparkDF",
    key_col: str,
    success_col: str,
    min_trials: int = 1,
    round_to: int = 6,
) -> LazyFrame:
    """Empirical-Bayes shrunken per-key rates (beta-binomial, method of
    moments) — the CTR/conversion smoothing that keeps a 1-for-1 key from
    outranking a 4900-for-5000 one: fit Beta(α, β) to the population of
    raw per-key rates (m = mean, v = variance, both over keys with
    ≥ ``min_trials``; α = m(m(1−m)/v − 1), β = (1−m)(m(1−m)/v − 1)),
    then every key shrinks to (successes + α)/(trials + α + β) — small
    samples pull hard toward the prior mean, big samples barely move.
    Unlike target_encode's FIXED smoothing weight m, the prior strength
    here is LEARNED from the key population itself.

    Scale shape: one key-grouped aggregate, one 1-row moment reduce
    (α, β return as plan literals), one map-only shrink — no join, no
    window.  Raises when the rate variance is 0 or the MoM prior is
    infeasible (v ≥ m(1−m)).  Output: (key, trials, successes, raw_rate,
    eb_rate) plus alpha/beta repeated per row for downstream use."""
    if min_trials < 1:
        raise ValueError("min_trials must be >= 1")
    sdf = _sdf(frame)
    y = F.col(success_col).cast("double")
    per_key = (
        sdf.filter(F.col(key_col).isNotNull() & y.isNotNull())
        .groupBy(F.col(key_col).alias("__k__"))
        .agg(F.count(F.lit(1)).alias("__n__"), F.sum(y).alias("__s__"))
    )
    with scoped_caches():
        per_key = register_cache(per_key)
        mom = per_key.filter(F.col("__n__") >= min_trials).agg(
            F.count(F.lit(1)).alias("k"),
            F.avg(F.col("__s__") / F.col("__n__")).alias("m"),
            F.var_samp(F.col("__s__") / F.col("__n__")).alias("v"),
        ).collect()[0]
        if int(mom["k"] or 0) < 3:
            raise ValueError("eb_shrunk_rates needs >= 3 keys at min_trials")
        m, v = float(mom["m"]), float(mom["v"] or 0)
        if v <= 0:
            raise ValueError("eb_shrunk_rates: zero variance across key rates")
        if v >= m * (1 - m):
            raise ValueError(
                "eb_shrunk_rates: rate variance too large for a beta prior "
                "(v >= m(1-m)); the rates are not exchangeable"
            )
        strength = m * (1 - m) / v - 1.0
        alpha, beta = m * strength, (1 - m) * strength
        out = per_key.select(
            F.col("__k__").alias(key_col),
            F.col("__n__").cast("long").alias("trials"),
            F.col("__s__").cast("long").alias("successes"),
            F.round(F.col("__s__") / F.col("__n__"), round_to).alias("raw_rate"),
            F.round(
                (F.col("__s__") + F.lit(alpha))
                / (F.col("__n__") + F.lit(alpha + beta)),
                round_to,
            ).alias("eb_rate"),
            F.round(F.lit(alpha), round_to).alias("alpha"),
            F.round(F.lit(beta), round_to).alias("beta"),
        )
        # alpha/beta are plain Python literals, so the returned plan only
        # references per_key's lineage — safe to release the cache here
        return LazyFrame(out)


__all__.append("eb_shrunk_rates")


def holt_winters(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    period: int,
    by: "str | list[str] | None" = None,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.1,
    horizon: int = 1,
    round_to: int = 6,
) -> LazyFrame:
    """Additive Holt–Winters (triple exponential smoothing) point
    forecast per series — holt_forecast's seasonal completion, the
    weekly/daily-cycle workhorse:

        ℓ_t = α(x_t − s_{t−m}) + (1−α)(ℓ_{t−1} + b_{t−1})
        b_t = β(ℓ_t − ℓ_{t−1}) + (1−β)b_{t−1}
        s_t = γ(x_t − ℓ_t) + (1−γ)s_{t−m}

    with the standard initialization over the first two periods
    (Hyndman & Athanasopoulos): ℓ_m = mean of season 1, b_m = the
    season-over-season mean step / m, s_i = x_i − ℓ_m; forecast
    ŷ_{n+h} = ℓ_n + h·b_n + s_{n+h−m·⌈h/m⌉}.  Series with < 2·period
    points yield nulls.

    The recurrence is sequential WITHIN a series, so each series folds
    as ONE codegen array expression over the gathered values (struct
    state (ℓ, b, seasonal queue); the queue rotates by slice+concat, no
    Python anywhere) — the same per-key memory contract as
    holt_forecast, and an external engine replays the fold verbatim.
    Output: ([keys...,] n, level, trend, seasonal_next, forecast)."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    m = int(period)
    if m < 2:
        raise ValueError("period must be >= 2")
    a, b, g = float(alpha), float(beta), float(gamma)
    for nm, val in (("alpha", a), ("beta", b), ("gamma", g)):
        if not 0 < val <= 1:
            raise ValueError(f"{nm} must be in (0, 1]")
    h = int(horizon)
    if h < 1:
        raise ValueError("horizon must be >= 1")
    v = F.col(value_col).cast("double")
    o = F.col(order_col)
    base = sdf.filter(v.isNotNull() & o.isNotNull())
    gathered = base.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(o.alias("o"), v.alias("v")))),
            lambda s: s["v"],
        ).alias("__xs__")
    )
    xs = F.col("__xs__")
    n = F.size(xs)
    mean1 = F.aggregate(
        F.slice(xs, 1, m), F.lit(0.0), lambda acc, x: acc + x
    ) / F.lit(float(m))
    mean2 = F.aggregate(
        F.slice(xs, m + 1, m), F.lit(0.0), lambda acc, x: acc + x
    ) / F.lit(float(m))
    init = F.struct(
        mean1.alias("l"),
        ((mean2 - mean1) / F.lit(float(m))).alias("b"),
        F.transform(F.slice(xs, 1, m), lambda x: x - mean1).alias("s"),
    )

    def step(acc, x):
        s_old = F.element_at(acc["s"], 1)
        l_new = (
            F.lit(a) * (x - s_old) + F.lit(1 - a) * (acc["l"] + acc["b"])
        )
        b_new = F.lit(b) * (l_new - acc["l"]) + F.lit(1 - b) * acc["b"]
        s_new = F.lit(g) * (x - l_new) + F.lit(1 - g) * s_old
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(
                F.slice(acc["s"], 2, m - 1), F.array(s_new)
            ).alias("s"),
        )

    folded = F.aggregate(
        F.slice(xs, m + 1, F.greatest(n - m, F.lit(0))), init, step
    )
    ok = n >= 2 * m
    # seasonal index for horizon h: position ((h-1) mod m) + 1 in the queue
    sidx = (h - 1) % m + 1
    level = F.when(ok, folded["l"])
    trend = F.when(ok, folded["b"])
    snext = F.when(ok, F.element_at(folded["s"], sidx))
    fc = level + F.lit(float(h)) * trend + snext
    out = gathered.select(
        *keys,
        n.cast("long").alias("n"),
        F.round(level, round_to).alias("level"),
        F.round(trend, round_to).alias("trend"),
        F.round(snext, round_to).alias("seasonal_next"),
        F.round(fc, round_to).alias("forecast"),
    )
    return LazyFrame(out)


__all__.append("holt_winters")


def quantile_normalize(
    frame: "LazyFrame | SparkDF",
    group_col: str,
    value_col: str,
    id_col: str,
    out_col: str = "value_qn",
    round_to: int = 6,
) -> LazyFrame:
    """Quantile normalization (Bolstad et al. 2003) — force every group's
    value distribution onto the shared reference distribution (the
    cross-group mean of each sorted position): the batch-effect remover
    for feature columns computed per source/shard before they feed one
    model.  Requires EQUAL group sizes (the classical method; validated
    here) and a deterministic ``id_col`` to break value ties, so both
    engines sort identically.

    Scale shape: one per-group rank window (keyed — never global), one
    tiny groupBy(rank) mean over |rows/groups| positions, one equi-join
    back on (rank) — the reference profile broadcasts when small.
    Output: group, id, value, ``out_col``."""
    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    base = sdf.filter(
        v.isNotNull() & F.col(group_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g__"),
        F.col(id_col).alias("__id__"),
        v.alias("__v__"),
    )

    base = register_cache(base)
    sizes = base.groupBy("__g__").count().select(
        F.countDistinct("count").alias("k"), F.count(F.lit(1)).alias("g")
    ).first()
    if sizes["g"] < 2:
        raise ValueError("quantile_normalize needs at least 2 groups")
    if sizes["k"] != 1:
        raise ValueError(
            "quantile_normalize requires equal group sizes (classical method); "
            "resample or bucket first"
        )
    w = Window.partitionBy("__g__").orderBy(F.col("__v__"), F.col("__id__"))
    ranked = base.withColumn("__r__", F.row_number().over(w))
    ref = ranked.groupBy("__r__").agg(F.avg("__v__").alias("__ref__"))
    out = (
        ranked.join(ref, "__r__")
        .select(
            F.col("__g__").alias(group_col),
            F.col("__id__").alias(id_col),
            F.col("__v__").alias(value_col),
            F.round(F.col("__ref__"), round_to).alias(out_col),
        )
    )
    return LazyFrame(out)


def page_hinkley(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    by: "str | list[str]",
    delta: float = 0.0,
    lam: float = 10.0,
    round_to: int = 6,
) -> LazyFrame:
    """Page–Hinkley drift detector (Page 1954; the streaming-ML form):
    per key and in ``order_col`` sequence, mₜ = Σ_{i≤t}(xᵢ − x̄ᵢ − δ)
    with x̄ᵢ the running mean up to i, PHₜ = mₜ − min_{i≤t} mᵢ, alarm
    when PHₜ > λ — a sustained upward level shift accumulates in mₜ
    while noise cancels (cusum_flags' sequential cousin, with the
    running mean making it robust to an unknown baseline).

    Two stacked per-key windows (running mean feeds the cumulative sum,
    then a running min) — keyed, so no single-partition stage; for an
    unkeyed global series use cusum_flags' distsort machinery instead
    (documented trade).  Output: key(s), order, value, ph, alarm rows
    where alarm is true, plus the final row per key (drift summary)."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by)
    if not keys:
        raise ValueError("page_hinkley requires by= keys; use cusum_flags for global")
    v = F.col(value_col).cast("double")
    base = sdf.filter(v.isNotNull()).select(
        *keys, F.col(order_col).alias("__t__"), v.alias("__v__")
    )
    w = Window.partitionBy(*keys).orderBy("__t__")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run_mean = F.avg("__v__").over(wcum)
    staged = base.withColumn("__term__", F.col("__v__") - run_mean - F.lit(delta))
    # the second window stacks on the first: Spark plans both in ONE
    # WindowExec pass per key since partitioning/ordering agree
    m = F.sum("__term__").over(wcum)
    staged2 = staged.withColumn("__m__", m)
    ph = F.col("__m__") - F.min("__m__").over(wcum)
    scored = staged2.withColumn("__ph__", ph)
    wlast = Window.partitionBy(*keys).orderBy(F.col("__t__").desc())
    flagged = scored.withColumn("__rn__", F.row_number().over(wlast)).filter(
        (F.col("__ph__") > lam) | (F.col("__rn__") == 1)
    )
    out = flagged.select(
        *keys,
        F.col("__t__").alias(order_col),
        F.col("__v__").alias(value_col),
        F.round("__ph__", round_to).alias("ph"),
        (F.col("__ph__") > lam).alias("alarm"),
    )
    return LazyFrame(out)


__all__.extend(["quantile_normalize", "page_hinkley"])


def hurst_exponent(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    window_sizes: "tuple[int, ...]" = (16, 32, 64, 128),
    round_to: int = 6,
) -> LazyFrame:
    """Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    Mandelbrot & Wallis 1969) over an INCREMENT series (returns, demeaned
    deltas): H ≈ 0.5 for a memoryless walk, > 0.5 persistent/trending,
    < 0.5 mean-reverting — the long-memory screen for a metric series.
    For each window size w the series splits into ⌊n/w⌋ full windows;
    per window R = max−min of the cumulative deviations from the window
    mean and S = population sd; H is the slope of log(mean R/S) on
    log(w) across ``window_sizes``.

    Scale shape: global positions via the distsort machinery (range
    buckets + driver prefix offsets — no single-partition stage), one
    explode over the ≤|window_sizes| sizes, and every window statistic is
    a KEYED (w, window_id) window/groupBy with partitions bounded by w;
    the final log-log OLS runs over ≤|window_sizes| rows.  Output
    (1 row): hurst, r2, n, n_windows."""
    if len(window_sizes) < 2:
        raise ValueError("need at least 2 window sizes")
    if any(w < 4 for w in window_sizes):
        raise ValueError("window sizes must be >= 4")
    import math

    from .distsort import with_bucket_offsets

    sdf = _sdf(frame)
    v = F.col(value_col).cast("double")
    base = sdf.filter(v.isNotNull()).select(
        F.col(order_col).alias("__t__"), v.alias("__v__")
    )
    offs, gb, tot = with_bucket_offsets(base, "__t__", {"c": F.lit(1)})
    n = int(tot["c"])
    if n < 2 * min(window_sizes):
        raise ValueError("series too short for the requested window sizes")
    wpos = Window.partitionBy(gb).orderBy("__t__")
    pos = F.col("__off_c__") + F.row_number().over(wpos) - 1
    indexed = offs.select(pos.alias("__pos__"), "__v__")
    sized = indexed.select(
        "__pos__", "__v__",
        F.explode(F.array(*[F.lit(int(w)) for w in window_sizes])).alias("__w__"),
    ).select(
        "__w__", "__v__", "__pos__",
        F.floor(F.col("__pos__") / F.col("__w__")).alias("__wid__"),
    )
    kw = Window.partitionBy("__w__", "__wid__")
    kord = kw.orderBy("__pos__")
    mean = F.avg("__v__").over(kw)
    staged = sized.withColumn("__mu__", mean)
    cd = F.sum(F.col("__v__") - F.col("__mu__")).over(
        kord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = staged.withColumn("__cd__", cd)
    per_win = scored.groupBy("__w__", "__wid__").agg(
        F.count(F.lit(1)).alias("__c__"),
        (F.max("__cd__") - F.min("__cd__")).alias("__r__"),
        F.stddev_pop("__v__").alias("__s__"),
    ).filter((F.col("__c__") == F.col("__w__")) & (F.col("__s__") > 0))
    per_w = per_win.groupBy("__w__").agg(
        F.avg(F.col("__r__") / F.col("__s__")).alias("rs"),
        F.count(F.lit(1)).alias("nw"),
    ).collect()
    pts = [(math.log(float(r["__w__"])), math.log(float(r["rs"]))) for r in per_w
           if r["rs"] and r["rs"] > 0]
    if len(pts) < 2:
        raise ValueError("hurst_exponent: fewer than 2 usable window sizes")
    k = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    syy = sum(p[1] * p[1] for p in pts)
    det = k * sxx - sx * sx
    h = (k * sxy - sx * sy) / det
    cxx = sxx - sx * sx / k
    cyy = syy - sy * sy / k
    cxy = sxy - sx * sy / k
    r2 = (cxy * cxy) / (cxx * cyy) if cxx > 0 and cyy > 0 else 1.0
    n_windows = sum(int(r["nw"]) for r in per_w)
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(round(h, round_to), round(r2, round_to), n, n_windows)],
        "hurst double, r2 double, n bigint, n_windows bigint",
    )
    return LazyFrame(out)


__all__.append("hurst_exponent")


def theta_forecast(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    order_col: str,
    by: "str | list[str] | None" = None,
    alpha: float = 0.5,
    horizon: int = 1,
    round_to: int = 6,
) -> LazyFrame:
    """Theta-method point forecast (Assimakopoulos & Nikolopoulos 2000 —
    the M3-competition winner; equivalent to SES-with-drift, Hyndman &
    Billah 2003): decompose the series into the θ=0 line (the OLS linear
    trend, pure long-run signal) and the θ=2 line Z_t = 2·x_t −
    (a + b·t) (doubled local curvature), SES-smooth the θ=2 line, and
    average the two h-step extrapolations:
    forecast(h) = ½·[ℓ_n + (a + b·(n−1+h))].  ``alpha`` is FIXED (classic
    Theta optimizes it per series; fixing keeps the op deterministic and
    engine-replayable — tune it upstream if needed).

    Same scale shape as holt_forecast: the recurrence is sequential
    WITHIN a series, so each series folds as one array expression
    (values via array_sort(collect_list(struct))), the OLS trend comes
    from four closed-form sums over the same array, and everything runs
    inside codegen — no Python, no window.  Per-key memory contract =
    series length (key by series, as real forecast pipelines do).
    Output: ([keys...,] n, slope, intercept, ses_level, forecast)."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    a_ = float(alpha)
    if not 0 < a_ <= 1:
        raise ValueError("alpha must be in (0, 1]")
    v = F.col(value_col).cast("double")
    o = F.col(order_col)
    base = sdf.filter(v.isNotNull() & o.isNotNull())
    gathered = base.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(o.alias("o"), v.alias("v")))),
            lambda s: s["v"],
        ).alias("__xs__")
    )
    xs = F.col("__xs__")
    n = F.size(xs).cast("double")
    idx = F.sequence(F.lit(0), F.size(xs) - 1)
    st = n * (n - 1.0) / 2.0
    stt = n * (n - 1.0) * (2.0 * n - 1.0) / 6.0
    sx = F.aggregate(xs, F.lit(0.0), lambda acc, x: acc + x)
    stx = F.aggregate(
        F.zip_with(xs, idx, lambda x, i: x * i.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = n * stt - st * st
    slope = F.when(den > 0, (n * stx - st * sx) / den).otherwise(F.lit(0.0))
    intercept = (sx - slope * st) / n
    # PROJECTION BARRIER: a/b must become real columns before they appear
    # inside the per-element theta-line lambda — embedded as expressions,
    # the O(n) OLS aggregates re-evaluate PER ELEMENT and the series fold
    # turns O(n²) (measured 20 s vs 0.6 s at sf0.1 on 5×2400-point series)
    stats = gathered.select(
        *keys, "__xs__", slope.alias("__b__"), intercept.alias("__a__")
    )
    a_col, b_col = F.col("__a__"), F.col("__b__")
    # θ=2 line: z_t = 2·x_t − (a + b·t); SES fold over z with ℓ₁ = z₁
    zs = F.zip_with(
        xs, idx, lambda x, i: 2.0 * x - (a_col + b_col * i.cast("double"))
    )
    level = F.aggregate(
        F.slice(zs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(zs, 1),
        lambda acc, z: F.lit(a_) * z + F.lit(1 - a_) * acc,
    )
    staged2 = stats.select(
        *keys,
        F.size(xs).cast("long").alias("n"),
        "__a__",
        "__b__",
        level.alias("__l__"),
    )
    h = float(horizon)
    nn = F.col("n").cast("double")
    trend_ex = F.col("__a__") + F.col("__b__") * (nn - 1.0 + h)
    fc = 0.5 * (F.col("__l__") + trend_ex)
    out = staged2.select(
        *keys,
        F.col("n"),
        F.round("__b__", round_to).alias("slope"),
        F.round("__a__", round_to).alias("intercept"),
        F.round("__l__", round_to).alias("ses_level"),
        F.round(fc, round_to).alias("forecast"),
    )
    return LazyFrame(out)


__all__.append("theta_forecast")
