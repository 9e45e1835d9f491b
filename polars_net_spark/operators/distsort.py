"""Scale-safe global ordering: deterministic range buckets + driver-side
exclusive prefix totals.

The anti-pattern this replaces is ``Window.partitionBy()`` — an empty
partition spec moves EVERY row to one task for the global sort (an OOM at
corpus scale).  The distributed equivalent of "global rank / global running
total" used here has one shape, two driver actions per call:

1. **Bucket boundaries** (``with_range_buckets``, action 1) from ONE
   ``percentile_approx`` aggregate (a Greenwald–Khanna sketch — constant
   executor memory, one small driver row).  Unlike ``repartitionByRange``
   (whose sampled boundaries differ between re-executions of the same
   plan), the collected boundaries become *plan literals*, so bucket
   assignment is a pure deterministic function of the value — consistent
   across the totals pass and the main pass.  **Bucket id** = number of
   distinct boundary literals strictly below (asc) / above (desc) the
   value.  Ties share a bucket by construction, so tie-averaged ranks never
   split across buckets, and the ids are contiguous along the value axis
   (every boundary is a data value, so no id between two occupied ids is
   empty).
2. **Per-bucket totals** (``with_prefix_folds``, action 2) from one
   map-side-combining aggregate, collected (≤ nbuckets rows) and folded on
   the driver into an exclusive prefix that comes back as a ``create_map``
   plan literal.  This is the one offset builder: ``with_prefix_offsets``
   is its running-sum form, and the prefix-min / prefix-max sweeps
   (bh_adjust, holm_adjust, pareto_front) call it with their fold.
3. Global cumulant = prefix-of-earlier-buckets + an ordinary
   ``Window.partitionBy(bucket).orderBy(value)`` within-bucket cumulant —
   every window task holds ~1/nbuckets of the data.

``with_bucket_offsets`` is steps 1 and 2 in sequence; ``with_halo_buckets``
is step 1 plus one per-bucket count aggregate.

Skewed boundaries (a value spanning whole quantile steps) merely leave some
buckets empty/hot in proportion to the tie mass — the same exposure a keyed
window has to a hot key, and tunable via ``nbuckets``.

Beyond-reference scaffolding (the reference computes rank statistics on a
single node), so it runs only where one node would not do.  **The one
bound rule:** an operator whose global ordering runs over one cached
frame (distinct cells, or median_ci's non-null values) counts that frame
once through ``polars_net_spark._bounded.bounded`` and compares the count
with one constant, ``_bounded.BOUND`` = 65,536 rows.  At or below it the
ordering runs in a single window task or on the driver (no sketch,
offsets or halo job); above it the machinery here runs unchanged.
Operators behind the guard: survival_curve and rmst (unkeyed), median_ci,
exact_quantiles, exact_quantiles_multi (per column), pettitt_test; each
decision is recorded as ``{operator, path, n, bound}``
(``_bounded.decisions()``).
"""

from __future__ import annotations

import bisect
import itertools
import math

from pyspark.sql import Column, DataFrame as SparkDF, Window
from pyspark.sql import functions as F

from .._bounded import bounded, record

__all__ = [
    "with_range_buckets",
    "with_prefix_folds",
    "with_prefix_offsets",
    "with_bucket_offsets",
    "BUCKET_COL",
]

BUCKET_COL = "__gb__"


def _default_nbuckets(sdf: SparkDF) -> int:
    try:
        return max(int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions")), 8)
    except Exception:  # noqa: BLE001 — e.g. "auto" under AQE-only configs
        return 32


def _distinct_bounds(raw) -> "list[float]":
    """The sorted distinct non-null sketch bounds.  Every NaN counts as one
    value, sorted last as Spark orders it: a plain Python set would keep
    each NaN object apart and, since NaN > x holds in Spark, shift every
    desc bucket id by the number of NaN sketch slots."""
    vals = [float(b) for b in (raw or []) if b is not None]
    out = sorted({b for b in vals if not math.isnan(b)})
    if any(math.isnan(b) for b in vals):
        out.append(math.nan)
    return out


def with_range_buckets(
    sdf: SparkDF,
    col_name: str,
    desc: bool = False,
    nbuckets: int | None = None,
    accuracy: int = 10_000,
) -> tuple[SparkDF, str]:
    """Attach ``BUCKET_COL``: a deterministic range-bucket id that increases
    along the requested ordering of ``col_name`` (must be numeric and
    non-null — filter nulls upstream).  All rows with equal values land in
    the same bucket.  Costs one sketch aggregate (one extra pass over
    ``sdf`` — persist it upstream if the plan is expensive)."""
    if nbuckets is None:
        nbuckets = _default_nbuckets(sdf)
    c = F.col(col_name).cast("double")
    if nbuckets > 1:
        qs = [i / nbuckets for i in range(1, nbuckets)]
        row = sdf.agg(
            F.percentile_approx(
                c, F.array(*[F.lit(q) for q in qs]), F.lit(int(accuracy))
            ).alias("b")
        ).first()
        bounds = _distinct_bounds(row["b"] if row is not None else None)
    else:
        bounds = []
    if not bounds:
        return sdf.withColumn(BUCKET_COL, F.lit(0)), BUCKET_COL
    arr = F.array(*[F.lit(b) for b in bounds])
    # strictly-below/above so a value equal to a boundary stays in the lower
    # (asc) / higher-scoring (desc) bucket — any consistent rule works, this
    # one keeps ties with their boundary twin
    pred = (lambda b: b > c) if desc else (lambda b: b < c)
    bucket = F.size(F.filter(arr, pred))
    return sdf.withColumn(BUCKET_COL, bucket), BUCKET_COL


# fold name -> (per-bucket aggregate, identity, driver-side combine)
_FOLDS = {
    "sum": (F.sum, 0, lambda acc, x: acc + (x or 0)),
    "min": (F.min, math.inf, lambda acc, x: min(acc, float(x))),
    "max": (F.max, -math.inf, lambda acc, x: max(acc, float(x))),
}


def with_prefix_folds(
    sdf: SparkDF,
    bucket_col: str,
    cols: "dict[str, Column]",
    fold: str,
    offset_prefix: str = "__off_",
) -> tuple[SparkDF, "dict[str, float]"]:
    """The one exclusive-prefix builder.  For each named expression, attach
    ``<offset_prefix><name>__`` = its ``fold`` (``"sum"``, ``"min"`` or
    ``"max"``) over all STRICTLY EARLIER buckets; the first bucket gets
    the fold's identity (0, +inf, -inf).  One map-side-combining aggregate, ≤ nbuckets
    rows to the driver, offsets return as a ``create_map`` literal.  Also
    returns the fold over all buckets (for sums: the exact grand totals)."""
    agg, identity, combine = _FOLDS[fold]
    names = list(cols)
    rows = (
        sdf.groupBy(bucket_col)
        .agg(*[agg(cols[n]).alias(n) for n in names])
        .collect()
    )
    rows.sort(key=lambda r: r[bucket_col])
    offsets: dict[str, dict[int, float]] = {n: {} for n in names}
    totals: dict[str, float] = {n: identity for n in names}
    for r in rows:
        for n in names:
            offsets[n][r[bucket_col]] = totals[n]
            totals[n] = combine(totals[n], r[n])
    out = sdf
    for n in names:
        off = F.lit(float(identity))
        if offsets[n]:
            m = F.create_map(
                *[
                    lit
                    for k, v in offsets[n].items()
                    for lit in (F.lit(int(k)), F.lit(float(v)))
                ]
            )
            off = F.coalesce(F.element_at(m, F.col(bucket_col)), off)
        out = out.withColumn(f"{offset_prefix}{n}__", off)
    return out, totals


def with_prefix_offsets(
    sdf: SparkDF,
    bucket_col: str,
    sums: "dict[str, Column]",
    offset_prefix: str = "__off_",
) -> tuple[SparkDF, "dict[str, float]"]:
    """For each named expression, attach ``__off_<name>__`` = its total over
    all STRICTLY EARLIER buckets, so a global running total is
    ``__off_x__ + <within-bucket cumulative>``.  Also returns the grand
    totals (exact — sums of the per-bucket longs/doubles)."""
    return with_prefix_folds(sdf, bucket_col, sums, "sum", offset_prefix)


def with_bucket_offsets(
    sdf: SparkDF,
    col_name: str,
    sums: "dict[str, Column]",
    desc: bool = False,
    nbuckets: int | None = None,
    accuracy: int = 10_000,
    offset_prefix: str = "__off_",
) -> tuple[SparkDF, str, "dict[str, float]"]:
    """``with_range_buckets`` then ``with_prefix_offsets``: two driver
    actions (the boundary sketch, the per-bucket sums).  Returns ``(sdf +
    BUCKET_COL + __off_<name>__ columns, BUCKET_COL, grand totals)``."""
    bucketed, bcol = with_range_buckets(sdf, col_name, desc, nbuckets, accuracy)
    out, totals = with_prefix_offsets(bucketed, bcol, sums, offset_prefix)
    return out, bcol, totals


HALO_COL = "__halo__"


def with_halo_buckets(
    sdf: SparkDF,
    order_col: str,
    before: int = 0,
    after: int = 0,
    nbuckets: int | None = None,
    tie_cols: "list[str] | None" = None,
) -> tuple[SparkDF, str, str]:
    """Range buckets PLUS neighbor halo rows — the distributed form of an
    unkeyed bounded-window sequence op (moving average, lag): each bucket
    additionally receives the last ``before`` rows of its predecessor and
    the first ``after`` rows of its successor, flagged ``HALO_COL=True``.
    A ``Window.partitionBy(bucket).orderBy(order_col)`` with a row frame
    inside [-before, +after] then sees exactly the rows a GLOBAL ordered
    window would — consumers compute over all rows and keep
    ``~HALO_COL``.  Global edges stay edges: bucket 0 gets no
    predecessor halo, so edge semantics (e.g. null trend where the window
    is short) are preserved.

    ``order_col`` must be unique per row (a dense position index — the
    same contract the single-partition form had) — OR, when ties exist,
    pass ``tie_cols``: equal ``order_col`` values always land in the same
    bucket (range-bucket guarantee), and the halo rows are then selected
    under the full (order_col, *tie_cols) ordering so the borrowed
    neighbor rows are exactly the rows a global (order_col, *tie_cols)
    window would see.  Consumers must order their bucket window by the
    same (order_col, *tie_cols).  Cost: the boundary
    sketch pass + one bounded per-bucket count (adjacent buckets COALESCE
    until each holds at least max(before, after) rows — a single-hop halo
    only reaches the immediate neighbor, so a bucket thinner than the
    window would otherwise starve it: the bug class where a 40-row frame
    under 32 shuffle partitions silently nulled every centered window) +
    ONE bucket-keyed exchange carrying two row_number windows, then the
    explode fan-out of ≤ (before+after) rows per bucket — no
    single-partition stage at any scale."""
    before, after = int(before), int(after)
    bucketed, bcol = with_range_buckets(sdf, order_col, nbuckets=nbuckets)
    if before <= 0 and after <= 0:
        return bucketed.withColumn(HALO_COL, F.lit(False)), bcol, HALO_COL
    counts = sorted(
        bucketed.groupBy(bcol).agg(F.count(F.lit(1)).alias("count")).collect(),
        key=lambda r: r[bcol],
    )
    # coalesce thin buckets: every surviving bucket must hold >= need rows
    # so its halo alone can complete the neighbor's window
    need = max(before, after)
    mapping: dict[int, int] = {}
    gid, acc = 0, 0
    for r in counts:
        mapping[r[bcol]] = gid
        acc += r["count"]
        if acc >= need:
            gid += 1
            acc = 0
    if acc and gid > 0:
        # trailing group too thin: fold it into the previous one
        for k, v in mapping.items():
            if v == gid:
                mapping[k] = gid - 1
    if len(set(mapping.values())) < len(counts):
        m = F.create_map(
            *[lit for k, v in mapping.items() for lit in (F.lit(int(k)), F.lit(int(v)))]
        )
        bucketed = bucketed.withColumn(bcol, F.element_at(m, F.col(bcol)))
    ties = [F.col(c) for c in (tie_cols or [])]
    wa = Window.partitionBy(bcol).orderBy(
        F.col(order_col).asc(), *[t.asc() for t in ties]
    )
    wd = Window.partitionBy(bcol).orderBy(
        F.col(order_col).desc(), *[t.desc() for t in ties]
    )
    tagged = bucketed.withColumn("__ra__", F.row_number().over(wa)).withColumn(
        "__rd__", F.row_number().over(wd)
    )
    etype = "array<struct<b:int,h:boolean>>"
    own = F.array(F.struct(F.col(bcol).alias("b"), F.lit(False).alias("h")))
    assigns = [own]
    if before > 0:
        assigns.append(
            F.when(
                F.col("__rd__") <= before,
                F.array(F.struct((F.col(bcol) + 1).alias("b"), F.lit(True).alias("h"))),
            ).otherwise(F.array().cast(etype))
        )
    if after > 0:
        assigns.append(
            F.when(
                F.col("__ra__") <= after,
                F.array(F.struct((F.col(bcol) - 1).alias("b"), F.lit(True).alias("h"))),
            ).otherwise(F.array().cast(etype))
        )
    out = (
        tagged.withColumn("__assign__", F.explode(F.concat(*assigns)))
        .withColumn(bcol, F.col("__assign__.b"))
        .withColumn(HALO_COL, F.col("__assign__.h"))
        .drop("__assign__", "__ra__", "__rd__")
    )
    return out, bcol, HALO_COL


__all__.extend(["with_halo_buckets", "HALO_COL"])


def cell_ranks(
    frame,
    value_col: str,
    partition_by: "str | list[str] | None" = None,
    methods: "tuple[str, ...]" = ("min", "max", "average", "dense"),
    prefix: str = "rank_",
    descending: bool = False,
    broadcast_threshold: "int | None" = 5_000_000,
):
    """All the tie-aware rank methods (min/max/average/dense) computed from
    the DISTINCT (partition, value) CELL TABLE instead of a row-level
    window — the scale lever for ranking a bounded-cardinality value under
    a low-cardinality partition key.

    A window `PARTITION BY key ORDER BY value` caps parallelism at
    |distinct keys| and sorts each key's full row set in one task — with 3
    keys over 60M rows that is 3 straggler sorts however many cores exist
    (the BENCH_SF10 q116 shape, 52x wall at 100x data).  But every rank
    method is a function of ONLY the per-(key, value) row counts:

        rank_min   = 1 + #rows with smaller value (same key)
        rank_max   = #rows with value <= this one
        rank_avg   = (rank_min + rank_max) / 2
        rank_dense = #distinct smaller values + 1

    so: one map-side-combining groupBy builds the cell table (|keys| x
    |distinct values| rows — thousands, not billions), cumulative sums run
    over THAT (tiny per-key windows), and one broadcast equi-join on
    (key, value) attaches the ranks back to the rows.  No data-sized sort,
    no single-key straggler, one shuffle (the groupBy) at any scale.

    USE WHEN |cells| << |rows| (quantities, prices in cents, ratings,
    dates); for effectively-unique values the cell table IS the data and a
    plain window (or distsort range buckets) is the right tool.  Ranks are
    appended as ``<prefix><method>`` (average is fractional, others long).

    Misuse guard: the broadcast of a near-unique value column's cell table
    would be data-sized — an executor/driver OOM, not a slow plan.  The
    cell count is therefore checked against ``broadcast_threshold`` first
    (one extra run of the cheap map-side-combined groupBy); above it the
    attach falls back to a plain shuffle hash join (degraded but safe).
    Pass ``broadcast_threshold=None`` to skip the count and force the
    broadcast when the cardinality is known-small.

    NULL values rank the way the window they replace ranks them (ascending
    → NULLs first, descending → NULLs last, Spark's defaults): NULL is a
    cell like any other, and the rank attach joins null-safely.
    """
    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    bad = [m for m in methods if m not in ("min", "max", "average", "dense")]
    if bad:
        raise ValueError(f"unknown rank methods: {bad}")
    v = F.col(value_col)
    cells = sdf.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("__c__"))
    order = v.desc() if descending else v.asc()
    w = Window.partitionBy(*keys).orderBy(order)
    # cumulative row count up to and including this cell = rank_max;
    # the cell table is tiny, so per-key single-task windows are fine HERE
    ranked = cells.select(
        *keys,
        value_col,
        (F.sum("__c__").over(w) - F.col("__c__") + 1).alias("__rmin__"),
        F.sum("__c__").over(w).alias("__rmax__"),
        F.row_number().over(w).alias("__rdense__"),
    )
    out_cols = []
    if "min" in methods:
        out_cols.append(F.col("__rmin__").cast("long").alias(f"{prefix}min"))
    if "max" in methods:
        out_cols.append(F.col("__rmax__").cast("long").alias(f"{prefix}max"))
    if "average" in methods:
        out_cols.append(
            ((F.col("__rmin__") + F.col("__rmax__")) / 2.0).alias(f"{prefix}average")
        )
    if "dense" in methods:
        out_cols.append(F.col("__rdense__").cast("long").alias(f"{prefix}dense"))
    jcols = [*keys, value_col]
    attach = ranked.select(
        *[F.col(c).alias(f"__cr_{c}__") for c in jcols], *out_cols
    )
    if broadcast_threshold is None or record(
        "cell_ranks", cells.count(), broadcast_threshold
    ):
        attach = F.broadcast(attach)
    cond = None
    for c in jcols:
        eq = sdf[c].eqNullSafe(attach[f"__cr_{c}__"])
        cond = eq if cond is None else (cond & eq)
    joined = sdf.join(attach, cond, "left").drop(
        *[f"__cr_{c}__" for c in jcols]
    )
    return LazyFrame(joined)


__all__.append("cell_ranks")


def _interpolate(n: int, probs: "list[float]", at) -> "list[float | None]":
    """Spark's Percentile interpolation over ``n`` ordered values, ``at(k)``
    giving the 0-based order statistic k: pos = (n-1)·p, result = lower +
    (higher-lower)·(pos-floor(pos))."""
    out: "list[float | None]" = []
    for p in probs:
        pos = (n - 1) * float(p)
        lo_v, hi_v = at(int(math.floor(pos))), at(int(math.ceil(pos)))
        out.append(lo_v + (hi_v - lo_v) * (pos - math.floor(pos)))
    return out


def _percentile_fallback(sdf: SparkDF, c: Column, probs) -> "list[float | None]":
    """The single-reducer ``F.percentile`` over the double column ``c``:
    NaN values need Spark's NaN-sorts-last order, which the resolvers do
    not model."""
    row = sdf.agg(
        F.percentile(c, F.array(*[F.lit(float(p)) for p in probs])).alias("b")
    ).first()
    arr = row["b"] if row is not None else None
    return [None] * len(probs) if arr is None else [float(x) for x in arr]


def _order_statistics(
    sdf: SparkDF, c: Column, dv: SparkDF, small: bool, probs, nbuckets
) -> "list[float | None]":
    """Quantiles of ``c`` from its non-empty (``__v__``, ``__cnt__``)
    distinct-value table ``dv``: resolved on the driver from the collected
    pairs when ``small``, else distributed — range buckets + prefix
    offsets give each distinct value its 0-based order-statistic span
    [start, start+cnt-1] and every requested statistic resolves in ONE
    fused conditional reduce."""
    if small:
        pairs = sorted((r["__v__"], int(r["__cnt__"])) for r in dv.collect())
        if any(math.isnan(v) for v, _ in pairs):
            return _percentile_fallback(sdf, c, probs)
        cum = list(itertools.accumulate(cnt for _, cnt in pairs))
        return _interpolate(
            cum[-1], probs, lambda k: float(pairs[bisect.bisect_right(cum, k)][0])
        )
    if not dv.filter(F.isnan("__v__")).isEmpty():
        return _percentile_fallback(sdf, c, probs)
    offs, bcol, totals = with_bucket_offsets(
        dv, "__v__", {"c": F.col("__cnt__")}, nbuckets=nbuckets
    )
    n = int(totals["c"])
    targets = set()
    for p in probs:
        pos = (n - 1) * float(p)
        targets.update((int(math.floor(pos)), int(math.ceil(pos))))
    w = Window.partitionBy(bcol).orderBy("__v__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.col("__off_c__") + F.coalesce(F.sum("__cnt__").over(w), F.lit(0.0))
    staged = offs.select(
        "__v__", start.alias("__s__"), (start + F.col("__cnt__")).alias("__e__")
    )
    row = staged.agg(
        *[
            F.min(
                F.when((F.col("__s__") <= i) & (F.lit(i) < F.col("__e__")), F.col("__v__"))
            ).alias(f"t{i}")
            for i in sorted(targets)
        ]
    ).first()
    return _interpolate(n, probs, lambda k: float(row[f"t{k}"]))


def _check_probs(probs) -> None:
    for p in probs:
        if not (0.0 <= p <= 1.0):
            raise ValueError("each prob must be in [0, 1]")


def exact_quantiles(
    sdf: SparkDF,
    col,
    probs: "list[float]",
    nbuckets: "int | None" = None,
    driver_threshold: "int | None" = None,
) -> "list[float | None]":
    """EXACT linear-interpolation quantiles of one numeric column as driver
    scalars, computed DISTRIBUTED — the scale-safe replacement for a global
    ``F.percentile`` aggregate, whose merging reducer buffers and sorts
    every value on ONE task (fine at test SFs, OOM-class on a 100 TB
    column; the r11 winsorize docstring told users to switch to approx at
    scale — this keeps the exact answer instead).

    Shape: values collapse to a persisted DISTINCT-value count table
    (map-side combine), range buckets + driver prefix offsets give each
    distinct value its 0-based order-statistic span [start, start+cnt-1],
    and every requested order statistic resolves in ONE fused conditional
    reduce.  Interpolation follows Spark's Percentile exactly:
    pos = (n-1)·p, result = lower + (higher-lower)·(pos-floor(pos)).

    NaN values would need Spark's NaN-sorts-last convention inside the
    range bucketing; they are rare and data-quality-suspect, so that case
    falls back to the single-reducer ``F.percentile`` (same result).
    Returns one float per prob, or Nones when the column has no rows.

    Scale shape: the module's one bound rule.  The distinct-value table
    is cached and counted once; at most ``driver_threshold`` rows (default
    ``_bounded.BOUND`` = 65,536) resolve the order statistics DRIVER-SIDE
    from the collected (value, count) pairs — the identical selection +
    interpolation arithmetic, two cheap jobs on the cached table instead
    of the sketch/offsets/final chain (measured ~+1.2 s of per-call job
    overhead on low-cardinality gate columns).
    The distributed path is unchanged above the bound, so the 100 TB
    contract — no task ever buffers more than a bucket — still holds;
    note Spark's own ``F.percentile`` buffer is a per-distinct-value
    count map, so BOUNDED-cardinality columns were never the risk; the
    continuous (all-distinct) columns that are stay on distsort.
    """
    _check_probs(probs)

    c = F.col(col).cast("double") if isinstance(col, str) else col.cast("double")
    base = sdf.select(c.alias("__v__")).filter(F.col("__v__").isNotNull())
    dv, ndv, small = bounded(
        base.groupBy("__v__").agg(F.count(F.lit(1)).alias("__cnt__")),
        "exact_quantiles",
        driver_threshold,
    )
    if ndv == 0:
        return [None] * len(probs)
    return _order_statistics(sdf, c, dv, small, probs, nbuckets)


__all__.append("exact_quantiles")


def exact_quantiles_multi(
    sdf: SparkDF,
    cols: "dict[str, Column | str]",
    probs: "list[float]",
    nbuckets: "int | None" = None,
    driver_threshold: "int | None" = None,
) -> "dict[str, list[float | None]]":
    """``exact_quantiles`` for SEVERAL columns in ONE shared input pass —
    the multi-column feature-scaling shape (r12 ADVICE: a per-column loop
    re-ran the full upstream scan+combine once per column).  One unpivot
    (explode of per-column structs) feeds one map-side-combined
    (column, value) distinct-count aggregate, persisted; each column's
    order statistics then resolve against that cached table with the
    IDENTICAL per-column arithmetic as ``exact_quantiles``.  Each column's
    distinct-value count is checked against the one bound
    (``driver_threshold``, default ``_bounded.BOUND`` read at call time)
    and recorded as an ``exact_quantiles_multi`` decision.  Returns
    {name: [quantile per prob]}."""
    _check_probs(probs)
    from .._cache import register_cache

    names = list(cols)
    casts = {
        name: (F.col(c) if isinstance(c, str) else c).cast("double")
        for name, c in cols.items()
    }
    structs = [
        F.struct(F.lit(name).alias("__k__"), casts[name].alias("__v__"))
        for name in names
    ]
    base = (
        sdf.select(F.explode(F.array(*structs)).alias("__e__"))
        .select(F.col("__e__.__k__").alias("__k__"), F.col("__e__.__v__").alias("__v__"))
        .filter(F.col("__v__").isNotNull())
    )
    dv = register_cache(
        base.groupBy("__k__", "__v__").agg(F.count(F.lit(1)).alias("__cnt__"))
    )
    ndv_rows = dv.groupBy("__k__").agg(F.count(F.lit(1)).alias("__ndv__")).collect()
    ndv = {r["__k__"]: int(r["__ndv__"]) for r in ndv_rows}

    out: "dict[str, list[float | None]]" = {}
    for name in names:
        n_distinct = ndv.get(name, 0)
        small = record("exact_quantiles_multi", n_distinct, driver_threshold)
        if n_distinct == 0:
            out[name] = [None] * len(probs)
            continue
        col_dv = dv.filter(F.col("__k__") == name).select("__v__", "__cnt__")
        out[name] = _order_statistics(sdf, casts[name], col_dv, small, probs, nbuckets)
    return out


__all__.append("exact_quantiles_multi")
