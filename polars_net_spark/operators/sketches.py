"""Mergeable distinct-count sketches (Apache DataSketches HLL, built into
Spark SQL since 3.5): build per-group sketches ONCE, then roll them up to any
coarser grouping by unioning binary sketches — no re-scan of the data.

This is the 100 TB distinct-count pattern: exact count_distinct re-shuffles
raw values for every grouping level, while a persisted sketch column (a few
KB per group) answers every rollup by sketch union.  Estimates carry HLL's
~1-2% relative error at the default lgConfigK.

No DuckDB oracle is possible (sketch binaries are engine-specific), so these
ops are test-gated against exact counts (relative-error bound) instead of
hash-gated — the documented weaker-check class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .._arrow import map_batches
from ..frame import LazyFrame

__all__ = ["distinct_sketches", "rollup_sketches", "sketch_estimate"]


def _sdf(frame):
    return frame if isinstance(frame, SparkDF) else frame.spark


def distinct_sketches(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    by: "str | list[str] | None" = None,
    lg_k: int = 12,
    sketch_col: str = "sketch",
) -> LazyFrame:
    """One HLL sketch (binary) per ``by`` group over ``value_col`` — a
    map-side-combining aggregate; persist the result as the reusable
    distinct-count cube base."""
    sdf = _sdf(frame)
    keys = [by] if isinstance(by, str) else list(by or [])
    agg = F.hll_sketch_agg(F.col(value_col), F.lit(int(lg_k))).alias(sketch_col)
    out = sdf.groupBy(*keys).agg(agg) if keys else sdf.agg(agg)
    return LazyFrame(out)


def rollup_sketches(
    sketches: "LazyFrame | SparkDF",
    by: "str | list[str] | None" = None,
    sketch_col: str = "sketch",
) -> LazyFrame:
    """Union per-group sketches up to a coarser grouping (``by`` must be a
    subset of the original keys; ``None`` = grand total) — touches only the
    sketch rows, never the raw data."""
    sdf = _sdf(sketches)
    keys = [by] if isinstance(by, str) else list(by or [])
    agg = F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)
    out = sdf.groupBy(*keys).agg(agg) if keys else sdf.agg(agg)
    return LazyFrame(out)


def sketch_estimate(
    sketches: "LazyFrame | SparkDF",
    sketch_col: str = "sketch",
    estimate_col: str = "approx_distinct",
) -> LazyFrame:
    """Materialize the distinct-count estimate column from a sketch column
    (keeps every other column)."""
    sdf = _sdf(sketches)
    out = sdf.withColumn(estimate_col, F.hll_sketch_estimate(F.col(sketch_col)))
    return LazyFrame(out)


# ---------------------------------------------------------------------------
# KMV (k minimum values) cardinality — the DETERMINISTIC sketch family:
# md5-derived hashes mean the estimate is a pure function of the data, so a
# DuckDB oracle can replay it bit-for-bit (unlike HLL's engine-specific
# binaries).  Beyond-reference scaffolding for the 100 TB cardinality story.


def _hex_unit(hcol, digits: int = 13):
    """First ``digits`` hex chars as a double in [0, 1).  13 hex digits =
    52 bits — exactly representable, so Spark's conv() and DuckDB's
    digit-fold produce the identical double."""
    return F.conv(F.substring(hcol, 1, digits), 16, 10).cast("double") / float(
        16 ** digits
    )


def kmv_distinct(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    k: int = 256,
    by: "str | list[str] | None" = None,
    seed: str = "kmv",
    out_col: str = "approx_distinct",
) -> LazyFrame:
    """KMV (bottom-k) distinct-count estimate (Bar-Yossef et al. 2002):
    hash every value to a uniform point via md5, keep the k smallest
    DISTINCT hashes; with u_k the k-th smallest as a fraction of the hash
    space, estimate = (k−1)/u_k (exact count when fewer than k distinct
    values exist).  Standard error ≈ 1/√(k−2) (~6% at k=256).

    Unkeyed path is CONSTANT-MEMORY and shuffle-light: an Arrow-batched
    ``_arrow.map_batches`` kernel emits each batch's k smallest unique
    hashes (vectorized numpy, never per-row Python), the ≤ batches·k survivors dedupe and
    TakeOrdered to the global bottom-k, and one 1-row aggregate finishes —
    raw values never shuffle, which is the whole point at 100 TB.

    Keyed path: per-key ``slice(array_sort(collect_set(hash)), 1, k)`` in
    ONE map-side-combining aggregate.  Memory contract: partial collect_set
    holds each key's distinct hashes before the slice — suited to the
    many-keys/moderate-cardinality-per-key regime; for few keys with huge
    cardinality, filter per key and use the unkeyed path.

    Deterministic: same data + seed + k → same estimate, on any engine.
    Output: ([keys...,] n_min_hashes, out_col)."""
    sdf = _sdf(frame)
    kk = int(k)
    if kk < 2:
        raise ValueError("k must be >= 2")
    h = F.md5(
        F.concat(F.lit(str(seed)), F.lit("|"), F.col(value_col).cast("string"))
    )
    keys = [by] if isinstance(by, str) else list(by or [])
    base = sdf.filter(F.col(value_col).isNotNull())
    if keys:
        agg = base.groupBy(*keys).agg(
            F.slice(F.array_sort(F.collect_set(h)), 1, kk).alias("__kmv__")
        )
        n = F.size("__kmv__")
        u = _hex_unit(F.element_at("__kmv__", kk))
        est = F.when(n < kk, n.cast("double")).otherwise(F.lit(kk - 1) / u)
        out = agg.select(
            *keys,
            n.cast("long").alias("n_min_hashes"),
            F.round(est).cast("long").alias(out_col),
        )
        return LazyFrame(out)

    def kmin(batches):
        import numpy as np

        for batch in batches:
            # sorted unique
            vals = np.unique(batch.column(0).to_numpy(zero_copy_only=False))
            yield {"__h__": vals[:kk]}

    cand = (
        map_batches(base.select(h.alias("__h__")), kmin, "__h__ string")
        .distinct()
        .orderBy("__h__")
        .limit(kk)
    )
    n = F.count(F.lit(1))
    u = _hex_unit(F.max("__h__"))
    stats = cand.agg(n.alias("__n__"), u.alias("__u__"))
    est = F.when(F.col("__n__") < kk, F.col("__n__").cast("double")).otherwise(
        F.lit(kk - 1) / F.col("__u__")
    )
    out = stats.select(
        F.col("__n__").cast("long").alias("n_min_hashes"),
        F.round(est).cast("long").alias(out_col),
    )
    return LazyFrame(out)


def cms_build(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
) -> LazyFrame:
    """Count-min sketch TABLE (Cormode & Muthukrishnan 2005): ``depth``
    md5-seeded hash rows x ``width`` buckets; cell (r, b) holds the count
    of values hashing to bucket b under row r.  ONE explode (depth rows
    per input row) + ONE map-side-combining count aggregate — output is
    depth·width rows REGARDLESS of data size, the persistable
    frequency-sketch artifact (union sketches of two corpora by summing
    cell counts).  Deterministic md5 bucketing → DuckDB-replicable.
    Output: (row, bucket, cnt)."""
    sdf = _sdf(frame)
    d, w = int(depth), int(width)
    if d < 1 or w < 1:
        raise ValueError("depth and width must be >= 1")
    # the sketch reads ONE column; project it before the (guarded) spread
    # so a narrow-scan input parallelizes the d·|rows| md5 work across the
    # session cores without shuffling unrelated columns — a many-task
    # production scan skips the repartition entirely
    from .._spread import spread_plain_scan

    sdf = spread_plain_scan(sdf.select(F.col(value_col)))
    # depth is a Python int: build the per-hash-row structs as an array of
    # d literal-r expressions rather than transform(sequence(0, d-1), ...)
    # — higher-order functions have no codegen, so the md5/conv chain ran
    # interpreted per element; the unrolled form codegens normally
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("row"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(str(seed)),
                                        F.lit(str(r)),
                                        F.lit("|"),
                                        F.col(value_col).cast("string"),
                                    )
                                ),
                                1,
                                13,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % F.lit(w)
                    ).cast("int").alias("bucket"),
                )
                for r in range(d)
            ]
        )
    )
    out = (
        sdf.filter(F.col(value_col).isNotNull())
        .select(rows.alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return LazyFrame(out)


def cms_query(
    sketch: "LazyFrame | SparkDF",
    queries: "LazyFrame | SparkDF",
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
    out_col: str = "est_count",
) -> LazyFrame:
    """Point-frequency estimates from a :func:`cms_build` sketch: each
    query value hashes to its ``depth`` cells and the estimate is the MIN
    cell count (≥ the true count; over-estimate bounded by εN with
    ε = e/width at the usual analysis).  Missing cells read 0.  The join
    is (row, bucket)-keyed onto the depth·width-row sketch — broadcast by
    construction.  Output: (value, out_col)."""
    ssdf = _sdf(sketch)
    qsdf = _sdf(queries)
    d, w = int(depth), int(width)
    # unrolled like cms_build: literal-r structs codegen, HOF lambdas don't
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("row"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(str(seed)),
                                        F.lit(str(r)),
                                        F.lit("|"),
                                        F.col(value_col).cast("string"),
                                    )
                                ),
                                1,
                                13,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % F.lit(w)
                    ).cast("int").alias("bucket"),
                )
                for r in range(d)
            ]
        )
    )
    probed = qsdf.select(F.col(value_col).alias("value"), cells.alias("rb")).select(
        "value", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    out = (
        probed.join(F.broadcast(ssdf), ["row", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias(out_col))
    )
    return LazyFrame(out)


__all__.extend(["kmv_distinct", "cms_build", "cms_query"])


def kmv_jaccard(
    frame: "LazyFrame | SparkDF",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    k: int = 256,
    seed: str = "kmv",
    round_to: int = 6,
) -> LazyFrame:
    """KMV set-similarity between two segments — "how much do these two
    sources/cohorts overlap" WITHOUT materializing either distinct set:
    per segment the k smallest distinct md5 hashes (the kmv_distinct
    signature), then the classic bottom-k estimator (Beyer et al. 2007):
    with U the k smallest of sig_a ∪ sig_b, Ĵ = |U ∩ sig_a ∩ sig_b| / |U|,
    distinct/union sizes from the k-th smallest hash, and
    intersection ≈ Ĵ·|union|.

    Deterministic (same data + seed + k → same estimate on any engine).
    The bottom-k signatures build with EVERY buffer bounded by O(k), at
    any data size and any Arrow batch count: a ``_arrow.map_batches``
    task streams its partition's batches keeping only a RUNNING bottom-k of unique
    hashes per group (vectorized numpy; ≤ 2k strings per group live at
    any merge step — never a batch's or partition's full distinct set),
    so each task emits ≤ |groups|·k rows; the final per-group merge then
    holds ≤ tasks·k hashes — bounded by cluster parallelism, not by data
    volume.  This is EXACTLY the global answer, since any globally-
    bottom-k hash is bottom-k within every subset that contains it.
    (The r11 100x probe caught the single-buffer collect_set version
    OOMing the JVM at sf10 — two groups × millions of distinct md5
    strings in one aggregate row; r11's fix still let the merge buffer
    grow with the BATCH count; this version's running bottom-k makes the
    per-task bound constant.)  Group membership is canonicalized IN-PLAN
    (``F.when(g == lit(group_a), 'a')...``) so non-string group types
    (booleans, timestamps, decimals) compare natively instead of through
    divergent Spark-vs-Python string renderings.  The set algebra then
    runs on the DRIVER over the two ≤k-hash lists (bounded, and it lets
    an empty segment raise like the sibling two-sample operators instead
    of emitting a null row).  Exact when a segment has < k distinct
    values.  Output (1 row): k, jaccard_est, n_union_minhashes,
    distinct_a_est, distinct_b_est, union_est, intersect_est."""
    sdf = _sdf(frame)
    kk = int(k)
    if kk < 2:
        raise ValueError("k must be >= 2")
    g = F.col(group_col)
    h = F.md5(
        F.concat(F.lit(str(seed)), F.lit("|"), F.col(value_col).cast("string"))
    )
    # canonicalize membership in-plan: native-typed comparison, fixed
    # Python-side keys 'a'/'b' (a boolean group renders 'true' in Spark but
    # 'True' in Python — stringifying both sides diverged)
    tag = (
        F.when(g.eqNullSafe(F.lit(group_a)), F.lit("a"))
        .when(g.eqNullSafe(F.lit(group_b)), F.lit("b"))
    )
    base = sdf.filter(F.col(value_col).isNotNull()).select(
        tag.alias("__g__"), h.alias("__h__")
    ).filter(F.col("__g__").isNotNull())

    def kmin(batches):
        import numpy as np

        acc = {}  # group -> sorted unique bottom-k ndarray (≤ k strings)
        for batch in batches:
            gs = batch.column(0).to_numpy(zero_copy_only=False)
            hs = batch.column(1).to_numpy(zero_copy_only=False)
            for grp in dict.fromkeys(gs):
                vals = np.unique(hs[gs == grp])[:kk]
                prev = acc.get(grp)
                acc[grp] = (
                    vals
                    if prev is None
                    else np.unique(np.concatenate([prev, vals]))[:kk]
                )
        for grp, vals in acc.items():
            yield {"__g__": [grp] * len(vals), "__h__": vals}

    lvl2 = (
        map_batches(base, kmin, "__g__ string, __h__ string")
        .groupBy("__g__")
        .agg(F.slice(F.array_sort(F.collect_set("__h__")), 1, kk).alias("__s__"))
    )
    sigs = {r["__g__"]: list(r["__s__"] or []) for r in lvl2.collect()}
    sa = sigs.get("a", [])
    sb = sigs.get("b", [])
    if not sa or not sb:
        raise ValueError("kmv_jaccard: both groups need at least 1 row")

    def unit(hx: str) -> float:
        return int(hx[:13], 16) / float(16 ** 13)

    def rnd_half_up(x: float, d: int) -> float:
        # jaccard is a small-denominator rational (x/2^m) that CAN land
        # exactly on a decimal half; Python's banker rounding would then
        # diverge from SQL round() (half away from zero) — force half-up
        import math as _m

        f = 10 ** d
        return _m.floor(x * f + 0.5) / f

    def est(sig):
        return float(len(sig)) if len(sig) < kk else (kk - 1) / unit(sig[-1])

    un = sorted(set(sa) | set(sb))[:kk]
    inter = sum(1 for x in un if x in set(sa) and x in set(sb))
    nu = len(un)
    jac = inter / nu
    union_est = float(nu) if nu < kk else (kk - 1) / unit(un[-1])
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        [(
            kk, rnd_half_up(jac, round_to), nu,
            int(rnd_half_up(est(sa), 0)), int(rnd_half_up(est(sb), 0)),
            int(rnd_half_up(union_est, 0)), int(rnd_half_up(jac * union_est, 0)),
        )],
        "k bigint, jaccard_est double, n_union_minhashes bigint, "
        "distinct_a_est bigint, distinct_b_est bigint, union_est bigint, "
        "intersect_est bigint",
    )
    return LazyFrame(out)


__all__.append("kmv_jaccard")
