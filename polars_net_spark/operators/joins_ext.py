"""Extended join strategies: interval/range joins and skew-salted equi-joins.

Beyond the reference's equi/asof join surface (native_shim/src/lazy.rs:463-569
covers equi+asof only) — these are the two join shapes a 100 TB pipeline hits
constantly:

- ``range_join``: equi keys + a temporal/numeric interval residual.  Planned
  as ONE Spark join whose condition is equi-keys AND range predicates, so
  Catalyst emits a hash/sort-merge join on the equi keys with the range as a
  post-join filter — never a CartesianProduct (asserted in tools/
  explain_audit.py).  Without equi keys it degrades to a broadcast
  nested-loop range join, which is only sane when one side is small — the
  caller must pass ``broadcast=True`` to acknowledge that.

- ``salted_join``: the standard skew-mitigation rewrite.  The (big, skewed)
  left side gets a deterministic salt in [0, buckets) hashed from its row
  content; the (smaller) right side is exploded ``buckets`` times; the join
  runs on (key, salt), spreading each hot key over ``buckets`` reducers.
  Output is row-for-row identical to the plain equi-join (tested + the q60
  oracle IS the plain join).  AQE's skew-join handles moderate skew on its
  own; explicit salting is for the pathological keys AQE can't split (e.g.
  one key = 30% of the table feeding a window downstream).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F

from .._fmt import parse_polars_duration_us

__all__ = ["range_join", "salted_join", "fuzzy_join", "overlap_join", "fellegi_sunter_score"]


def _as_list(v) -> list[str]:
    if v is None:
        return []
    return [v] if isinstance(v, str) else list(v)


def _bound_expr(anchor, bound):
    """anchor + bound, where bound is a polars duration string ("7d", "-30m")
    or a numeric literal (for numeric range joins)."""
    if isinstance(bound, str):
        us = parse_polars_duration_us(bound)
        return anchor + F.expr(f"INTERVAL {us} MICROSECOND")
    return anchor + F.lit(bound)


def range_join(
    left,
    right,
    *,
    on: str | Sequence[str] | None = None,
    left_on: str | Sequence[str] | None = None,
    right_on: str | Sequence[str] | None = None,
    left_anchor: str,
    right_anchor: str,
    lower=None,
    upper=None,
    closed: str = "left",
    how: str = "inner",
    suffix: str = "_right",
    broadcast: bool = False,
    bucket: str | int | float | None = None,
):
    """Join rows where ``right[right_anchor]`` falls in the interval
    ``[left[left_anchor] + lower, left[left_anchor] + upper)`` (closed per
    ``closed``: 'left'|'right'|'both'|'none'), optionally ANDed with equi
    keys.

    lower/upper accept polars duration strings for timestamp anchors ("0d",
    "7d", "-1h") or plain numbers for numeric anchors; either may be None
    (one-sided range).

    ``bucket`` (skew guard, needs both bounds): quantize the anchor axis into
    fixed-width buckets (duration string for timestamps, number for numeric
    anchors) and join on (equi keys..., bucket) with the range as residual.
    Each LEFT row explodes to its interval's bucket span
    (ceil((upper-lower)/bucket)+1 copies); each RIGHT row emits exactly one
    bucket, so every matching pair still meets exactly once and the output is
    row-identical to the unbucketed join (tested).  Why: with only an equi
    key, one hot key (a bot user at 100 TB) funnels into ONE task; adding the
    time bucket to the join key bounds per-task pairs by events-per-key-per-
    bucket.  how='left' recovers unmatched rows via an anti-join on a row id.
    """
    from ..frame import LazyFrame

    lf = left if isinstance(left, LazyFrame) else LazyFrame(left)
    rf = right if isinstance(right, LazyFrame) else LazyFrame(right)
    if closed not in ("left", "right", "both", "none"):
        raise ValueError(f"closed must be left/right/both/none, got {closed!r}")
    if lower is None and upper is None:
        raise ValueError("range_join: at least one of lower/upper is required")

    if on is not None:
        lkeys = rkeys = _as_list(on)
    else:
        lkeys, rkeys = _as_list(left_on), _as_list(right_on)
        if len(lkeys) != len(rkeys):
            raise ValueError("left_on and right_on must have equal length")
    if not lkeys and not broadcast:
        raise ValueError(
            "range_join without equi keys is a nested-loop join; pass "
            "broadcast=True to confirm the right side is broadcast-sized"
        )

    lcols, rcols = lf._sdf.columns, rf._sdf.columns

    lbase = lf._sdf
    rbase = rf._sdf
    bucketed = bucket is not None
    if bucketed:
        if lower is None or upper is None:
            raise ValueError("bucketed range_join requires both lower and upper bounds")
        if how not in ("inner", "left"):
            raise ValueError("bucketed range_join supports how='inner'|'left'")
        temporal = isinstance(bucket, str)
        width = parse_polars_duration_us(bucket) if temporal else float(bucket)
        if width <= 0:
            raise ValueError("bucket width must be positive")
        if temporal != isinstance(lower, str) or temporal != isinstance(upper, str):
            raise ValueError("bucket and lower/upper must agree on duration-vs-numeric")
        lo_off = parse_polars_duration_us(lower) if temporal else float(lower)
        hi_off = parse_polars_duration_us(upper) if temporal else float(upper)

        def _num(c):
            return F.unix_micros(c.cast("timestamp")) if temporal else c.cast("double")

        lid_src = None
        if how == "left":
            # one shared plan for the id column: the exploded join side and
            # the unmatched-recovery side must see identical ids
            lid_src = lf._sdf.withColumn("__lid__", F.monotonically_increasing_id())
            lbase = lid_src
        nl = _num(F.col(left_anchor))
        lbase = lbase.withColumn(
            "__bkt__",
            F.explode(
                F.sequence(
                    F.floor((nl + F.lit(lo_off)) / F.lit(width)).cast("long"),
                    F.floor((nl + F.lit(hi_off)) / F.lit(width)).cast("long"),
                )
            ),
        )
        rbase = rbase.withColumn(
            "__bkt__", F.floor(_num(F.col(right_anchor)) / F.lit(width)).cast("long")
        )

    lsdf = lbase.alias("__l__")
    rsdf = F.broadcast(rbase) if broadcast else rbase
    rsdf = rsdf.alias("__r__")

    conds = [
        F.col(f"__l__.{lk}") == F.col(f"__r__.{rk}") for lk, rk in zip(lkeys, rkeys)
    ]
    if bucketed:
        conds.append(F.col("__l__.__bkt__") == F.col("__r__.__bkt__"))
    anchor_l = F.col(f"__l__.{left_anchor}")
    anchor_r = F.col(f"__r__.{right_anchor}")
    if lower is not None:
        lo = _bound_expr(anchor_l, lower)
        conds.append(anchor_r >= lo if closed in ("left", "both") else anchor_r > lo)
    if upper is not None:
        hi = _bound_expr(anchor_l, upper)
        conds.append(anchor_r <= hi if closed in ("right", "both") else anchor_r < hi)

    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c

    sel = [F.col(f"__l__.{c}").alias(c) for c in lcols]
    rkeep = [c for c in rcols if c not in rkeys]  # equi keys coalesced, polars-style
    for c in rkeep:
        sel.append(F.col(f"__r__.{c}").alias(c + suffix if c in lcols else c))

    if not bucketed:
        joined = lsdf.join(rsdf, cond, how)
        return LazyFrame(joined.select(*sel))

    # bucketed: matching pairs meet exactly once (right emits one bucket), so
    # the inner join is already duplicate-free; how='left' adds back the
    # left rows whose every bucket copy went unmatched
    inner = lsdf.join(rsdf, cond, "inner")
    if how == "inner":
        return LazyFrame(inner.select(*sel))
    matched = inner.select(*sel, F.col("__l__.__lid__").alias("__lid__"))
    matched_ids = inner.select(F.col("__l__.__lid__").alias("__lid__")).distinct()
    rschema = {f.name: f.dataType for f in rf._sdf.schema.fields}
    null_right = [
        F.lit(None).cast(rschema[c]).alias(c + suffix if c in lcols else c) for c in rkeep
    ]
    unmatched = (
        lid_src.join(matched_ids, "__lid__", "left_anti")
        .select(*[F.col(c) for c in lcols], *null_right)
    )
    return LazyFrame(matched.drop("__lid__").unionByName(unmatched))


def salted_join(
    left,
    right,
    on: str | Sequence[str],
    *,
    buckets: int = 8,
    how: str = "inner",
    suffix: str = "_right",
):
    """Equi-join with explicit key salting for pathological skew.

    Left rows get salt = xxhash64(entire row) mod buckets (deterministic, no
    RNG state); right rows are exploded once per salt value via a small
    in-line array — a buckets-fold duplication of the SMALL side only.  The
    join condition becomes (keys..., salt), so a single hot key's rows spread
    across ``buckets`` shuffle partitions instead of one straggler reducer.

    Supported how: inner/left (the duplication rewrite is identity-preserving
    for these; full/right would need the anti-side handled separately).
    """
    from ..frame import LazyFrame

    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    lf = left if isinstance(left, LazyFrame) else LazyFrame(left)
    rf = right if isinstance(right, LazyFrame) else LazyFrame(right)
    keys = _as_list(on)

    salt_l = F.pmod(F.xxhash64(*[F.col(c) for c in lf._sdf.columns]), F.lit(buckets))
    lsdf = lf._sdf.withColumn("__salt__", salt_l).alias("__l__")
    rsdf = (
        rf._sdf.withColumn(
            "__salt__", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
        )
    ).alias("__r__")

    cond = F.col("__l__.__salt__") == F.col("__r__.__salt__")
    for k in keys:
        cond = cond & (F.col(f"__l__.{k}") == F.col(f"__r__.{k}"))
    joined = lsdf.join(rsdf, cond, how)

    lcols = [c for c in lf._sdf.columns]
    rcols = [c for c in rf._sdf.columns]
    sel = [F.col(f"__l__.{c}").alias(c) for c in lcols]
    for c in rcols:
        if c in keys:
            continue
        sel.append(F.col(f"__r__.{c}").alias(c + suffix if c in lcols else c))
    return LazyFrame(joined.select(*sel))


def fuzzy_join(
    left,
    right,
    on: str,
    max_distance: int = 2,
    block_chars: int = 2,
    how: str = "inner",
    suffix: str = "_right",
    normalized: bool = False,
    length_band: bool = True,
    distinct_values: bool = True,
):
    """Blocked edit-distance join (record linkage): match rows whose ``on``
    strings are within ``max_distance`` Levenshtein edits, without an
    all-pairs comparison.

    Blocking: each side emits candidate keys — the lowercase value's first
    ``block_chars`` characters AND the same with one leading char dropped —
    so two strings whose first characters differ by one edit still share a
    block.  The join is an equi-join on the block key; Levenshtein runs only
    on candidates.  RECALL CONTRACT: a pair is found iff the two strings
    agree on some emitted block — edits entirely inside the first
    ``block_chars`` chars of BOTH emissions can be missed (lower
    block_chars, or block on an external key, for higher recall; blocking
    is the standard precision-1/recall<1 trade of record linkage at scale).

    ``normalized=True`` additionally strips non-alphanumerics before
    blocking/compare.  Output: left columns + right columns (collisions
    suffixed), plus ``edit_distance``.  100 TB: one (block-key)-keyed
    shuffle, candidates bounded per block; a hot block (e.g. empty strings)
    is the skew lever — pre-filter or raise block_chars.

    Two measured scale levers — both EXACT, i.e. they change the plan,
    never the matched pairs — and both ON BY DEFAULT since r11: the
    unlevered plan is OUTPUT-bound quadratic on duplicate-heavy corpora
    (352× wall at 100× data, BENCH_SF10_r10.json) while the levered plan
    measured 1.72× on 10× data (1.36 s at sf0.1, 2.34 s at sf1), so the naive
    caller gets the scale-safe plan; pass ``distinct_values=False,
    length_band=False`` to pin the direct row-level plan (useful when the
    ``on`` values are already near-unique and the two extra equi-joins
    are pure overhead):

    - ``length_band=True`` refines the block key with a string-length band:
      Levenshtein ≥ |len(a) − len(b)|, so true pairs differ by ≤
      ``max_distance`` chars; the probe side emits its own band
      ⌊len/(d+1)⌋ and the build side emits every band its ±d window can
      fall in (≤ 3 keys), which splits length-diverse hot blocks without
      losing any pair within distance.
    - ``distinct_values=True`` runs blocking + Levenshtein on the DISTINCT
      ``on`` values of each side and re-expands to rows via two equi-joins
      (the bpe_encode "Python only on distinct words" precedent).  For
      duplicate-heavy corpora the candidate volume then scales with
      distinct values, not rows² — identical strings land in the same
      block no matter how narrow the blocking, so this (not narrower
      blocks) is the lever when the value distribution is skewed.
    """
    from ..frame import LazyFrame

    lsdf = left._sdf if isinstance(left, LazyFrame) else left
    rsdf = right._sdf if isinstance(right, LazyFrame) else right
    if how not in ("inner", "left"):
        raise ValueError("fuzzy_join supports how='inner'|'left'")

    def norm(c):
        c = F.lower(F.trim(c))
        if normalized:
            c = F.regexp_replace(c, r"[^a-z0-9]", "")
        return c

    bw = max_distance + 1

    def blocks(c, probe: bool):
        n = norm(c)
        base = F.array_distinct(
            F.array(
                F.substring(n, 1, block_chars),
                F.substring(n, 2, block_chars),
            )
        )
        if not length_band:
            return base
        ln = F.char_length(n)
        if probe:
            bands = F.array(F.floor(ln / bw).cast("int"))
        else:
            bands = F.sequence(
                F.floor((ln - max_distance) / bw).cast("int"),
                F.floor((ln + max_distance) / bw).cast("int"),
            )
        return F.array_distinct(
            F.flatten(
                F.transform(
                    base,
                    lambda b: F.transform(
                        bands, lambda t: F.concat(b, F.lit("|"), t.cast("string"))
                    ),
                )
            )
        )

    lcols, rcols = lsdf.columns, rsdf.columns
    renames = {c: c + suffix for c in rcols if c in lcols}
    r2 = rsdf.withColumnsRenamed(renames)
    ron = on + suffix if on in renames else on

    if distinct_values:
        # candidate generation over distinct values only; the row-level
        # result is reconstructed by two value-keyed equi-joins, so the
        # quadratic block work scales with |distinct|², never rows²
        lvals = lsdf.select(F.col(on)).distinct()
        rvals = r2.select(F.col(ron)).distinct()
        lev = lvals.withColumn("__blk__", F.explode(blocks(F.col(on), probe=False)))
        rev = rvals.withColumn("__blk__", F.explode(blocks(F.col(ron), probe=True)))
        vdist = F.levenshtein(norm(F.col(on)), norm(F.col(ron)))
        vpairs = (
            lev.join(rev, "__blk__")
            .withColumn("edit_distance", vdist)
            .filter(F.col("edit_distance") <= max_distance)
            .drop("__blk__")
            .dropDuplicates()
        )
        # expand small-side first: value-pairs ⋈ right rows stays near
        # |vpairs|·dup_r, then one join fans out onto the big left side —
        # joining left first would shuffle the whole left table onto a
        # low-cardinality skewed string key.  The expanded frame inherits
        # the value stage's 1-partition lineage (AQE coalesces the tiny
        # distinct), and when the left side is broadcastable the planner
        # streams THIS side — so respread it first or the whole row-level
        # fan-out serializes onto one task (measured 22 s vs 2 s at sf1)
        expanded = vpairs.join(r2, ron)
        expanded = expanded.repartition(
            lsdf.sparkSession.sparkContext.defaultParallelism
        )
        matched = lsdf.join(expanded, on)
        matched = matched.select(
            *[F.col(c) for c in lcols],
            *[F.col(renames.get(c, c)) for c in rcols],
            F.col("edit_distance"),
        ).dropDuplicates()
        if how == "left":
            missed = lsdf.join(vpairs.select(on).distinct(), on, "anti").dropDuplicates(lcols)
            pad = missed.select(
                *[F.col(c) for c in lcols],
                *[F.lit(None).cast(r2.schema[renames.get(c, c)].dataType).alias(renames.get(c, c)) for c in rcols],
                F.lit(None).cast("int").alias("edit_distance"),
            )
            return LazyFrame(matched.unionByName(pad))
        return LazyFrame(matched)

    le = lsdf.withColumn("__blk__", F.explode(blocks(F.col(on), probe=False)))
    re_ = r2.withColumn("__blk__", F.explode(blocks(F.col(ron), probe=True)))
    dist = F.levenshtein(norm(F.col(on)), norm(F.col(ron)))
    # a pair sharing BOTH emitted blocks matches twice — dedup on the full
    # output row (exact when input rows are distinct; byte-identical
    # duplicate input rows collapse, documented)
    matched = (
        le.join(re_, "__blk__")
        .withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") <= max_distance)
        .drop("__blk__")
        .dropDuplicates()
    )
    if how == "left":
        out_cols = [F.col(c) for c in lcols] + [
            F.col(renames.get(c, c)) for c in rcols
        ] + [F.col("edit_distance")]
        missed = le.join(matched.select(on).distinct(), on, "anti").drop("__blk__").dropDuplicates(lcols)
        matched = matched.select(*out_cols)
        pad = missed.select(
            *[F.col(c) for c in lcols],
            *[F.lit(None).cast(r2.schema[renames.get(c, c)].dataType).alias(renames.get(c, c)) for c in rcols],
            F.lit(None).cast("int").alias("edit_distance"),
        )
        return LazyFrame(matched.unionByName(pad))
    return LazyFrame(matched)


def overlap_join(
    left,
    right,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: "str | Sequence[str] | None" = None,
    bucket: "int | float | None" = None,
    suffix: str = "_right",
):
    """Interval-overlap join: pairs where ``[left_start, left_end]`` and
    ``[right_start, right_end]`` intersect (closed intervals:
    ``ls <= re AND rs <= le``), optionally under equi keys ``on``.

    Without ``bucket`` the overlap predicate rides an equi-join on ``on``
    (fine when keys are selective) or warns about the nested-loop plan when
    keyless.  With ``bucket=b`` (same units as the bounds, numeric) each
    interval explodes to the b-buckets it covers and candidates meet on
    (keys, bucket); the pair is kept only in the FIRST bucket both cover
    (``bucket == floor(greatest(ls, rs)/b)``), so every overlapping pair
    appears exactly once — no distinct, no row ids.  Per-task work is then
    bounded by events-per-key-per-bucket (the range_join skew guard, but
    for interval×interval).  Pick b near the typical interval length:
    copies-per-row ≈ 1 + len/b, bucket population ≈ rate·b.
    """
    from ..frame import LazyFrame

    lsdf = left._sdf if isinstance(left, LazyFrame) else left
    rsdf = right._sdf if isinstance(right, LazyFrame) else right
    keys = [on] if isinstance(on, str) else list(on or [])
    lcols, rcols = lsdf.columns, rsdf.columns
    renames = {c: c + suffix for c in rcols if c in lcols and c not in keys}
    r2 = rsdf.withColumnsRenamed(renames)
    rs_, re_ = renames.get(right_start, right_start), renames.get(right_end, right_end)
    ls_, le_ = left_start, left_end
    overlap = (F.col(ls_) <= F.col(re_)) & (F.col(rs_) <= F.col(le_))
    if bucket is None:
        if not keys:
            import warnings

            warnings.warn(
                "overlap_join without keys or bucket plans a nested-loop join; "
                "pass bucket= for the scalable path",
                UserWarning,
                stacklevel=2,
            )
            joined = lsdf.join(r2, overlap, "inner")
        else:
            joined = lsdf.join(r2, keys, "inner").filter(overlap)
        return LazyFrame(joined)
    b = float(bucket)
    lb = F.explode(
        F.sequence(
            F.floor(F.col(ls_) / b).cast("long"), F.floor(F.col(le_) / b).cast("long")
        )
    ).alias("__bk__")
    rb = F.explode(
        F.sequence(
            F.floor(F.col(rs_) / b).cast("long"), F.floor(F.col(re_) / b).cast("long")
        )
    ).alias("__bk__")
    le2 = lsdf.select("*", lb)
    re2 = r2.select("*", rb)
    first_common = F.floor(F.greatest(F.col(ls_), F.col(rs_)) / b).cast("long")
    joined = (
        le2.join(re2, keys + ["__bk__"])
        .filter(overlap & (F.col("__bk__") == first_common))
        .drop("__bk__")
    )
    return LazyFrame(joined)


def _jaro_winkler_udf():
    """Vectorized Jaro–Winkler similarity (Winkler 1990): Jaro from the
    matching-window count and half-transpositions, plus the prefix boost
    l·0.1·(1−jaro) applied only when jaro > 0.7 (the boost threshold —
    verified byte-identical to DuckDB's jaro_winkler_similarity on the
    test fixtures, including the negative-window short-string edge).
    Spark has no JW built-in, so this is the documented Pandas-UDF path —
    Arrow-batched, and jaro_winkler_join only ever feeds it DISTINCT
    candidate value pairs, never raw rows."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _jw_one(a: str, b: str) -> float:
        if a == b:
            return 1.0
        la, lb = len(a), len(b)
        if la == 0 or lb == 0:
            return 0.0
        w = max(la, lb) // 2 - 1
        ma = [False] * la
        mb = [False] * lb
        m = 0
        for i, ca in enumerate(a):
            lo, hi = max(0, i - w), min(lb, i + w + 1)
            for j in range(lo, hi):
                if not mb[j] and b[j] == ca:
                    ma[i] = mb[j] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(la):
            if ma[i]:
                while not mb[k]:
                    k += 1
                if a[i] != b[k]:
                    t += 1
                k += 1
        t //= 2
        jaro = (m / la + m / lb + (m - t) / m) / 3.0
        if jaro > 0.7:
            l = 0
            for x, y in zip(a[:4], b[:4]):
                if x != y:
                    break
                l += 1
            return jaro + l * 0.1 * (1.0 - jaro)
        return jaro

    def _vec(a, b):
        return pd.Series(
            [_jw_one(x or "", y or "") for x, y in zip(a, b)], dtype="float64"
        )

    return pandas_udf(_vec, returnType="double")


def jaro_winkler_join(
    left,
    right,
    on: str,
    threshold: float = 0.9,
    block_chars: int = 2,
    suffix: str = "_right",
    distinct_values: bool = True,
):
    """Blocked Jaro–Winkler similarity join — the prefix-weighted record-
    linkage companion to fuzzy_join's Levenshtein (names, brands, short
    identifiers, where transpositions and suffixes matter less than the
    shared prefix).  Match rows whose ``on`` strings score ≥ ``threshold``.

    Same RECALL CONTRACT as fuzzy_join: candidates are pairs sharing an
    emitted block (the lowercase value's first ``block_chars`` chars at
    offsets 0 and 1); JW has no edit bound, so blocking is the standard
    precision-1/recall<1 trade.  The similarity itself runs in an Arrow-
    batched Pandas UDF (Spark has no JW built-in) over — by default —
    DISTINCT value pairs only, re-expanded to rows via two equi-joins
    (the fuzzy_join distinct_values lever, 1.72× wall on 10× data): the
    per-pair Python cost scales with |distinct|², never rows².  Output:
    left columns + right columns (collisions suffixed) + ``jw_sim``."""
    from ..frame import LazyFrame

    if not 0.0 <= threshold <= 1.0:
        raise ValueError("threshold must be in [0, 1]")
    lsdf = left._sdf if isinstance(left, LazyFrame) else left
    rsdf = right._sdf if isinstance(right, LazyFrame) else right

    def norm(c):
        return F.lower(F.trim(c))

    def blocks(c):
        n = norm(c)
        return F.array_distinct(
            F.array(
                F.substring(n, 1, block_chars),
                F.substring(n, 2, block_chars),
            )
        )

    lcols, rcols = lsdf.columns, rsdf.columns
    renames = {c: c + suffix for c in rcols if c in lcols}
    r2 = rsdf.withColumnsRenamed(renames)
    ron = on + suffix if on in renames else on
    jw = _jaro_winkler_udf()

    if distinct_values:
        lvals = lsdf.select(F.col(on)).distinct()
        rvals = r2.select(F.col(ron)).distinct()
        lev = lvals.withColumn("__blk__", F.explode(blocks(F.col(on))))
        rev = rvals.withColumn("__blk__", F.explode(blocks(F.col(ron))))
        vpairs = (
            lev.join(rev, "__blk__")
            .drop("__blk__")
            .dropDuplicates()
            .withColumn("jw_sim", jw(norm(F.col(on)), norm(F.col(ron))))
            .filter(F.col("jw_sim") >= threshold)
        )
        # small-side-first expansion + respread before the row fan-out —
        # the fuzzy_join distinct-path lessons (see its comments)
        expanded = vpairs.join(r2, ron).repartition(
            lsdf.sparkSession.sparkContext.defaultParallelism
        )
        matched = lsdf.join(expanded, on).select(
            *[F.col(c) for c in lcols],
            *[F.col(renames.get(c, c)) for c in rcols],
            F.col("jw_sim"),
        ).dropDuplicates()
        return LazyFrame(matched)

    le = lsdf.withColumn("__blk__", F.explode(blocks(F.col(on))))
    re_ = r2.withColumn("__blk__", F.explode(blocks(F.col(ron))))
    matched = (
        le.join(re_, "__blk__")
        .withColumn("jw_sim", jw(norm(F.col(on)), norm(F.col(ron))))
        .filter(F.col("jw_sim") >= threshold)
        .drop("__blk__")
        .dropDuplicates()
    )
    return LazyFrame(matched)


__all__.extend(["jaro_winkler_join"])


def fellegi_sunter_score(
    frame,
    fields: "dict[str, tuple[float, float]]",
    score_col: str = "fs_score",
    upper: "float | None" = None,
    lower: "float | None" = None,
    round_to: int = 6,
):
    """Fellegi–Sunter record-linkage scoring (Fellegi & Sunter 1969) over
    a candidate-pair frame: for each comparison field with BOOLEAN
    agreement column ``c`` and probabilities (m, u) — m = P(agree |
    match), u = P(agree | non-match) — the pair gains log₂(m/u) on
    agreement and log₂((1−m)/(1−u)) on disagreement; the summed weight is
    the match score.  This is the decision layer on top of the blocking
    joins here (fuzzy_join / jaro_winkler_join / winnowing_pairs generate
    candidates; FS scores them).  Null agreement = no evidence = weight 0
    (the standard missing-field treatment).

    With ``upper``/``lower`` thresholds a ``fs_decision`` column is
    appended: 'match' (≥ upper) / 'non_match' (≤ lower) /
    'possible' (clerical-review band).  Map-only column math — no
    shuffle, no UDF, linear at any candidate volume.  m, u are inputs
    (estimate them on labeled pairs or via EM upstream); each must be in
    (0, 1) with m > u, or the weight signs invert silently — validated
    here."""
    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    if not fields:
        raise ValueError("fields must name at least one agreement column")
    import math as _math

    score = F.lit(0.0)
    for col_name, (m, u) in fields.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {col_name!r}: need 0 < u < m < 1 (got m={m}, u={u})"
            )
        agree_w = _math.log2(m / u)
        disagree_w = _math.log2((1.0 - m) / (1.0 - u))
        c = F.col(col_name)
        score = score + F.when(c.isNull(), F.lit(0.0)).otherwise(
            F.when(c, F.lit(agree_w)).otherwise(F.lit(disagree_w))
        )
    out = sdf.withColumn(score_col, F.round(score, round_to))
    if upper is not None or lower is not None:
        if upper is None or lower is None or not lower <= upper:
            raise ValueError("need lower <= upper when thresholding")
        out = out.withColumn(
            "fs_decision",
            F.when(F.col(score_col) >= upper, F.lit("match"))
            .when(F.col(score_col) <= lower, F.lit("non_match"))
            .otherwise(F.lit("possible")),
        )
    return LazyFrame(out)


def fellegi_sunter_em(
    frame,
    fields: "list[str]",
    iters: int = 5,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
    eps: float = 1e-6,
    round_to: int = 6,
):
    """EM estimation of the Fellegi–Sunter (m, u) parameters (Winkler
    1988) from an UNLABELED candidate-pair frame — the missing half of
    the record-linkage stack: ``fellegi_sunter_score`` takes m/u as
    inputs; this computes them from the candidate pairs a scale-safe
    blocker (fuzzy_join / winnowing_pairs / jaro_winkler_join) already
    produced.  Conditional-independence mixture model: each pair is a
    match with weight w = p·Πf(γf) / (p·Πf(γf) + (1−p)·Πf'(γf)) (E-step),
    then p, m_f = Σw·γf/Σw·[γf non-null], u_f = Σ(1−w)γf/Σ(1−w)·[...]
    re-estimate (M-step), for a FIXED ``iters`` rounds from
    (init_p, init_m, init_u) — fixed rounds = deterministic and
    externally replayable, the logistic_fit/huber convention.  A NULL
    agreement contributes no likelihood factor and drops out of that
    field's M-step sums (the standard missing-field treatment, matching
    fellegi_sunter_score's weight-0 convention).  Estimates are clamped
    to [eps, 1−eps] each round (Winkler's degenerate-cell guard), so the
    log-weights below are always finite.

    SCALE: the E-step weight depends only on the agreement PATTERN, so
    the pairs collapse to their ≤3^|fields| distinct patterns with ONE
    map-side-combining groupBy (the only shuffle, linear in candidates);
    the EM loop then runs driver-side over that bounded pattern table —
    per-iteration cost is |patterns|·|fields| float ops, independent of
    the candidate volume.  ``init_m > init_u`` is required: equal
    initializations make every pattern's weight identical (w ≡ p) and EM
    cannot leave the symmetric fixed point.

    Output, one row per field (input order): field, m, u,
    w_agree = log2(m/u), w_disagree = log2((1−m)/(1−u)), lambda (the
    estimated match proportion p), n_pairs, iters.  A field whose
    estimates come back with m ≤ u does not discriminate (or inverts) on
    this candidate set — feed only m > u fields to
    fellegi_sunter_score."""
    import math as _math

    from ..frame import LazyFrame

    sdf = frame._sdf if isinstance(frame, LazyFrame) else frame
    fields = list(fields)
    if not fields:
        raise ValueError("fields must name at least one agreement column")
    if len(fields) > 12:
        raise ValueError("at most 12 comparison fields (3^F pattern table)")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0.0 < init_u < init_m < 1.0):
        raise ValueError(
            f"need 0 < init_u < init_m < 1 (got m={init_m}, u={init_u})"
        )
    if not (0.0 < init_p < 1.0):
        raise ValueError("init_p must be in (0, 1)")
    lo, hi = float(eps), 1.0 - float(eps)

    def clamp(x: float) -> float:
        return min(max(x, lo), hi)

    # the ONE distributed pass: candidates -> bounded pattern table
    pat_rows = (
        sdf.groupBy(*[F.col(f).cast("boolean").alias(f) for f in fields])
        .agg(F.count(F.lit(1)).cast("double").alias("__c__"))
        .collect()
    )
    # fixed driver-side summation order (sorted patterns, None first)
    pats = sorted(
        ((tuple(r[f] for f in fields), float(r["__c__"])) for r in pat_rows),
        key=lambda t: tuple((g is not None, bool(g)) for g in t[0]),
    )
    if not pats:
        raise ValueError("fellegi_sunter_em: no candidate pairs")
    nf = len(fields)
    p = float(init_p)
    m = [float(init_m)] * nf
    u = [float(init_u)] * nf
    n = sw = 0.0
    for _ in range(int(iters)):
        n = sw = su = 0.0
        am, cm = [0.0] * nf, [0.0] * nf
        au, cu = [0.0] * nf, [0.0] * nf
        for gs, c in pats:
            pm = pu = 1.0
            for i, g in enumerate(gs):
                if g is None:
                    continue
                pm *= m[i] if g else (1.0 - m[i])
                pu *= u[i] if g else (1.0 - u[i])
            w = p * pm / (p * pm + (1.0 - p) * pu)
            n += c
            sw += c * w
            su += c * (1.0 - w)
            for i, g in enumerate(gs):
                if g is None:
                    continue
                cm[i] += c * w
                cu[i] += c * (1.0 - w)
                if g:
                    am[i] += c * w
                    au[i] += c * (1.0 - w)
        for i, f in enumerate(fields):
            if cm[i] == 0.0 or cu[i] == 0.0:
                raise ValueError(
                    f"fellegi_sunter_em: field {f!r} has no non-null "
                    "agreements on any weighted pair"
                )
        p = clamp(sw / n)
        m = [clamp(am[i] / cm[i]) for i in range(nf)]
        u = [clamp(au[i] / cu[i]) for i in range(nf)]
    rows = [
        (
            f,
            round(m[i], round_to),
            round(u[i], round_to),
            round(_math.log2(m[i] / u[i]), round_to),
            round(_math.log2((1.0 - m[i]) / (1.0 - u[i])), round_to),
            round(p, round_to),
            int(n),
            int(iters),
        )
        for i, f in enumerate(fields)
    ]
    spark = sdf.sparkSession
    out = spark.createDataFrame(
        rows,
        "field string, m double, u double, w_agree double, "
        "w_disagree double, lambda double, n_pairs bigint, iters int",
    )
    return LazyFrame(out)


__all__.append("fellegi_sunter_em")
