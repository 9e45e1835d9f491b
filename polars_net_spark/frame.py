"""LazyFrame / DataFrame: the two frame types of the engine.

Mirrors the reference's design where every eager op is sugar over the lazy
plan (`clone().lazy().op().collect()`, /root/reference native_shim/src/eager.rs:35-56)
— here ``LazyFrame`` wraps a (already lazy) ``pyspark.sql.DataFrame`` and the
eager ``DataFrame`` simply holds a LazyFrame and forces actions on demand.

Scale notes (100 TB):
- No operator on the lazy path ever collects to the driver.
- ``with_row_index`` uses ``monotonically_increasing_id`` — a *sparse* but
  order-stable id that needs no global sort / single-task window, so it scales;
  positional ops only ever use it as a sort key.
- joins: small frames should be wrapped with ``broadcast()``; Catalyst + AQE
  pick broadcast automatically below the threshold.
- ``group_by`` keeps Spark's hash-partitioned shuffle (map-side partial
  aggregation is automatic); the "stable" key order of polars'
  ``group_by_stable`` is restored only on explicit request (maintain_order=True)
  because it forces an extra sort.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprs import ROW_ORDER_COL, Expr, _c, _to_spark_type, col

__all__ = ["LazyFrame", "DataFrame", "GroupBy", "concat"]


def _as_cols(exprs: Sequence[Expr | Column | str]) -> list[Column]:
    out = []
    for e in exprs:
        if isinstance(e, str):
            out.append(F.col(e))
        else:
            out.append(_c(e))
    return out


def _flatten(args) -> list:
    flat = []
    for a in args:
        if isinstance(a, (list, tuple)):
            flat.extend(a)
        else:
            flat.append(a)
    return flat


class LazyFrame:
    """Logical query plan; wraps a pyspark DataFrame (SURVEY §1.1)."""

    def __init__(self, sdf: SparkDF):
        self._sdf = sdf

    # -- interop -----------------------------------------------------------
    @property
    def spark(self) -> SparkDF:
        """The underlying pyspark DataFrame (escape hatch)."""
        return self._sdf

    @classmethod
    def from_spark(cls, sdf: SparkDF) -> "LazyFrame":
        return cls(sdf)

    # -- introspection (lazy.rs:574-613) ------------------------------------
    @property
    def columns(self) -> list[str]:
        return [c for c in self._sdf.columns if c != ROW_ORDER_COL]

    @property
    def schema(self) -> T.StructType:
        return T.StructType([f for f in self._sdf.schema.fields if f.name != ROW_ORDER_COL])

    collect_schema = schema

    @property
    def dtypes(self) -> list[tuple[str, str]]:
        return [(n, t) for n, t in self._sdf.dtypes if n != ROW_ORDER_COL]

    @property
    def width(self) -> int:
        return len(self.columns)

    def explain(self, optimized: bool = True) -> str:
        return self._sdf._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            self._sdf._jdf.queryExecution(), "formatted" if optimized else "simple"
        )

    def plan_summary(self) -> dict:
        """Static plan health probe WITHOUT executing anything: counts of the
        plan nodes that matter at 100 TB — exchanges (shuffles), scans,
        window operators, Python/Arrow eval stages, broadcast vs sort-merge
        joins, cartesian/nested-loop hazards — from the optimized physical
        plan (pre-AQE; AQE can only improve on it at runtime).  Use before
        shipping a pipeline: ``assert plan_summary()['cartesian'] == 0``.
        """
        plan = self._drop_order()._sdf._jdf.queryExecution().executedPlan().toString()
        count = plan.count
        return {
            "exchanges": count("Exchange"),
            "scans": count("FileScan"),
            "windows": count("Window"),
            "sort_merge_joins": count("SortMergeJoin"),
            "broadcast_joins": count("BroadcastHashJoin"),
            "cartesian": count("CartesianProduct"),
            "nested_loop_joins": count("BroadcastNestedLoopJoin"),
            "python_stages": count("BatchEvalPython"),
            "arrow_stages": count("ArrowEvalPython")
            + count("MapInPandas")
            + count("FlatMapGroupsInPandas")
            + count("MapInArrow"),
            "aggregates": count("HashAggregate") + count("SortAggregate") + count("ObjectHashAggregate"),
        }

    def profile(self) -> "tuple[DataFrame, list[dict]]":
        """polars LazyFrame.profile analogue: execute the plan and return
        (result, per-physical-operator metrics).  Each metrics row carries
        the node name, tree depth, and Spark's SQL metrics (numOutputRows,
        per-operator times, shuffle/spill bytes...) from the EXECUTED
        adaptive plan — real runtime numbers, not estimates.  Execution runs
        through the noop sink first so metrics cover full compute without
        driver transfer; the returned DataFrame re-reads results lazily."""
        sdf = self._drop_order()._sdf
        qe = sdf._jdf.queryExecution()
        # execute THIS QueryExecution (a .write would spawn a fresh one whose
        # metrics we could not see); toRdd().count() runs the physical plan
        # executor-side without shipping rows to Python
        qe.toRdd().count()
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()

        rows: list[dict] = []

        def walk(node, depth):
            cls = node.getClass().getSimpleName()
            # AQE wrapper stages (ResultQueryStage/ShuffleQueryStage/...)
            # hide their subtree behind .plan() — descend transparently
            if "QueryStage" in cls:
                walk(node.plan(), depth)
                return
            if cls == "AdaptiveSparkPlanExec":
                walk(node.executedPlan(), depth)
                return
            md = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                md[kv._1()] = kv._2().value()
            rows.append({"node": node.nodeName(), "depth": depth, "metrics": md})
            kids = node.children()
            for i in range(kids.length()):
                walk(kids.apply(i), depth + 1)

        walk(plan, 0)
        return DataFrame(self), rows

    # -- row order (SURVEY §7.0) --------------------------------------------
    def with_row_index(self, name: str = ROW_ORDER_COL) -> "LazyFrame":
        """Attach an order-stable id. Sparse (not dense) by design: dense
        ranks need a global single-task window; a sparse monotonic id
        preserves scan order and scales."""
        if name in self._sdf.columns:
            return self
        return LazyFrame(self._sdf.withColumn(name, F.monotonically_increasing_id()))

    def _order_col(self) -> "LazyFrame":
        return self.with_row_index()

    def with_dense_row_index(self, name: str = "index", offset: int = 0) -> "LazyFrame":
        """Dense 0,1,2,... row index in scan order (polars with_row_index
        semantics) WITHOUT a global single-task window: Spark's
        ``monotonically_increasing_id`` is (partition_id << 33) | local_record
        with local records contiguous from 0, so the dense index is
        ``per-partition-offset + local_record`` where the offsets come from
        one tiny count-per-partition aggregate (#partitions rows to the
        driver, broadcast back as a plan literal).  Costs one extra
        column-pruned pass to count; assumes a deterministic source (parquet
        scans are — re-derived partition numbering must match between the
        count pass and the main pass)."""
        sdf = self._sdf
        mid = F.monotonically_increasing_id()
        pid = F.shiftrightunsigned(mid, 33)
        local = mid.bitwiseAND(F.lit((1 << 33) - 1))
        counts = (
            sdf.select(pid.alias("__pid__"))
            .groupBy("__pid__")
            .count()
            .collect()
        )
        offsets: dict[int, int] = {}
        acc = int(offset)
        for row in sorted(counts, key=lambda r: r["__pid__"]):
            offsets[row["__pid__"]] = acc
            acc += row["count"]
        if offsets:
            m = F.create_map(
                *[F.lit(v) for kv in offsets.items() for v in kv]
            )
            idx = F.element_at(m, pid.cast("int")) + local
        else:
            idx = F.lit(int(offset)) + local
        return LazyFrame(sdf.withColumn(name, idx.cast("long")))

    def gather_every(self, n: int, offset: int = 0) -> "LazyFrame":
        """Every ``n``-th row starting at ``offset`` (polars gather_every),
        in scan order.  Dense index via :meth:`with_dense_row_index` (no
        global window), then a codegen'd modulo filter."""
        if n <= 0:
            raise ValueError("n must be positive")
        if offset < 0:
            raise ValueError("offset must be >= 0")
        lf = self.with_dense_row_index("__gidx__")
        c = F.col("__gidx__")
        kept = lf._sdf.filter((c >= offset) & ((c - offset) % n == 0))
        return LazyFrame(kept.drop("__gidx__"))

    def _drop_order(self) -> "LazyFrame":
        if ROW_ORDER_COL in self._sdf.columns:
            return LazyFrame(self._sdf.drop(ROW_ORDER_COL))
        return self

    def _expand_selectors(self, exprs: list) -> list:
        """Resolve inline Selector objects (cs.numeric(), pl.exclude(...))
        against THIS frame's schema — polars lets selectors appear anywhere
        an expression list does."""
        from .selectors import Selector

        if not any(isinstance(e, Selector) for e in exprs):
            return exprs
        out: list = []
        schema = self._sdf.schema
        for e in exprs:
            if isinstance(e, Selector):
                out.extend(e.to_exprs(schema))
            else:
                out.append(e)
        return out

    # -- projection / mutation (lazy.rs:84-88) --------------------------------
    def select(self, *exprs) -> "LazyFrame":
        exprs = self._expand_selectors(_flatten(exprs))
        return LazyFrame(self._sdf.select(*_as_cols(exprs)))

    def with_columns(self, *exprs, **named) -> "LazyFrame":
        exprs = self._expand_selectors(_flatten(exprs))
        sdf = self._sdf
        mapping: dict[str, Column] = {}
        for e in exprs:
            c = _c(e) if not isinstance(e, str) else F.col(e)
            name = _col_out_name(c)
            mapping[name] = c
        for name, e in named.items():
            mapping[name] = _c(e) if not isinstance(e, str) else F.col(e)
        return LazyFrame(sdf.withColumns(mapping))

    def filter(self, *predicates) -> "LazyFrame":
        pred = reduce(lambda a, b: a & b, [_c(p) for p in _flatten(predicates)])
        return LazyFrame(self._sdf.filter(pred))

    def drop(self, *names: str) -> "LazyFrame":
        return LazyFrame(self._sdf.drop(*_flatten(names)))

    def rename(self, mapping: "Mapping[str, str] | Callable[[str], str]") -> "LazyFrame":
        """Rename columns by dict or by a callable applied to every name
        (polars rename; e.g. ``rename(str.upper)``)."""
        if callable(mapping) and not isinstance(mapping, Mapping):
            mapping = {c: mapping(c) for c in self.columns}
        return LazyFrame(self._sdf.withColumnsRenamed(dict(mapping)))

    def collect_schema(self) -> dict[str, str]:
        """polars 1.x collect_schema: {name: dtype-string} without running
        the plan (Spark schemas are always known at plan time)."""
        return {n: t for n, t in self.dtypes}

    def equals(self, other: "LazyFrame | DataFrame", null_equal: bool = True) -> bool:
        """Row-order-sensitive frame equality (polars DataFrame.equals).
        Driver-side test utility — collects both sides; see
        polars_net_spark.testing for tolerance-aware assertions."""
        from .testing import assert_frame_equal

        try:
            assert_frame_equal(self, other, check_dtypes=False, rtol=0.0, atol=0.0)
            return True
        except AssertionError:
            return False

    def drop_nulls(self, subset: Sequence[str] | None = None) -> "LazyFrame":
        return LazyFrame(self._sdf.dropna(subset=list(subset) if subset else None))

    def fill_null(self, value: Any, subset: Sequence[str] | None = None) -> "LazyFrame":
        return LazyFrame(self._sdf.fillna(value, subset=list(subset) if subset else None))

    def unique(
        self, subset: Sequence[str] | None = None, keep: str = "any", maintain_order: bool = False
    ) -> "LazyFrame":
        """Distinct rows. keep='any' → dropDuplicates (scales best);
        keep='first'/'last' use the row-order column + min/max; keep='none'
        drops EVERY row whose key appears more than once (polars semantics —
        a count window on the same keys, no second scan).
        maintain_order=True sorts the output by first appearance of the kept
        row (polars semantics) — an extra global sort, only ask if needed."""
        if keep == "none":
            keys = [F.col(c) for c in (subset or self.columns)]
            lf0 = self._order_col() if maintain_order else self
            cnt = F.count(F.lit(1)).over(Window.partitionBy(*keys))
            kept = lf0._sdf.withColumn("__cnt__", cnt).filter(F.col("__cnt__") == 1)
            if maintain_order:
                kept = kept.orderBy(F.col(ROW_ORDER_COL).asc()).drop(ROW_ORDER_COL)
            return LazyFrame(kept.drop("__cnt__"))
        if not maintain_order:
            if subset is None and keep == "any":
                return LazyFrame(self._sdf.distinct())
            if keep == "any":
                return LazyFrame(self._sdf.dropDuplicates(list(subset)))
        lf = self._order_col()
        w = Window.partitionBy(*[F.col(c) for c in (subset or self.columns)]).orderBy(
            F.col(ROW_ORDER_COL).desc() if keep == "last" else F.col(ROW_ORDER_COL).asc()
        )
        ranked = lf._sdf.withColumn("__rn__", F.row_number().over(w))
        kept = ranked.filter(F.col("__rn__") == 1)
        if maintain_order:
            kept = kept.orderBy(F.col(ROW_ORDER_COL).asc())
        return LazyFrame(kept.drop("__rn__", ROW_ORDER_COL))

    # -- limits / sampling (eager.rs:329-369, 492-506) ------------------------
    def limit(self, n: int) -> "LazyFrame":
        return LazyFrame(self._sdf.limit(n))

    head = limit

    def tail(self, n: int) -> "LazyFrame":
        lf = self._order_col()
        w = Window.orderBy(F.col(ROW_ORDER_COL).desc())
        ranked = lf._sdf.withColumn("__rn__", F.row_number().over(w))
        out = ranked.filter(F.col("__rn__") <= n).orderBy(F.col(ROW_ORDER_COL)).drop("__rn__")
        return LazyFrame(out)._drop_order()

    def sample_n(
        self, n: int, seed: int | None = None, shuffle: bool = False, with_replacement: bool = False
    ) -> "LazyFrame":
        """Exact-n sample (eager.rs:329-345). Without replacement:
        orderBy(rand).limit — a top-k, not a full sort (TakeOrdered).  With
        replacement: n random draws joined against dense row numbers; the
        dense numbering is a single-task window, acceptable because sampling
        targets are small by definition."""
        seed = seed if seed is not None else 42
        if not with_replacement:
            return LazyFrame(self._sdf.orderBy(F.rand(seed)).limit(n))
        spark = self._sdf.sparkSession
        numbered = self._sdf.withColumn(
            "__rn__", F.row_number().over(Window.orderBy(F.monotonically_increasing_id())) - 1
        )
        total = self._sdf.count()
        draws = spark.range(n).select(
            (F.floor(F.rand(seed) * total)).cast("long").alias("__rn__")
        )
        out = draws.join(numbered, "__rn__", "inner").drop("__rn__")
        return LazyFrame(out)

    def sample_frac(self, frac: float, seed: int | None = None) -> "LazyFrame":
        """Approximate Bernoulli sample — documented difference from the
        reference's exact height*frac (eager.rs:348-369, SURVEY §2.2)."""
        return LazyFrame(self._sdf.sample(fraction=frac, seed=seed if seed is not None else 42))

    # -- reshaping -----------------------------------------------------------
    def unnest(self, *columns: str) -> "LazyFrame":
        """struct column(s) → top-level columns (eager.rs:708-731)."""
        sdf = self._sdf
        for colname in _flatten(columns):
            field_names = [f.name for f in sdf.schema[colname].dataType.fields]
            others = [c for c in sdf.columns if c != colname]
            sdf = sdf.select(*others, *[F.col(f"{colname}.{f}").alias(f) for f in field_names])
        return LazyFrame(sdf)

    def map_column(self, column: str, fn, return_dtype: str | T.DataType | None = None) -> "LazyFrame":
        """Vectorized UDF over one column with the reference's same-as-input
        default (udf.rs:106 DataType::Unknown marker): when ``return_dtype`` is
        omitted the output keeps the column's current dtype, resolved from the
        schema.  ``fn(pandas.Series) -> pandas.Series``."""
        from pyspark.sql.functions import pandas_udf

        t = (
            self._sdf.schema[column].dataType
            if return_dtype is None
            else _to_spark_type(return_dtype)
        )
        udf = pandas_udf(fn, returnType=t)
        return LazyFrame(self._sdf.withColumn(column, udf(F.col(column))))

    def struct_field_by_index(self, column: str, index: int, alias: str | None = None) -> "LazyFrame":
        """Positional struct-field extraction (reference expr.rs:948-957) —
        schema-resolved, so it works on any struct column."""
        fields = self._sdf.schema[column].dataType.fields
        name = fields[index].name
        return LazyFrame(self._sdf.withColumn(alias or name, F.col(column).getField(name)))

    def struct_rename_fields(self, column: str, new_names: Sequence[str]) -> "LazyFrame":
        """Rename struct fields positionally (reference expr.rs:960-982)."""
        fields = self._sdf.schema[column].dataType.fields
        new_struct = F.struct(
            *[F.col(column).getField(f.name).alias(nn) for f, nn in zip(fields, new_names)]
        )
        return LazyFrame(self._sdf.withColumn(column, new_struct))

    def explode(self, *columns: str) -> "LazyFrame":
        """Multi-column parallel explode (eager.rs:511-549): lists in the same
        row are zipped positionally, like polars."""
        cols_ = _flatten(columns)
        sdf = self._sdf
        if len(cols_) == 1:
            c = cols_[0]
            others = [x for x in sdf.columns if x != c]
            return LazyFrame(sdf.select(*others, F.explode_outer(c).alias(c)).select(*sdf.columns))
        # polars raises on mismatched per-row list lengths (eager.rs:511-549);
        # arrays_zip would silently null-pad, fabricating rows.  Guard: all
        # non-null lists in a row must have equal size (greatest/least skip
        # nulls; all-null rows zip to a null row, which is fine).
        sizes = [F.size(F.col(c)) for c in cols_]
        same_len = F.coalesce(F.greatest(*sizes) == F.least(*sizes), F.lit(True))
        raw_zip = F.arrays_zip(*[F.col(c) for c in cols_])
        err = F.raise_error(F.lit("explode: columns have mismatched list lengths"))
        zipped = F.when(same_len, raw_zip).otherwise(err).alias("__z__")
        others = [x for x in sdf.columns if x not in cols_]
        exploded = sdf.select(*others, F.explode_outer(zipped).alias("__e__"))
        out = exploded.select(
            *others, *[F.col(f"__e__.{c}").alias(c) for c in cols_]
        ).select(*sdf.columns)
        return LazyFrame(out)

    def unpivot(
        self,
        index: Sequence[str],
        on: Sequence[str] | None = None,
        variable_name: str = "variable",
        value_name: str = "value",
    ) -> "LazyFrame":
        """Melt (lazy.rs:346-406). Default on = all non-index columns."""
        index = list(index)
        on = list(on) if on is not None else [c for c in self.columns if c not in index]
        return LazyFrame(self._sdf.unpivot(index, on, variable_name, value_name))

    melt = unpivot

    # -- grouping (lazy.rs:169-273) -------------------------------------------
    def group_by(self, *keys, maintain_order: bool = False) -> "GroupBy":
        return GroupBy(self, _flatten(keys), maintain_order=maintain_order)

    def cube(self, *keys) -> "GroupBy":
        """Grouping over all key subsets (beyond reference — free in Spark)."""
        return GroupBy(self, _flatten(keys), mode="cube")

    def rollup(self, *keys) -> "GroupBy":
        """Hierarchical subtotals (beyond reference — free in Spark)."""
        return GroupBy(self, _flatten(keys), mode="rollup")

    def grouping_sets(self, sets: "Sequence[Sequence[str]]") -> "GroupBy":
        """Arbitrary GROUPING SETS (beyond reference — the general form of
        cube/rollup): ``sets`` is a list of key subsets, e.g.
        ``[["a", "b"], ["a"], []]``; keys absent from a set come back null
        for that set's rows, exactly the ANSI semantics.  One Expand + one
        aggregate in Spark — the same plan shape as cube/rollup, cost
        |sets| × input map-side, never |all subsets|."""
        seen: list[str] = []
        for s in sets:
            for k in s:
                if k not in seen:
                    seen.append(k)
        return GroupBy(self, seen, mode="grouping_sets", sets=[list(s) for s in sets])

    def group_by_dynamic(
        self,
        index_column: str,
        every: str,
        period: str | None = None,
        offset: str | None = None,
        closed: str = "left",
        label: str = "left",
        include_boundaries: bool = False,
        group_by: Sequence[str] = (),
        start_by: str = "window",
    ) -> "DynamicGroupBy":
        from .operators.dynamic import DynamicGroupBy

        return DynamicGroupBy(
            self,
            index_column,
            every=every,
            period=period,
            offset=offset,
            closed=closed,
            label=label,
            include_boundaries=include_boundaries,
            group_by=list(group_by),
            start_by=start_by,
        )

    def hist(self, column: str, bins: Sequence[float]) -> "LazyFrame":
        """Histogram of ``column`` over explicit bin edges (polars
        Series.hist semantics: bin i counts values in (bins[i], bins[i+1]];
        values outside [bins[0], bins[-1]] are dropped).  Compiles to one
        map-side CASE bucket + a tiny groupBy — one shuffle of at most
        len(bins)-1 rows per task.  Output: (bin_start, bin_end, count) in
        edge order, empty bins included with count 0."""
        edges = [float(b) for b in bins]
        if len(edges) < 2 or any(nxt <= prev for nxt, prev in zip(edges[1:], edges)):
            raise ValueError("bins must be at least 2 strictly increasing edges")
        c = F.col(column).cast("double")
        bucket = F.lit(None).cast("int")
        for i in range(len(edges) - 1, 0, -1):
            # first bin is closed on the LEFT too (polars includes the
            # minimum edge); later bins are (lo, hi]
            lo_ok = (c >= edges[0]) if i == 1 else (c > edges[i - 1])
            bucket = F.when(lo_ok & (c <= edges[i]), i - 1).otherwise(bucket)
        sdf = self._drop_order()._sdf
        counts = (
            sdf.select(bucket.alias("__bin__"))
            .where(F.col("__bin__").isNotNull())
            .groupBy("__bin__")
            .agg(F.count(F.lit(1)).alias("count"))
        )
        spark = SparkSession.getActiveSession()
        grid = spark.createDataFrame(
            [(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)],
            "__bin__ int, bin_start double, bin_end double",
        )
        out = (
            grid.join(counts, "__bin__", "left")
            .select(
                "bin_start",
                "bin_end",
                F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count"),
            )
        )
        return LazyFrame(out)

    _FRAME_AGGS = {
        "sum": (F.sum, "numeric"),
        "mean": (F.avg, "numeric"),
        "median": (F.median, "numeric"),
        "std": (F.stddev_samp, "numeric"),
        "var": (F.var_samp, "numeric"),
        "min": (F.min, "orderable"),
        "max": (F.max, "orderable"),
    }

    def _frame_agg(self, which: str) -> "LazyFrame":
        """polars frame-level aggregates (df.sum() etc.): one row, same
        columns; non-applicable columns (strings under sum/mean/...) come
        back null, min/max also cover strings/dates/bools — all map-side
        partial aggregation, one tiny shuffle."""
        fn, kind = self._FRAME_AGGS[which]
        sdf = self._drop_order()._sdf
        aggs = []
        for f in sdf.schema.fields:
            ok = isinstance(f.dataType, T.NumericType) or (
                kind == "orderable"
                and isinstance(
                    f.dataType,
                    (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType, T.BooleanType),
                )
            )
            if ok:
                aggs.append(fn(F.col(f.name)).alias(f.name))
            else:
                aggs.append(F.max(F.lit(None).cast(f.dataType)).alias(f.name))
        return LazyFrame(sdf.agg(*aggs))

    def sum(self) -> "LazyFrame":
        return self._frame_agg("sum")

    def mean(self) -> "LazyFrame":
        return self._frame_agg("mean")

    def median(self) -> "LazyFrame":
        return self._frame_agg("median")

    def std(self) -> "LazyFrame":
        return self._frame_agg("std")

    def var(self) -> "LazyFrame":
        return self._frame_agg("var")

    def min(self) -> "LazyFrame":
        return self._frame_agg("min")

    def max(self) -> "LazyFrame":
        return self._frame_agg("max")

    def cast(self, dtypes, strict: bool = False) -> "LazyFrame":
        """polars LazyFrame.cast: a mapping {column: dtype} casts those
        columns in place; a single dtype casts EVERY column.  strict=True
        aborts on unconvertible values (Expr.cast's strict machinery),
        otherwise failed casts yield null — all map-only."""
        sdf = self._drop_order()._sdf
        if not isinstance(dtypes, Mapping):
            mapping = {c: dtypes for c in sdf.columns}
        else:
            missing = [c for c in dtypes if c not in sdf.columns]
            if missing:
                raise ValueError(f"cast: unknown columns {missing}")
            mapping = dict(dtypes)
        cols_ = []
        for c in sdf.columns:
            if c in mapping:
                cols_.append(_c(col(c).cast(mapping[c], strict=strict)).alias(c))
            else:
                cols_.append(F.col(c))
        return LazyFrame(sdf.select(*cols_))

    def match_to_schema(
        self,
        schema,
        missing_columns: str = "insert",
        extra_columns: str = "ignore",
        cast: bool = True,
    ) -> "LazyFrame":
        """polars 1.x match_to_schema: conform this frame to a target schema
        (a {name: dtype} mapping or StructType) — column ORDER follows the
        target; missing columns null-fill (``missing_columns='insert'``) or
        raise; extra columns drop (``extra_columns='ignore'``) or raise;
        dtype mismatches cast (non-strict) unless ``cast=False`` (raise).
        The ingestion-normalization step before a union/sink — map-only."""
        from pyspark.sql import types as T

        from .exprs import _to_spark_type

        if isinstance(schema, T.StructType):
            target = [(f.name, f.dataType) for f in schema.fields]
        else:
            target = [(n, _to_spark_type(d)) for n, d in dict(schema).items()]
        sdf = self._drop_order()._sdf
        have = dict(zip(sdf.columns, [f.dataType for f in sdf.schema.fields]))
        extras = [c for c in sdf.columns if c not in {n for n, _ in target}]
        if extras and extra_columns == "raise":
            raise ValueError(f"match_to_schema: extra columns {extras}")
        cols_ = []
        for name, dtype in target:
            if name not in have:
                if missing_columns == "raise":
                    raise ValueError(f"match_to_schema: missing column {name!r}")
                cols_.append(F.lit(None).cast(dtype).alias(name))
            elif have[name] != dtype:
                if not cast:
                    raise ValueError(
                        f"match_to_schema: {name!r} is {have[name].simpleString()}, "
                        f"expected {dtype.simpleString()} (cast=False)"
                    )
                cols_.append(F.col(name).cast(dtype).alias(name))
            else:
                cols_.append(F.col(name))
        return LazyFrame(sdf.select(*cols_))

    def null_count(self) -> "LazyFrame":
        """polars null_count: one row, per-column null totals (map-side
        partial counts, one tiny agg)."""
        sdf = self._drop_order()._sdf
        return LazyFrame(
            sdf.agg(
                *[
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(c)
                    for c in sdf.columns
                ]
            )
        )

    def to_dummies(
        self,
        *columns: str,
        separator: str = "_",
        drop_first: bool = False,
    ) -> "LazyFrame":
        """polars to_dummies (parity extra): one 0/1 indicator column per
        distinct value of each given column (all columns when none given),
        named ``{col}{separator}{value}`` in sorted value order (nulls last as
        ``{col}{separator}null``, polars-style); the source columns are
        replaced in place.

        The distinct-value collect is the same bounded driver action pivot
        performs (inherent to emitting a statically-typed wide schema — polars
        does the identical scan); the indicator math itself is pure Column
        CASE WHEN, map-only, no shuffle."""
        sdf = self._drop_order()._sdf
        cols_ = list(columns) or list(sdf.columns)
        out_cols = []
        for c in sdf.columns:
            if c not in cols_:
                out_cols.append(F.col(c))
                continue
            vals = sorted(
                r[0] for r in sdf.select(c).distinct().collect() if r[0] is not None
            )
            has_null = sdf.select(c).where(F.col(c).isNull()).limit(1).count() > 0
            keep = vals[1:] if drop_first else vals
            for v in keep:
                out_cols.append(
                    F.when(F.col(c) == F.lit(v), 1).otherwise(0).cast("int")
                    .alias(f"{c}{separator}{v}")
                )
            if has_null and not drop_first:
                out_cols.append(
                    F.when(F.col(c).isNull(), 1).otherwise(0).cast("int")
                    .alias(f"{c}{separator}null")
                )
        return LazyFrame(sdf.select(*out_cols))

    def rolling(
        self,
        index_column: str,
        period: str,
        offset: str | None = None,
        closed: str = "right",
        group_by: Sequence[str] = (),
    ) -> "RollingGroupBy":
        """polars LazyFrame.rolling (temporal rolling group-by): one output
        row PER INPUT ROW, aggregating the window
        (t+offset, t+offset+period] (closed='right' default; offset defaults
        to -period, i.e. a trailing window ending at the row itself).

        Compiles to range-frame window functions over unix-microseconds
        (Window.rangeBetween) — no self-join, no row explosion; partitioned
        on ``group_by`` so it scales with key cardinality."""
        return RollingGroupBy(self, index_column, period, offset, closed, list(group_by))

    def upsample(
        self,
        time_column: str,
        every: str,
        group_by: Sequence[str] = (),
    ) -> "LazyFrame":
        """polars DataFrame.upsample (parity extra; the reference has no
        resampler): insert a row at every ``every`` step from each group's
        first to last ``time_column`` value, left-joining the original rows on
        exact timestamp match — non-time columns are null on inserted grid
        rows (chain ``forward_fill`` to interpolate).  Like polars, rows not
        exactly on the grid anchored at the group's first timestamp only
        survive if their timestamp equals a grid point.

        Scale design: one groupBy(keys) min/max agg, then the grid is
        generated map-side per group with F.sequence + explode (no driver
        work, grid size = span/every per group), and rejoined equi-keyed on
        (keys, time) — a plain hash join Catalyst can broadcast when the grid
        side is small.  No windows, no cartesian.
        """
        from ._fmt import parse_polars_duration_us

        us = parse_polars_duration_us(every)
        if us <= 0:
            raise ValueError(f"upsample every={every!r} must be positive")
        keys = list(group_by)
        sdf = self._drop_order()._sdf
        tc = F.col(time_column).cast("timestamp")
        bounds = sdf.groupBy(*[F.col(k) for k in keys]).agg(
            F.min(tc).alias("__mn__"), F.max(tc).alias("__mx__")
        )
        step = F.expr(f"make_dt_interval(0, 0, 0, {us / 1_000_000!r})")
        grid = bounds.select(
            *[F.col(k) for k in keys],
            F.explode(F.sequence(F.col("__mn__"), F.col("__mx__"), step)).alias(time_column),
        )
        right = sdf.withColumn(time_column, tc)
        out = grid.join(right, on=keys + [time_column], how="left")
        # keep original column order
        return LazyFrame(out.select(*[F.col(c) for c in sdf.columns]))

    # -- joins (lazy.rs:463-569, utils.rs:99-109) ------------------------------
    _HOW_MAP = {
        "inner": "inner",
        "left": "left",
        "full": "full",
        "outer": "full",
        "cross": "cross",
        "semi": "left_semi",
        "anti": "left_anti",
    }

    def join(
        self,
        other: "LazyFrame",
        on: str | Sequence[str] | None = None,
        how: str = "inner",
        left_on: str | Sequence[str] | None = None,
        right_on: str | Sequence[str] | None = None,
        suffix: str = "_right",
        broadcast: bool = False,
        nulls_equal: bool = False,
        validate: str = "m:m",
        coalesce: bool | None = None,
    ) -> "LazyFrame":
        """Equi-join with polars naming semantics (SURVEY §2.4): join keys are
        coalesced into one column; non-key name collisions on the right get
        ``suffix``.  Catalyst/AQE picks broadcast vs sort-merge vs shuffled
        hash; pass broadcast=True to hint a small right side.

        ``nulls_equal=True`` (polars join_nulls) matches null keys to null
        keys via null-safe equality (``<=>``) — still a hash-joinable equi
        condition, no plan degradation.

        ``validate`` (polars): '1:1' / '1:m' / 'm:1' / 'm:m' — raise if a
        side that must be unique has duplicate key tuples.  The check is one
        count-aggregate probe per validated side (an extra action, eager by
        necessity — polars also checks at execution); 'm:m' (default) costs
        nothing.

        ``coalesce=False`` (polars 1.x) keeps the right key columns
        (suffixed on collision) instead of merging them away; None/True is
        the polars default merge behavior."""
        how_spark = self._HOW_MAP[how]
        if validate not in ("1:1", "1:m", "m:1", "m:m"):
            raise ValueError("validate must be one of '1:1', '1:m', 'm:1', 'm:m'")
        right_sdf = other._sdf
        if broadcast:
            right_sdf = F.broadcast(right_sdf)

        if how == "cross":
            left = self._sdf.alias("__l__")
            right = right_sdf.alias("__r__")
            joined = left.crossJoin(right)
            lcols, rcols = self._sdf.columns, other._sdf.columns
            sel = [F.col(f"__l__.{c}").alias(c) for c in lcols]
            for c in rcols:
                name = c + suffix if c in lcols else c
                sel.append(F.col(f"__r__.{c}").alias(name))
            return LazyFrame(joined.select(*sel))

        if on is not None:
            left_keys = right_keys = [on] if isinstance(on, str) else list(on)
        else:
            left_keys = [left_on] if isinstance(left_on, (str, Expr)) else list(left_on or [])
            right_keys = [right_on] if isinstance(right_on, (str, Expr)) else list(right_on or [])
            if len(left_keys) != len(right_keys):
                raise ValueError("left_on and right_on must have equal length")

        # expression keys (polars: left_on=pl.col("a")+1): materialize each
        # Expr as a hidden key column on its side, join on those, drop after
        # — keys stay plain equi columns so the join is hash/SMJ-able
        lsdf, rsdf = self._sdf, right_sdf
        hidden: list[str] = []

        def _mat(keys, sdf, side):
            out_keys, out_sdf = [], sdf
            for i, k in enumerate(keys):
                if isinstance(k, Expr):
                    name = f"__jk_{side}{i}__"
                    out_sdf = out_sdf.withColumn(name, _c(k))
                    out_keys.append(name)
                    hidden.append(name)
                else:
                    out_keys.append(k)
            return out_keys, out_sdf

        left_keys, lsdf = _mat(left_keys, lsdf, "l")
        right_keys, rsdf = _mat(right_keys, rsdf, "r")

        if validate != "m:m":
            def _assert_unique(sdf, keys, side):
                dup = (
                    sdf.groupBy(*[F.col(k) for k in keys])
                    .count().filter(F.col("count") > 1).limit(1).count()
                )
                if dup:
                    raise ValueError(
                        f"join validate={validate!r}: {side} side has duplicate "
                        f"key tuples on {keys}"
                    )

            if validate in ("1:1", "1:m"):
                _assert_unique(lsdf, left_keys, "left")
            if validate in ("1:1", "m:1"):
                _assert_unique(rsdf, right_keys, "right")

        left = lsdf.alias("__l__")
        right = rsdf.alias("__r__")
        def _eq(lk, rk):
            l, r = F.col(f"__l__.{lk}"), F.col(f"__r__.{rk}")
            return l.eqNullSafe(r) if nulls_equal else l == r

        cond = reduce(
            lambda a, b: a & b,
            [_eq(lk, rk) for lk, rk in zip(left_keys, right_keys)],
        )
        joined = left.join(right, cond, how_spark)

        if how_spark in ("left_semi", "left_anti"):
            return LazyFrame(joined.select(*[F.col(f"__l__.{c}").alias(c) for c in self._sdf.columns]))

        lcols, rcols = self._sdf.columns, other._sdf.columns
        sel: list[Column] = []
        for c in lcols:
            if how == "full" and c in left_keys:
                rk = right_keys[left_keys.index(c)]
                sel.append(F.coalesce(F.col(f"__l__.{c}"), F.col(f"__r__.{rk}")).alias(c))
            else:
                sel.append(F.col(f"__l__.{c}").alias(c))
        for c in rcols:
            if c in right_keys and coalesce is not False:
                continue  # key coalesced away (polars drops the right key column)
            name = c + suffix if c in lcols else c
            sel.append(F.col(f"__r__.{c}").alias(name))
        return LazyFrame(joined.select(*sel))

    def join_where(self, other: "LazyFrame", *predicates, suffix: str = "_right") -> "LazyFrame":
        """Inner join on arbitrary predicates (polars 1.x ``join_where``).

        Right-side columns that collide with left names are renamed with
        ``suffix`` BEFORE the predicates are resolved, so predicates reference
        left columns by name and collided right columns as ``name_right``
        (matching polars' output naming).  Include at least one equality
        predicate where possible — Catalyst then plans a hash/sort-merge join
        on it with the inequalities as residual filters; a pure-inequality
        predicate set plans a nested-loop/cartesian join (a single
        all-pairs stage at scale) and triggers a loud UserWarning.
        """
        if not predicates:
            raise ValueError("join_where needs at least one predicate")
        lcols = set(self._sdf.columns)
        renames = {c: c + suffix for c in other._sdf.columns if c in lcols}
        right = other._sdf.withColumnsRenamed(renames) if renames else other._sdf
        cond = reduce(lambda a, b: a & b, [_c(p) for p in predicates])
        joined = self._sdf.join(right, cond, "inner")
        plan = joined._jdf.queryExecution().sparkPlan().toString()
        if "NestedLoopJoin" in plan or "CartesianProduct" in plan:
            import warnings

            warnings.warn(
                "join_where predicates contain no equality — Spark plans an "
                "all-pairs nested-loop join; add an equi predicate to get a "
                "hash join with the inequalities as residuals",
                UserWarning,
                stacklevel=2,
            )
        return LazyFrame(joined)

    def join_asof(self, other: "LazyFrame", **kwargs) -> "LazyFrame":
        from .operators.asof import join_asof

        return join_asof(self, other, **kwargs)

    def join_range(self, other: "LazyFrame", **kwargs) -> "LazyFrame":
        from .operators.joins_ext import range_join

        return range_join(self, other, **kwargs)

    def join_salted(self, other: "LazyFrame", on, **kwargs) -> "LazyFrame":
        from .operators.joins_ext import salted_join

        return salted_join(self, other, on, **kwargs)

    def update(
        self,
        other: "LazyFrame",
        on: "str | Sequence[str]",
        how: str = "left",
        include_nulls: bool = False,
    ) -> "LazyFrame":
        """polars LazyFrame.update: overlay ``other``'s values onto matching
        rows by key.  how='left' keeps every left row (default); how='inner'
        keeps only matched rows.  Only ``other``'s NON-NULL values overwrite
        unless ``include_nulls=True`` (then a null in ``other`` overwrites
        too, polars semantics).  Columns of ``other`` outside the left schema
        are ignored.  One equi-join shuffle; broadcast-eligible when the
        update side is small."""
        keys = [on] if isinstance(on, str) else list(on)
        if how not in ("left", "inner"):
            raise ValueError(f"how={how!r} must be 'left' or 'inner'")
        left = self._drop_order()._sdf
        right = other._drop_order()._sdf if isinstance(other, LazyFrame) else other.spark
        overlap = [c for c in right.columns if c in left.columns and c not in keys]
        r = right.select(
            *[F.col(k) for k in keys],
            *[F.col(c).alias(f"__upd_{c}__") for c in overlap],
        )
        if include_nulls:
            # need a match flag so "matched but null" still overwrites
            r = r.withColumn("__upd_hit__", F.lit(True))
        joined = left.join(r, on=keys, how=how)
        out_cols = []
        for c in left.columns:
            if c in overlap:
                upd = F.col(f"__upd_{c}__")
                if include_nulls:
                    new = F.when(F.coalesce(F.col("__upd_hit__"), F.lit(False)), upd).otherwise(F.col(c))
                else:
                    new = F.coalesce(upd, F.col(c))
                out_cols.append(new.alias(c))
            else:
                out_cols.append(F.col(c))
        return LazyFrame(joined.select(*out_cols))

    def merge_into(self, source: "LazyFrame", on, **kwargs) -> "LazyFrame":
        """SQL-MERGE a change batch onto this frame (see operators.merge)."""
        from .operators.merge import merge_into

        return merge_into(self, source, on, **kwargs)

    def value_counts(self, *columns: str, sort: bool = True, name: str = "count") -> "LazyFrame":
        """Per-value occurrence counts (polars ``Expr.value_counts`` /
        ``Series.value_counts``, frame-level): one hash aggregation with
        map-side combine.  ``sort=True`` orders by count desc then value asc
        (deterministic tie-break)."""
        cols_ = _flatten(columns)
        if not cols_:
            raise ValueError("value_counts requires at least one column")
        out = self._sdf.groupBy(*[F.col(c) for c in cols_]).agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )
        if sort:
            out = out.orderBy(F.col(name).desc(), *[F.col(c) for c in cols_])
        return LazyFrame(out)

    def with_ewm(self, column: str, kind, **kwargs) -> "LazyFrame":
        """EWM aggregate(s); ``kind`` may be a list (["var","std"]) to compute
        several in ONE applyInPandas pass — see operators/ewm.py."""
        from .operators.ewm import with_ewm

        return with_ewm(self, column, kind=kind, **kwargs)

    def with_ewm_mean(self, column: str, **kwargs) -> "LazyFrame":
        """Exponentially-weighted moving mean — see operators/ewm.py."""
        from .operators.ewm import with_ewm

        return with_ewm(self, column, kind="mean", **kwargs)

    def with_ewm_std(self, column: str, **kwargs) -> "LazyFrame":
        from .operators.ewm import with_ewm

        return with_ewm(self, column, kind="std", **kwargs)

    def with_ewm_var(self, column: str, **kwargs) -> "LazyFrame":
        from .operators.ewm import with_ewm

        return with_ewm(self, column, kind="var", **kwargs)

    def with_ewm_mean_by(self, column: str, by: str, half_life: str, **kwargs) -> "LazyFrame":
        from .operators.ewm import with_ewm_mean_by

        return with_ewm_mean_by(self, column, by, half_life, **kwargs)

    def winsorize(
        self,
        column: str,
        lower: float = 0.01,
        upper: float = 0.99,
        out_col: str | None = None,
        approx: bool = False,
        approx_accuracy: int = 10000,
    ) -> "LazyFrame":
        """Clip ``column`` to its [lower, upper] quantiles (linear
        interpolation — Spark `percentile` == DuckDB quantile_cont), the
        standard outlier-robust scaling step.  The two boundaries are one
        1-row aggregate broadcast back onto the scan (same pattern as qcut)
        — no global sort, no window.

        ``approx=True`` switches the boundary aggregate to
        ``percentile_approx`` (Greenwald-Khanna sketch, constant memory per
        partition, map-side combinable).  **Use it at scale**: the exact
        default buffers every value of ``column`` on the merging reducer —
        fine at test SFs, OOM-class on a 100 TB column.  ``approx_accuracy``
        trades memory for error (err <= 1/accuracy of rank).

        EAGER NOTE (exact path): the boundary quantiles run Spark jobs at
        plan-CONSTRUCTION time (distsort exact order statistics) and are
        frozen as plan literals — this call is not fully lazy, and the
        bounds reflect the source as of this call."""
        if not (0.0 <= lower < upper <= 1.0):
            raise ValueError("need 0 <= lower < upper <= 1")
        sdf = self._drop_order()._sdf
        oc = out_col or column
        if approx:
            acc = int(approx_accuracy)
            bounds = sdf.agg(
                F.percentile_approx(F.col(column), F.lit(lower), F.lit(acc)).alias("__lo__"),
                F.percentile_approx(F.col(column), F.lit(upper), F.lit(acc)).alias("__hi__"),
            )
            out = (
                sdf.crossJoin(F.broadcast(bounds))
                .withColumn(
                    oc,
                    F.least(F.greatest(F.col(column), F.col("__lo__")), F.col("__hi__")),
                )
                .drop("__lo__", "__hi__")
            )
            return LazyFrame(out)
        # exact path: distributed order statistics (distsort) instead of the
        # global F.percentile aggregate, whose merging reducer buffers and
        # sorts EVERY value on one task — same values (Spark's own
        # interpolation formula), no single-reducer sort at any scale
        from .operators.distsort import exact_quantiles

        lo_v, hi_v = exact_quantiles(sdf, column, [lower, upper])
        if lo_v is None:
            # empty column: greatest/least skip null bounds, so the old
            # plan passed values through (coerced to double) — mirror that
            out = sdf.withColumn(oc, F.col(column).cast("double"))
        else:
            out = sdf.withColumn(
                oc,
                F.least(
                    F.greatest(F.col(column).cast("double"), F.lit(lo_v)),
                    F.lit(hi_v),
                ),
            )
        return LazyFrame(out)

    def with_qcut(
        self,
        col_name: str,
        q,
        out_col: str | None = None,
        approx: bool = False,
        approx_accuracy: int = 10000,
        labels: "Sequence[str] | None" = None,
    ) -> "LazyFrame":
        """Quantile binning (polars qcut; default labels-as-indices, or pass
        ``labels`` — len(probs)+1 strings — for category names): exact
        linear-interpolation quantile boundaries at i/q (or the given
        probability list), right-closed buckets.

        The boundaries are ONE aggregate row broadcast back onto the scan —
        not a global window — so the frame never collapses to a single
        partition; the bucket assignment itself is a codegen'd comparison
        sum (see Expr.cut).

        ``approx=True`` computes the boundaries with ``percentile_approx``
        (constant-memory sketch; see :meth:`winsorize`).  The exact default
        computes the same boundaries DISTRIBUTED via distsort
        ``exact_quantiles`` (Spark's interpolation formula bit-for-bit) —
        no single merging reducer buffers the whole column at any scale.
        Bucket edges under approx may shift by <= 1/approx_accuracy of
        rank.

        EAGER NOTE (exact path): the quantile pass runs Spark jobs at
        plan-CONSTRUCTION time and freezes the bounds as plan literals — the
        call is not fully lazy, and the bounds reflect the source as of this
        call."""
        probs = [i / q for i in range(1, q)] if isinstance(q, int) else list(q)
        if not probs or sorted(probs) != list(probs) or not all(0 < p < 1 for p in probs):
            raise ValueError("q must be an int >= 2 or sorted probabilities in (0, 1)")
        sdf = self._sdf
        names = [f"__qb{i}__" for i in range(len(probs))]
        edge_lits = None
        if approx:
            acc = int(approx_accuracy)
            bounds = sdf.agg(
                *[
                    F.percentile_approx(F.col(col_name), F.lit(p), F.lit(acc)).alias(n)
                    for p, n in zip(probs, names)
                ]
            )
        else:
            from .operators.distsort import exact_quantiles

            edge_lits = exact_quantiles(sdf, col_name, probs)
        if labels is not None and len(labels) != len(probs) + 1:
            raise ValueError(
                f"labels must have len(probs)+1 = {len(probs) + 1} entries, got {len(labels)}"
            )
        c = F.col(col_name)
        acc = F.lit(0)
        if edge_lits is not None:
            edge_cols = [F.lit(e).cast("double") for e in edge_lits]
        else:
            edge_cols = [F.col(n) for n in names]
        for ec in edge_cols:
            acc = acc + (c > ec).cast("int")
        bucket = F.when(c.isNotNull(), acc.cast("long"))
        if labels is not None:
            bucket = F.when(
                c.isNotNull(),
                F.element_at(F.array(*[F.lit(s) for s in labels]), acc.cast("int") + 1),
            )
        oc = out_col or f"{col_name}_qcut"
        if edge_lits is not None:
            # literal edges: no keyless join, bucket math rides the scan
            return LazyFrame(sdf.withColumn(oc, bucket))
        out = (
            sdf.crossJoin(F.broadcast(bounds))
            .withColumn(oc, bucket)
            .drop(*names)
        )
        return LazyFrame(out)

    # -- sorting (lazy.rs:100-164) ----------------------------------------------
    def to_physical(self) -> "LazyFrame":
        """polars to_physical, schema-driven: every date column becomes days
        since epoch (i32), timestamp/timestamp_ntz microseconds since epoch
        (i64); everything else passes through.  Map-only codegen."""
        outs = []
        for f in self._sdf.schema.fields:
            c = F.col(f.name)
            t = f.dataType.simpleString()
            if t == "date":
                outs.append(F.datediff(c, F.lit("1970-01-01").cast("date")).cast("int").alias(f.name))
            elif t.startswith("timestamp"):
                outs.append(F.unix_micros(c.cast("timestamp")).alias(f.name))
            else:
                outs.append(c)
        return LazyFrame(self._sdf.select(*outs))

    def shrink_dtype(self) -> "LazyFrame":
        """polars shrink_dtype: downcast every integer column to the
        narrowest type that holds its observed min/max (i64 -> i32 -> i16 ->
        i8).  Data-dependent schema, so this is semi-eager like pivot: ONE
        1-row min/max aggregate over all integer columns runs now, the casts
        stay lazy codegen."""
        int_cols = [
            f.name
            for f in self._sdf.schema.fields
            if f.dataType.simpleString() in ("bigint", "int", "smallint")
        ]
        if not int_cols:
            return self
        stats = self._sdf.agg(
            *[F.min(c).alias(f"__mn_{c}") for c in int_cols],
            *[F.max(c).alias(f"__mx_{c}") for c in int_cols],
        ).collect()[0]
        outs = []
        for f in self._sdf.schema.fields:
            c = F.col(f.name)
            if f.name in int_cols:
                mn, mx = stats[f"__mn_{f.name}"], stats[f"__mx_{f.name}"]
                if mn is None:
                    outs.append(c.cast("tinyint").alias(f.name))
                elif -128 <= mn and mx <= 127:
                    outs.append(c.cast("tinyint").alias(f.name))
                elif -32768 <= mn and mx <= 32767:
                    outs.append(c.cast("smallint").alias(f.name))
                elif -2147483648 <= mn and mx <= 2147483647:
                    outs.append(c.cast("int").alias(f.name))
                else:
                    outs.append(c)
            else:
                outs.append(c)
        return LazyFrame(self._sdf.select(*outs))

    def map_batches(self, fn: Callable, schema) -> "LazyFrame":
        """Frame-level batch transform (polars LazyFrame.map_batches):
        ``fn(pandas.DataFrame) -> pandas.DataFrame`` applied per Arrow batch
        via ``mapInPandas`` — shape/columns may change; ``schema`` declares
        the output (DDL string or StructType).  Unlike polars, batches are
        PARTITION-LOCAL slices with no cross-batch state — for keyed custom
        logic use group_by().map_groups; for elementwise math prefer
        built-in expressions (this is the documented Python slow path)."""
        sdf = self._drop_order()._sdf

        def gen(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        return LazyFrame(sdf.mapInPandas(gen, schema=schema))

    def merge_sorted(self, other: "LazyFrame | DataFrame", key: str) -> "LazyFrame":
        """polars merge_sorted: merge two frames sorted by ``key`` into one
        frame sorted by ``key``; ties keep self's rows before other's, each
        side in its input order (polars' streaming-merge tie behavior).

        Spark-first shape: unionByName + a range-partitioned sort on
        (key, side, input order) — Catalyst samples the key for balanced
        range partitions, so the merge scales with the data instead of
        zipping two iterators on one node.  The side/order tie-break keys
        cost sort width but make the output deterministic."""
        o = other.lazy() if isinstance(other, DataFrame) else other
        a = self._drop_order()._sdf.withColumn("__side__", F.lit(0))
        b = o._drop_order()._sdf.withColumn("__side__", F.lit(1))
        if set(a.columns) != set(b.columns):
            raise ValueError(
                f"merge_sorted frames must share columns; got {sorted(a.columns)} "
                f"vs {sorted(b.columns)}"
            )
        u = a.unionByName(b).withColumn("__ord__", F.monotonically_increasing_id())
        out = u.orderBy(
            F.col(key).asc(), F.col("__side__").asc(), F.col("__ord__").asc()
        ).drop("__side__", "__ord__")
        return LazyFrame(out)

    def sort(
        self,
        by: Any,
        *more_by,
        descending: bool | Sequence[bool] = False,
        nulls_last: bool = False,
        maintain_order: bool = False,
    ) -> "LazyFrame":
        """Multi-key sort.  ``maintain_order=True`` makes it STABLE like
        polars' default (ties keep input order) by appending the hidden
        order id as a final ascending key — opt-in because the extra key
        costs sort width and Spark's range sort is otherwise free to break
        ties per-partition."""
        keys = _flatten([by, *more_by])
        if isinstance(descending, bool):
            descending = [descending] * len(keys)
        if len(descending) != len(keys):
            raise ValueError("descending flags must match number of sort keys")
        lf = self._order_col() if maintain_order else self
        sort_cols = []
        for k, d in zip(keys, descending):
            c = F.col(k) if isinstance(k, str) else _c(k)
            if d:
                sort_cols.append(c.desc_nulls_last() if nulls_last else c.desc())
            else:
                sort_cols.append(c.asc_nulls_last() if nulls_last else c.asc())
        if maintain_order:
            sort_cols.append(F.col(ROW_ORDER_COL).asc())
            return LazyFrame(lf._sdf.orderBy(*sort_cols).drop(ROW_ORDER_COL))
        return LazyFrame(lf._sdf.orderBy(*sort_cols))

    def top_k(self, k: int, by: Any, descending: bool = True) -> "LazyFrame":
        """sort+limit; Catalyst rewrites to TakeOrderedAndProject (no full sort)."""
        return self.sort(by, descending=descending).limit(k)

    # -- SQL ----------------------------------------------------------------
    def create_view(self, name: str) -> "LazyFrame":
        self._sdf.createOrReplaceTempView(name)
        return self

    # -- execution (lazy.rs:316-341) -----------------------------------------
    def collect(self) -> "DataFrame":
        return DataFrame(self._drop_order())

    def collect_streaming(self) -> "DataFrame":
        """The reference's out-of-core engine switch (lazy.rs:330-341) — Spark
        always executes pipelined/spilling, so this is an alias."""
        return self.collect()

    def collect_async(self):
        """Async collect (reference Wrappers.Lazy.cs:263-265): returns a
        Future[DataFrame]; Spark jobs from other threads run concurrently."""
        from concurrent.futures import ThreadPoolExecutor
        from pyspark import inheritable_thread_target

        executor = ThreadPoolExecutor(max_workers=1)
        fut = executor.submit(inheritable_thread_target(self.collect))
        executor.shutdown(wait=False)
        return fut

    def fetch(self, n: int) -> "DataFrame":
        return self.limit(n).collect()

    def repartition(self, n: int | None = None, *by: str) -> "LazyFrame":
        if by:
            cols_ = [F.col(c) for c in by]
            return LazyFrame(self._sdf.repartition(n, *cols_) if n else self._sdf.repartition(*cols_))
        return LazyFrame(self._sdf.repartition(n))

    def hint(self, name: str, *params) -> "LazyFrame":
        """Join-strategy / skew hints passed straight to Catalyst
        ("broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl",
        "rebalance")."""
        return LazyFrame(self._sdf.hint(name, *params))

    def write_bucketed(
        self,
        table_name: str,
        bucket_by: Sequence[str],
        num_buckets: int = 32,
        sort_by: Sequence[str] = (),
        mode: str = "overwrite",
    ) -> None:
        """Persist as a bucketed table: joins/aggs on the bucket keys then
        skip the shuffle entirely (co-located join) — the 100 TB answer to
        repeated big-big joins on a stable key."""
        w = self._drop_order()._sdf.write.mode(mode).bucketBy(num_buckets, *bucket_by)
        if sort_by:
            w = w.sortBy(*sort_by)
        w.saveAsTable(table_name)

    # -- sinks (io.rs:392-479): Spark writes are already streaming/out-of-core --
    # A sink is a terminal action: operator-internal persists (llm staging
    # frames, see _cache.py) are released once the write completes.
    def sink_parquet(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: Sequence[str] = (),
        compression: str | None = None,
        row_group_size: int | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        """Parquet sink.  ``compression``: snappy (default)/zstd/gzip/lz4/
        none — zstd is the usual 100 TB archive choice (~30% smaller than
        snappy at similar scan speed).  ``row_group_size`` (rows per group)
        tunes scan parallelism vs metadata overhead; ``max_records_per_file``
        caps file size for downstream consumers with per-file limits."""
        from ._cache import release_caches

        w = self._drop_order()._sdf.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if compression is not None:
            w = w.option("compression", compression)
        if row_group_size is not None:
            w = w.option("parquet.block.size", int(row_group_size))
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        try:
            w.parquet(path)
        finally:
            release_caches()

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "LazyFrame":
        """Persist this plan's result across reuses (Spark-native; polars has
        no analogue because it re-executes).  Registered with the package
        cache registry, so ``release_caches()`` frees it with everything
        else.  Use when a frame feeds several downstream queries — otherwise
        Catalyst recomputes the lineage per action."""
        from pyspark import StorageLevel

        from ._cache import register_cache

        return LazyFrame(register_cache(self._sdf, getattr(StorageLevel, storage_level)))

    cache = persist

    def sink_csv(self, path: str, mode: str = "overwrite", include_header: bool = True) -> None:
        from ._cache import release_caches

        try:
            self._drop_order()._sdf.write.mode(mode).option("header", str(include_header).lower()).csv(path)
        finally:
            release_caches()

    def sink_json(self, path: str, mode: str = "overwrite") -> None:
        from ._cache import release_caches

        try:
            self._drop_order()._sdf.write.mode(mode).json(path)
        finally:
            release_caches()

    def sink_orc(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        """ORC sink (beyond reference — Spark-native columnar format with
        predicate pushdown and partition pruning, same as parquet)."""
        from ._cache import release_caches

        w = self._drop_order()._sdf.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        try:
            w.orc(path)
        finally:
            release_caches()

    def sink_ipc(self, path: str) -> None:
        """Arrow IPC via driver-side pyarrow writer, streamed batch-by-batch
        (no full materialization) — mirrors map_batches sink (io.rs:567-606)."""
        import pyarrow as pa
        import pyarrow.ipc as ipc

        from ._cache import release_caches

        sdf = self._drop_order()._sdf
        schema = to_arrow_schema(sdf)
        try:
            with ipc.new_file(path, schema) as writer:
                for batch in sdf.toArrow().to_batches():  # Spark 4: arrow export
                    writer.write_batch(batch)
        finally:
            release_caches()

    def sink_jdbc(
        self,
        url: str,
        table: str,
        mode: str = "append",
        properties: "Mapping[str, str] | None" = None,
        batch_size: int | None = None,
        num_partitions: int | None = None,
        truncate: bool = False,
    ) -> None:
        """Frame → DB table (the reference's DB-export half: ArrowToDbStream
        bulk-inserts result batches into an IDataReader-compatible DB,
        Polars.NET.Core/Data/ArrowToDbStream.cs:10-50, behind the SinkTo
        producer/consumer pipeline, Polars.FSharp/Types.fs:1395-1444).

        Spark-first: each result partition opens its own connection and
        bulk-inserts with JDBC batching, so the export parallelizes across
        executors instead of the reference's single writer stream.
        ``mode``: append (default, the ArrowToDbStream semantics) /
        overwrite / ignore / error.  ``batch_size`` maps to Spark's
        ``batchsize`` (rows per JDBC batch, default 1000); ``num_partitions``
        caps concurrent connections (coalesce, no shuffle); ``truncate``
        makes overwrite TRUNCATE instead of DROP+CREATE so DB-side DDL
        (indexes, permissions) survives."""
        from ._cache import release_caches

        # fail fast (ADVICE r10): a mode typo ('apend') would otherwise
        # surface as a late Spark error after plan execution starts, and a
        # properties key must not silently clobber the explicit options
        valid_modes = {"append", "overwrite", "ignore", "error", "errorifexists"}
        if mode not in valid_modes:
            raise ValueError(
                f"sink_jdbc mode {mode!r} not in {sorted(valid_modes)}"
            )
        reserved = {"url", "dbtable", "batchsize", "truncate"}
        clash = reserved & {k.lower() for k in (properties or {})}
        if clash:
            raise ValueError(
                f"sink_jdbc properties {sorted(clash)} collide with explicit "
                "arguments — pass them via the named parameters"
            )
        sdf = self._drop_order()._sdf
        if num_partitions is not None:
            sdf = sdf.coalesce(int(num_partitions))
        w = sdf.write.format("jdbc").mode(mode).option("url", url).option(
            "dbtable", table
        )
        for k, v in (properties or {}).items():
            w = w.option(k, v)
        if batch_size is not None:
            w = w.option("batchsize", int(batch_size))
        if truncate:
            w = w.option("truncate", "true")
        try:
            w.save()
        finally:
            release_caches()

    def map_batches_sink(self, fn: Callable) -> None:
        """Push each result partition to a callback (reference export_batches,
        io.rs:609-657) — executor-side via foreachPartition."""
        self._drop_order()._sdf.foreachPartition(fn)


def _col_out_name(c: Column) -> str:
    s = str(c)
    m = re.search(r"AS (\w+)'?>?$", s)
    if m:
        return m.group(1)
    if s.startswith("Column<'") and s.endswith("'>"):
        return s[8:-2]
    raise ValueError(f"cannot infer output name for {s}; use .alias()")


def to_arrow_schema(sdf: SparkDF):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema as _tas

    return _tas(sdf.schema)


class GroupBy:
    """group_by(...).agg(...) builder (lazy.rs:169-184).

    The reference uses group_by_stable (first-seen key order). Spark hash
    aggregation has no such order; with maintain_order=True we restore it by
    carrying min(row_order) per group and sorting on it (extra sort stage —
    only pay for it when asked)."""

    def __init__(
        self,
        lf: LazyFrame,
        keys: Sequence[Expr | str],
        maintain_order: bool = False,
        mode: str = "groupby",
        sets: "Sequence[Sequence[str]] | None" = None,
    ):
        self._lf = lf
        self._keys = keys
        self._maintain_order = maintain_order
        self._mode = mode
        self._sets = sets

    def agg(self, *aggs, **named_aggs) -> LazyFrame:
        aggs = _flatten(aggs)
        key_cols = [F.col(k) if isinstance(k, str) else _c(k) for k in self._keys]
        agg_cols = [_c(a) for a in aggs] + [_c(a).alias(n) for n, a in named_aggs.items()]
        if self._mode == "cube":
            return LazyFrame(self._lf._sdf.cube(*key_cols).agg(*agg_cols))
        if self._mode == "rollup":
            return LazyFrame(self._lf._sdf.rollup(*key_cols).agg(*agg_cols))
        if self._mode == "grouping_sets":
            gs = [[F.col(c) for c in s] for s in (self._sets or [])]
            return LazyFrame(self._lf._sdf.groupingSets(gs, *key_cols).agg(*agg_cols))
        if self._maintain_order:
            lf = self._lf._order_col()
            first_seen = F.min(F.col(ROW_ORDER_COL)).alias("__first_seen__")
            out = lf._sdf.groupBy(*key_cols).agg(first_seen, *agg_cols)
            return LazyFrame(out.orderBy("__first_seen__").drop("__first_seen__"))
        return LazyFrame(self._lf._sdf.groupBy(*key_cols).agg(*agg_cols))

    def head(self, n: int = 5, order_by=None) -> LazyFrame:
        """First ``n`` rows per group (polars ``group_by().head``). Polars
        uses frame order; a distributed engine needs an explicit ordering —
        ``order_by`` (defaults to the hidden row-order column). Plans as a
        rank window that Spark prunes map-side via WindowGroupLimit, so hot
        groups shed rows before the exchange."""
        return self._group_limit(n, order_by, desc=False)

    def tail(self, n: int = 5, order_by=None) -> LazyFrame:
        """Last ``n`` rows per group (polars ``group_by().tail``)."""
        return self._group_limit(n, order_by, desc=True)

    def _group_limit(self, n: int, order_by, desc: bool) -> LazyFrame:
        if self._mode != "groupby":
            raise ValueError("head/tail only supports plain group_by (not cube/rollup)")
        lf = self._lf if order_by is not None else self._lf._order_col()
        key_cols = [F.col(k) if isinstance(k, str) else _c(k) for k in self._keys]
        order_cols = (
            [_c(o) if not isinstance(o, str) else F.col(o) for o in order_by]
            if order_by is not None
            else [F.col(ROW_ORDER_COL)]
        )
        if desc:
            order_cols = [o.desc() for o in order_cols]
        w = Window.partitionBy(*key_cols).orderBy(*order_cols)
        out = (
            lf._sdf.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= n)
            .drop("__rn__")
        )
        return LazyFrame(out)._drop_order()

    def map_groups(self, fn, schema) -> LazyFrame:
        """Custom per-group transform (polars ``group_by().map_groups``):
        ``fn(pandas.DataFrame) -> pandas.DataFrame`` applied to each key
        group via ``applyInPandas`` (one shuffle on the keys, Arrow-batched
        both ways).  ``schema`` is the OUTPUT schema (DDL string or
        StructType) — the function may change shape/columns freely.
        Scale note: each group must fit in one executor's memory; use
        built-in aggs/windows when the semantics allow."""
        if self._mode != "groupby":
            raise ValueError("map_groups only supports plain group_by (not cube/rollup)")
        key_cols = [F.col(k) if isinstance(k, str) else _c(k) for k in self._keys]
        # drop the hidden row-order column so the user fn sees only real
        # columns, matching every other user-facing surface
        sdf = self._lf._drop_order()._sdf
        # explicit-count repartition on the keys: AQE coalesces the (often
        # byte-tiny) pre-apply shuffle down to ONE partition and then every
        # group pays its Arrow round trip on a single core — AQE optimizes
        # for shuffle bytes and cannot see Python compute cost (measured
        # 3.3 s -> 0.8 s on the 1.5k-group z-score gate at sf0.1).  A
        # user-specified partition count is exempt from AQE coalescing and
        # is reused by the groupBy, so no second exchange appears.
        spark = sdf.sparkSession
        par = spark.sparkContext.defaultParallelism
        try:
            par = max(par, int(spark.conf.get("spark.sql.shuffle.partitions")))
        except Exception:  # noqa: BLE001 — e.g. "auto"
            pass
        sdf = sdf.repartition(par, *key_cols)
        return LazyFrame(sdf.groupBy(*key_cols).applyInPandas(fn, schema=schema))

    # convenience aggregations (GroupByBuilder in the reference,
    # Polars.CSharp/GroupByBuilder.cs:7)
    def sum(self, *cols_: str) -> LazyFrame:
        return self.agg(*[col(c).sum().alias(c) for c in cols_])

    def mean(self, *cols_: str) -> LazyFrame:
        return self.agg(*[col(c).mean().alias(c) for c in cols_])

    def min(self, *cols_: str) -> LazyFrame:
        return self.agg(*[col(c).min().alias(c) for c in cols_])

    def max(self, *cols_: str) -> LazyFrame:
        return self.agg(*[col(c).max().alias(c) for c in cols_])

    def count(self) -> LazyFrame:
        return self.agg(Expr(F.count(F.lit(1))).alias("count"))

    def len(self) -> LazyFrame:
        return self.count()


class RollingGroupBy:
    """Builder returned by :meth:`LazyFrame.rolling` — call ``.agg(exprs)``.

    Each aggregate expression is rewritten onto a
    ``Window.partitionBy(group_by).orderBy(µs(index)).rangeBetween(lo, hi)``
    frame, with (lo, hi) derived from period/offset/closed in integer
    microseconds (range frames are inclusive on both ends, so half-open
    polars bounds shift by 1 µs).  The index column is defensively cast to
    TIMESTAMP before unix_micros (NTZ parquet input is the normal case)."""

    def __init__(self, lf: LazyFrame, index_column: str, period: str,
                 offset: str | None, closed: str, group_by: list):
        from ._fmt import parse_polars_duration_us

        self._lf = lf
        self._index = index_column
        self._keys = group_by
        period_us = parse_polars_duration_us(period)
        if period_us <= 0:
            raise ValueError(f"rolling period={period!r} must be positive")
        offset_us = parse_polars_duration_us(offset) if offset is not None else -period_us
        start, end = offset_us, offset_us + period_us
        if closed == "right":
            self._bounds = (start + 1, end)
        elif closed == "left":
            self._bounds = (start, end - 1)
        elif closed == "both":
            self._bounds = (start, end)
        elif closed == "none":
            self._bounds = (start + 1, end - 1)
        else:
            raise ValueError(f"closed={closed!r} must be left/right/both/none")

    @staticmethod
    def _strip_alias(c: Column) -> tuple[Column, str | None]:
        """Split an `agg.alias(name)` Column into (agg, name): `.over()` on
        an Alias node mis-plans (Spark wraps the alias, not the aggregate),
        so the window is applied to the bare aggregate and re-aliased."""
        try:
            node = c._jc.node()  # noqa: SLF001 — classic-mode ColumnNode
            if node.getClass().getSimpleName() == "Alias":
                spark = SparkSession.getActiveSession()
                name = node.name().head()
                inner = Column(spark._jvm.org.apache.spark.sql.Column(node.child()))
                return inner, name
        except Exception:
            pass
        return c, None

    def agg(self, *aggs, **named_aggs) -> LazyFrame:
        aggs = _flatten(aggs)
        sdf = self._lf._drop_order()._sdf
        order = F.unix_micros(F.col(self._index).cast("timestamp"))
        w = (
            Window.partitionBy(*[F.col(k) for k in self._keys])
            .orderBy(order)
            .rangeBetween(self._bounds[0], self._bounds[1])
        )
        cols = [F.col(k) for k in self._keys] + [F.col(self._index)]
        for a in aggs:
            c, name = self._strip_alias(_c(a))
            cols.append(c.over(w).alias(name or _col_out_name(c)))
        for n, a in named_aggs.items():
            c, _ = self._strip_alias(_c(a))
            cols.append(c.over(w).alias(n))
        return LazyFrame(sdf.select(*cols))


class DataFrame:
    """Eager frame = LazyFrame + immediate actions (eager.rs:48-51 pattern).

    Never auto-caches at construction; ``height``/``collect`` trigger compute.
    At 100 TB an eager frame is a handle, not materialized data.
    """

    def __init__(self, data: LazyFrame | SparkDF | Any = None, spark: SparkSession | None = None):
        if isinstance(data, LazyFrame):
            self._lf = data
        elif isinstance(data, SparkDF):
            self._lf = LazyFrame(data)
        elif data is not None:
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("no active SparkSession; pass spark=")
            if isinstance(data, dict):
                import pandas as pd

                self._lf = LazyFrame(spark.createDataFrame(pd.DataFrame(data)))
            else:
                self._lf = LazyFrame(spark.createDataFrame(data))
        else:
            raise ValueError("DataFrame needs data")

    # -- lazy bridge ---------------------------------------------------------
    def lazy(self) -> LazyFrame:
        return self._lf

    @property
    def spark(self) -> SparkDF:
        return self._lf._sdf

    # -- introspection -------------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return self._lf.columns

    @property
    def schema(self) -> T.StructType:
        return self._lf.schema

    @property
    def dtypes(self) -> list[tuple[str, str]]:
        return self._lf.dtypes

    @property
    def width(self) -> int:
        return self._lf.width

    @property
    def height(self) -> int:
        return self._lf._sdf.count()

    def __len__(self) -> int:
        return self.height

    @property
    def shape(self) -> tuple[int, int]:
        return (self.height, self.width)

    def show(self, n: int = 20) -> None:
        self._lf._sdf.show(n)

    def to_string(self) -> str:
        return self._lf._sdf._show_string(20)  # type: ignore[attr-defined]

    def head_rows(self, n: int = 5) -> list:
        return self._lf._sdf.take(n)

    # -- data access ----------------------------------------------------------
    def to_pandas(self):
        return self._lf._drop_order()._sdf.toPandas()

    def to_arrow(self):
        return self._lf._drop_order()._sdf.toArrow()

    def to_dicts(self) -> list[dict]:
        return [r.asDict(recursive=True) for r in self._lf._sdf.collect()]

    def rows_as(self, cls) -> list:
        """Typed row mapping (reference Rows<T>, Polars.CSharp/DataFrame.cs:867):
        instantiate ``cls`` (dataclass/NamedTuple/any kwargs-ctor) per row."""
        return [cls(**r.asDict()) for r in self._lf._sdf.collect()]

    def _repr_html_(self) -> str:
        """Notebook rendering (reference ToHtml, Polars.CSharp/DataFrame.cs:1005)."""
        return self._lf._sdf.limit(50).toPandas()._repr_html_()

    def rows(self) -> list[tuple]:
        return [tuple(r) for r in self._lf._sdf.collect()]

    def item(self, row: int = 0, column: int | str = 0) -> Any:
        """Scalar cell access (eager.rs:385-486)."""
        colname = column if isinstance(column, str) else self.columns[column]
        vals = self._lf._sdf.select(colname).take(row + 1)
        if len(vals) <= row:
            raise IndexError(f"row {row} out of range")
        return vals[row][0]

    def get_column(self, name: str) -> "Any":
        from .series import Series

        return Series._from_lazy(self._lf.select(name), name)

    def __getitem__(self, name: str):
        if not isinstance(name, str):
            # without this, `for row in df` would silently fall back to
            # __getitem__(0), __getitem__(1), ... building lit-select frames
            # forever (observed in the wild) — fail loudly instead
            raise TypeError(
                f"DataFrame[...] takes a column name, got {type(name).__name__}; "
                "iterate df.iter_columns() for Series or df.rows() for tuples"
            )
        return self.get_column(name)

    def __iter__(self):
        """polars semantics: iterating a DataFrame yields its columns as
        Series (use .rows() for row tuples)."""
        return self.iter_columns()

    def iter_columns(self):
        for name in self.columns:
            yield self.get_column(name)

    # -- eager mirrors of lazy ops ---------------------------------------------
    def _wrap(self, lf: LazyFrame) -> "DataFrame":
        return DataFrame(lf)

    def select(self, *exprs) -> "DataFrame":
        return self._wrap(self._lf.select(*exprs))

    def with_columns(self, *exprs, **named) -> "DataFrame":
        return self._wrap(self._lf.with_columns(*exprs, **named))

    def filter(self, *predicates) -> "DataFrame":
        return self._wrap(self._lf.filter(*predicates))

    def drop(self, *names: str) -> "DataFrame":
        return self._wrap(self._lf.drop(*names))

    def rename(self, mapping: Mapping[str, str]) -> "DataFrame":
        return self._wrap(self._lf.rename(mapping))

    def drop_nulls(self, subset=None) -> "DataFrame":
        return self._wrap(self._lf.drop_nulls(subset))

    def fill_null(self, value, subset=None) -> "DataFrame":
        return self._wrap(self._lf.fill_null(value, subset))

    def unique(self, subset=None, keep: str = "any", maintain_order: bool = False) -> "DataFrame":
        return self._wrap(self._lf.unique(subset, keep, maintain_order))

    def value_counts(self, *columns: str, sort: bool = True, name: str = "count") -> "DataFrame":
        return self._wrap(self._lf.value_counts(*columns, sort=sort, name=name))

    def upsample(self, time_column: str, every: str, group_by: Sequence[str] = ()) -> "DataFrame":
        return self._wrap(self._lf.upsample(time_column, every, group_by))

    def to_dummies(self, *columns: str, separator: str = "_", drop_first: bool = False) -> "DataFrame":
        return self._wrap(self._lf.to_dummies(*columns, separator=separator, drop_first=drop_first))

    def update(self, other, on, how: str = "left", include_nulls: bool = False) -> "DataFrame":
        return self._wrap(self._lf.update(
            other.lazy() if isinstance(other, DataFrame) else other, on, how, include_nulls))

    def vstack(self, other: "DataFrame") -> "DataFrame":
        """polars vstack: vertical concat (schemas must match by name)."""
        return self._wrap(concat([self.lazy(), other.lazy()], how="vertical"))

    def extend(self, other: "DataFrame") -> "DataFrame":
        """polars extend: same as vstack here (Spark frames are immutable
        plans — there is no in-place append to avoid)."""
        return self.vstack(other)

    def hstack(self, other: "DataFrame") -> "DataFrame":
        """polars hstack: horizontal concat (row-index zip, equal heights)."""
        return self._wrap(concat([self.lazy(), other.lazy()], how="horizontal"))

    def get_column_index(self, name: str) -> int:
        """polars get_column_index: position of a column, raising on miss."""
        try:
            return self.columns.index(name)
        except ValueError:
            raise ValueError(f"column {name!r} not found") from None

    def insert_column(self, index: int, column) -> "DataFrame":
        """polars insert_column: place an aliased expression at position
        ``index`` (returns a new frame — plans are immutable)."""
        cols_ = [F.col(c) for c in self.columns]
        n = len(cols_)
        if not (-n - 1 <= index <= n):
            raise ValueError(f"index {index} out of range for width {n}")
        if index < 0:
            index += n + 1
        cols_.insert(index, _c(column))
        return self._wrap(LazyFrame(self._lf._drop_order()._sdf.select(*cols_)))

    def replace_column(self, index: int, column) -> "DataFrame":
        """polars replace_column: swap the column at ``index`` for an
        aliased expression."""
        names = self.columns
        if not (-len(names) <= index < len(names)):
            raise ValueError(f"index {index} out of range for width {len(names)}")
        cols_ = [F.col(c) for c in names]
        cols_[index] = _c(column)
        return self._wrap(LazyFrame(self._lf._drop_order()._sdf.select(*cols_)))

    def null_count(self) -> "DataFrame":
        return self._wrap(self._lf.null_count())

    def sum(self) -> "DataFrame":
        return self._wrap(self._lf.sum())

    def mean(self) -> "DataFrame":
        return self._wrap(self._lf.mean())

    def median(self) -> "DataFrame":
        return self._wrap(self._lf.median())

    def std(self) -> "DataFrame":
        return self._wrap(self._lf.std())

    def var(self) -> "DataFrame":
        return self._wrap(self._lf.var())

    def min(self) -> "DataFrame":
        return self._wrap(self._lf.min())

    def max(self) -> "DataFrame":
        return self._wrap(self._lf.max())

    def hist(self, column: str, bins: Sequence[float]) -> "DataFrame":
        return self._wrap(self._lf.hist(column, bins))

    def cast(self, dtypes, strict: bool = False) -> "DataFrame":
        return self._wrap(self._lf.cast(dtypes, strict=strict))

    def to_html(self, max_rows: int = 100) -> str:
        """HTML table of (a bounded head of) the frame — parity with the
        reference's DataFrame.ToHtml (Polars.CSharp/DataFrame.cs:1005).
        Dtypes render under the column names; a trailing ellipsis row marks
        truncation.  Also wired as ``_repr_html_`` so notebooks render
        frames natively."""
        import html as _html

        head = self._lf._drop_order()._sdf.take(max_rows + 1)
        truncated = len(head) > max_rows
        head = head[:max_rows]
        dtypes = dict(self._lf.dtypes)
        cells = "".join(
            f"<th>{_html.escape(c)}<br/><small>{_html.escape(dtypes[c])}</small></th>"
            for c in self.columns
        )
        parts = [f"<table border='1'><thead><tr>{cells}</tr></thead><tbody>"]
        for r in head:
            tds = "".join(
                f"<td>{'null' if r[c] is None else _html.escape(str(r[c]))}</td>"
                for c in self.columns
            )
            parts.append(f"<tr>{tds}</tr>")
        if truncated:
            parts.append(
                f"<tr>{''.join('<td>…</td>' for _ in self.columns)}</tr>"
            )
        parts.append("</tbody></table>")
        return "".join(parts)

    def _repr_html_(self) -> str:  # pragma: no cover - notebook hook
        return self.to_html()

    def glimpse(self) -> str:
        """polars glimpse: dtype + first values per column, one line each
        (reads only a bounded head of the frame)."""
        head = self._lf._drop_order()._sdf.take(10)
        lines = [f"Rows: {self.height}", f"Columns: {self.width}"]
        for name, dtype in self._lf.dtypes:
            vals = ", ".join(repr(r[name]) for r in head)
            lines.append(f"$ {name} <{dtype}> {vals}")
        out = "\n".join(lines)
        print(out)
        return out

    def transpose(
        self,
        include_header: bool = True,
        header_name: str = "column",
        column_names: Sequence[str] | None = None,
        max_rows: int = 10_000,
    ) -> "DataFrame":
        """polars transpose — inherently eager and small-data (the output
        schema is one column PER INPUT ROW, so this cannot be distributed);
        guarded by ``max_rows`` so it can't silently collect an unbounded
        frame."""
        sdf = self._lf._drop_order()._sdf
        rows = sdf.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"transpose on > {max_rows} rows (one output column per row); "
                "raise max_rows explicitly if this is intended"
            )
        cols = sdf.columns
        names = (
            list(column_names)
            if column_names is not None
            else [f"column_{i}" for i in range(len(rows))]
        )
        if len(names) != len(rows):
            raise ValueError("column_names length must equal row count")
        spark = SparkSession.getActiveSession()
        out_rows = []
        for c in cols:
            rec = {header_name: c} if include_header else {}
            for nm, r in zip(names, rows):
                v = r[c]
                rec[nm] = v if v is None else str(v)
            out_rows.append(rec)
        import pandas as pd

        pdf = pd.DataFrame(out_rows)
        return DataFrame(LazyFrame(spark.createDataFrame(pdf)))

    def partition_by(
        self,
        *by: str,
        as_dict: bool = False,
        max_partitions: int = 1_000,
    ) -> "list[DataFrame] | dict[tuple, DataFrame]":
        """polars partition_by: split into one frame per distinct key combo,
        in sorted key order.  The distinct-collect is bounded by
        ``max_partitions`` (the output is a driver-side collection by
        definition — same class of action as pivot's schema probe)."""
        keys = list(by)
        if not keys:
            raise ValueError("partition_by needs at least one key column")
        sdf = self._lf._drop_order()._sdf
        vals = sdf.select(*keys).distinct().limit(max_partitions + 1).collect()
        if len(vals) > max_partitions:
            raise ValueError(
                f"partition_by would produce > {max_partitions} frames; "
                "raise max_partitions explicitly if this is intended"
            )
        combos = sorted(
            (tuple(r[k] for k in keys) for r in vals),
            key=lambda t: tuple((v is None, v if v is not None else "") for v in t),
        )
        out: dict[tuple, DataFrame] = {}
        for combo in combos:
            pred = None
            for k, v in zip(keys, combo):
                c = F.col(k).isNull() if v is None else (F.col(k) == F.lit(v))
                pred = c if pred is None else (pred & c)
            out[combo] = DataFrame(LazyFrame(sdf.filter(pred)))
        return out if as_dict else list(out.values())

    def with_ewm(self, column: str, kind, **kwargs) -> "DataFrame":
        return self._wrap(self._lf.with_ewm(column, kind, **kwargs))

    def with_ewm_mean(self, column: str, **kwargs) -> "DataFrame":
        return self._wrap(self._lf.with_ewm_mean(column, **kwargs))

    def with_ewm_std(self, column: str, **kwargs) -> "DataFrame":
        return self._wrap(self._lf.with_ewm_std(column, **kwargs))

    def with_ewm_var(self, column: str, **kwargs) -> "DataFrame":
        return self._wrap(self._lf.with_ewm_var(column, **kwargs))

    def with_ewm_mean_by(self, column: str, by: str, half_life: str, **kwargs) -> "DataFrame":
        return self._wrap(self._lf.with_ewm_mean_by(column, by, half_life, **kwargs))

    def head(self, n: int = 5) -> "DataFrame":
        return self._wrap(self._lf.head(n))

    def tail(self, n: int = 5) -> "DataFrame":
        return self._wrap(self._lf.tail(n))

    def limit(self, n: int) -> "DataFrame":
        return self._wrap(self._lf.limit(n))

    def sample_n(self, n: int, seed=None, shuffle: bool = False) -> "DataFrame":
        return self._wrap(self._lf.sample_n(n, seed, shuffle))

    def sample_frac(self, frac: float, seed=None) -> "DataFrame":
        return self._wrap(self._lf.sample_frac(frac, seed))

    def sort(self, by, *more_by, descending=False, nulls_last=False) -> "DataFrame":
        return self._wrap(self._lf.sort(by, *more_by, descending=descending, nulls_last=nulls_last))

    def join(self, other: "DataFrame", **kwargs) -> "DataFrame":
        return self._wrap(self._lf.join(other._lf, **kwargs))

    def join_asof(self, other: "DataFrame", **kwargs) -> "DataFrame":
        return self._wrap(self._lf.join_asof(other._lf, **kwargs))

    def join_where(self, other: "DataFrame", *predicates, suffix: str = "_right") -> "DataFrame":
        return self._wrap(self._lf.join_where(other._lf, *predicates, suffix=suffix))

    def group_by(self, *keys, maintain_order: bool = False) -> "EagerGroupBy":
        return EagerGroupBy(self._lf.group_by(*keys, maintain_order=maintain_order))

    def cube(self, *keys) -> "EagerGroupBy":
        return EagerGroupBy(self._lf.cube(*keys))

    def rollup(self, *keys) -> "EagerGroupBy":
        return EagerGroupBy(self._lf.rollup(*keys))

    def group_by_dynamic(self, *args, **kwargs):
        return self._lf.group_by_dynamic(*args, **kwargs)

    def map_column(self, column: str, fn, return_dtype=None) -> "DataFrame":
        return self._wrap(self._lf.map_column(column, fn, return_dtype))

    def explode(self, *columns: str) -> "DataFrame":
        return self._wrap(self._lf.explode(*columns))

    def unnest(self, *columns: str) -> "DataFrame":
        return self._wrap(self._lf.unnest(*columns))

    def unpivot(self, index, on=None, variable_name="variable", value_name="value") -> "DataFrame":
        return self._wrap(self._lf.unpivot(index, on, variable_name, value_name))

    def pivot(
        self,
        index: Sequence[str] | str,
        columns: str,
        values: str,
        aggregate_function: str = "first",
    ) -> "DataFrame":
        from .operators.pivot import pivot as _pivot

        return self._wrap(_pivot(self._lf, index, columns, values, aggregate_function))

    def describe(self, exact_percentiles: bool = True, accuracy: int = 10_000) -> "DataFrame":
        from .operators.describe import describe as _describe

        return self._wrap(_describe(self._lf, exact_percentiles, accuracy))

    # -- writers (io.rs:275-334) -------------------------------------------------
    def write_parquet(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        self._lf.sink_parquet(path, mode, partition_by)

    def write_csv(self, path: str, mode: str = "overwrite", include_header: bool = True) -> None:
        self._lf.sink_csv(path, mode, include_header)

    def write_json(self, path: str, mode: str = "overwrite") -> None:
        self._lf.sink_json(path, mode)

    def write_ipc(self, path: str) -> None:
        self._lf.sink_ipc(path)

    def write_orc(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        self._lf.sink_orc(path, mode, partition_by)

    def write_jdbc(
        self,
        url: str,
        table: str,
        mode: str = "append",
        properties: "Mapping[str, str] | None" = None,
        batch_size: int | None = None,
        num_partitions: int | None = None,
        truncate: bool = False,
    ) -> None:
        self._lf.sink_jdbc(
            url, table, mode, properties, batch_size, num_partitions, truncate
        )


class EagerGroupBy:
    def __init__(self, gb: GroupBy):
        self._gb = gb

    def agg(self, *aggs, **named) -> DataFrame:
        return DataFrame(self._gb.agg(*aggs, **named))

    def head(self, n: int = 5, order_by=None) -> DataFrame:
        return DataFrame(self._gb.head(n, order_by))

    def tail(self, n: int = 5, order_by=None) -> DataFrame:
        return DataFrame(self._gb.tail(n, order_by))

    def sum(self, *cols_) -> DataFrame:
        return DataFrame(self._gb.sum(*cols_))

    def mean(self, *cols_) -> DataFrame:
        return DataFrame(self._gb.mean(*cols_))

    def min(self, *cols_) -> DataFrame:
        return DataFrame(self._gb.min(*cols_))

    def max(self, *cols_) -> DataFrame:
        return DataFrame(self._gb.max(*cols_))

    def count(self) -> DataFrame:
        return DataFrame(self._gb.count())


def concat(frames: Sequence[LazyFrame | DataFrame], how: str = "vertical") -> LazyFrame:
    """concat Vertical/Diagonal/Horizontal (lazy.rs:411-457, SURVEY §2.8)."""
    lfs = [f.lazy() if isinstance(f, DataFrame) else f for f in frames]
    if not lfs:
        raise ValueError("nothing to concat")
    if how in ("vertical", "vertical_relaxed"):
        if how == "vertical":
            # polars strict vertical: dtypes must match exactly — with ANSI
            # off Spark's union would silently coerce (e.g. long+string), so
            # validate here; 'vertical_relaxed' keeps Spark's supertype rules
            first = {f.name: f.dataType for f in lfs[0].schema.fields}
            for lf in lfs[1:]:
                for f in lf.schema.fields:
                    if f.name in first and f.dataType != first[f.name]:
                        raise ValueError(
                            f"vertical concat dtype mismatch on {f.name!r}: "
                            f"{first[f.name].simpleString()} vs {f.dataType.simpleString()}"
                            " (use how='vertical_relaxed' to coerce)"
                        )
        out = reduce(lambda a, b: a.unionByName(b), [lf._sdf for lf in lfs])
        return LazyFrame(out)
    if how == "diagonal":
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), [lf._sdf for lf in lfs]
        )
        return LazyFrame(out)
    if how == "horizontal":
        from .operators.horizontal import concat_horizontal

        return concat_horizontal(lfs)
    if how in ("align", "align_full", "align_left", "align_inner"):
        # polars align concat: full/left/inner-join the frames on their
        # COMMON columns (must exist in every frame), sorted by the keys.
        join_how = {"align": "full", "align_full": "full",
                    "align_left": "left", "align_inner": "inner"}[how]
        common = set(lfs[0].columns)
        for lf in lfs[1:]:
            common &= set(lf.columns)
        if not common:
            raise ValueError("align concat needs at least one common column")
        keys = [c for c in lfs[0].columns if c in common]  # first-frame order
        out = lfs[0]._sdf
        for lf in lfs[1:]:
            out = out.join(lf._sdf, on=keys, how=join_how)
        return LazyFrame(out.orderBy(*[F.col(k) for k in keys]))
    raise ValueError(f"unknown concat how={how!r}")
