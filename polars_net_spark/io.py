"""Scans / sources / sinks (SURVEY §2.1; /root/reference native_shim/src/io.rs).

All scans return LazyFrames (Spark reads are lazy); eager ``read_*`` variants
return the eager DataFrame wrapper — same op, immediate handle, matching the
reference's eager-is-sugar design.  Predicate/projection/partition pushdown on
parquet/csv come free from Catalyst (SURVEY §4).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprs import _to_spark_type
from .frame import DataFrame, LazyFrame

__all__ = [
    "write_bucketed",
    "read_table",
    "repeat",
    "from_numpy",
    "from_dict",
    "from_dicts",
    "int_range",
    "datetime_range",
    "date_range",
    "scan_parquet",
    "read_parquet",
    "scan_csv",
    "read_csv",
    "scan_ndjson",
    "read_json",
    "read_ipc",
    "scan_ipc",
    "from_arrow",
    "scan_batches",
    "register_callback_source",
    "from_pandas",
    "from_records",
    "scan_jdbc",
    "from_batches",
]


def _spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession; call get_spark() first")
    return s


def _schema_arg(schema: Mapping[str, str] | T.StructType | None) -> T.StructType | None:
    if schema is None or isinstance(schema, T.StructType):
        return schema
    return T.StructType([T.StructField(n, _to_spark_type(t), True) for n, t in schema.items()])


# -- parquet (io.rs:97-124) --------------------------------------------------


def scan_parquet(
    path: str | Sequence[str],
    spark: SparkSession | None = None,
    merge_schema: bool = False,
    recursive: bool = False,
) -> LazyFrame:
    """Lazy parquet scan (glob patterns and path lists both work —
    Spark's file index expands them).  ``merge_schema=True`` unions the
    schemas of all files (polars scan_parquet(allow_missing_columns)-ish /
    schema evolution: files missing a column yield nulls) at the cost of a
    footer read per file; ``recursive=True`` descends subdirectories that
    are not hive partitions."""
    paths = [path] if isinstance(path, str) else list(path)
    r = _spark(spark).read
    if merge_schema:
        r = r.option("mergeSchema", "true")
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return LazyFrame(r.parquet(*paths))


def read_parquet(path: str | Sequence[str], spark: SparkSession | None = None) -> DataFrame:
    return scan_parquet(path, spark).collect()


# -- orc (beyond reference: Spark-native columnar, pushdown-capable) ----------


def scan_orc(path: str | Sequence[str], spark: SparkSession | None = None) -> LazyFrame:
    paths = [path] if isinstance(path, str) else list(path)
    return LazyFrame(_spark(spark).read.orc(*paths))


def read_orc(path: str | Sequence[str], spark: SparkSession | None = None) -> DataFrame:
    return scan_orc(path, spark).collect()


# -- csv (io.rs:17-92) --------------------------------------------------------


def scan_csv(
    path: str,
    has_header: bool = True,
    separator: str = ",",
    skip_rows: int = 0,
    schema_overrides: Mapping[str, str] | T.StructType | None = None,
    try_parse_dates: bool = False,
    infer_schema: bool = True,
    null_values: "str | Sequence[str] | None" = None,
    quote_char: str | None = None,
    comment_prefix: str | None = None,
    encoding: str | None = None,
    ignore_errors: bool = False,
    corrupt_record_col: str | None = None,
    spark: SparkSession | None = None,
) -> LazyFrame:
    """CSV scan (io.rs:17-92) + the polars reader knobs Spark's CSV source
    maps directly: ``null_values`` (one string; Spark supports a single
    nullValue sentinel — a LIST falls back to a post-scan replace),
    ``quote_char``, ``comment_prefix`` (single char), ``encoding``.

    Malformed-row policy (polars ``ignore_errors``): default PERMISSIVE
    (unparseable fields null out); ``ignore_errors=True`` → DROPMALFORMED
    (whole bad rows vanish); ``corrupt_record_col='_bad'`` keeps PERMISSIVE
    and lands each raw malformed line in that string column for triage
    (requires an explicit schema including that column per Spark's CSV
    contract)."""
    s = _spark(spark)
    reader = (
        s.read.option("header", str(has_header).lower())
        .option("sep", separator)
        .option("inferSchema", str(infer_schema and schema_overrides is None).lower())
    )
    multi_nulls: list[str] = []
    if null_values is not None:
        if isinstance(null_values, str):
            reader = reader.option("nullValue", null_values)
        else:
            vals = list(null_values)
            if vals:
                reader = reader.option("nullValue", vals[0])
                multi_nulls = vals[1:]
    if quote_char is not None:
        reader = reader.option("quote", quote_char)
    if comment_prefix is not None:
        if len(comment_prefix) != 1:
            raise ValueError("Spark's CSV comment marker is a single character")
        reader = reader.option("comment", comment_prefix)
    if encoding is not None:
        reader = reader.option("encoding", encoding)
    if ignore_errors:
        reader = reader.option("mode", "DROPMALFORMED")
    if corrupt_record_col is not None:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_record_col
        )
    if skip_rows:
        # Spark CSV has no skipRows; emulate by dropping the first N physical lines.
        # The file is read as text once, sliced, then parsed — this stays
        # distributed (zipWithIndex is a narrow op over partitions).
        text = s.read.text(path).rdd.zipWithIndex()
        kept = text.filter(lambda t: t[1] >= skip_rows).map(lambda t: t[0].value)
        reader2 = s.read.option("header", str(has_header).lower()).option("sep", separator)
        if isinstance(null_values, str):
            reader2 = reader2.option("nullValue", null_values)
        elif multi_nulls or (null_values and not isinstance(null_values, str)):
            reader2 = reader2.option("nullValue", list(null_values)[0])
        if quote_char is not None:
            reader2 = reader2.option("quote", quote_char)
        if comment_prefix is not None:
            reader2 = reader2.option("comment", comment_prefix)
        if encoding is not None:
            reader2 = reader2.option("encoding", encoding)
        if schema_overrides is not None:
            reader2 = reader2.schema(_schema_arg(schema_overrides))
        else:
            reader2 = reader2.option("inferSchema", "true")
        sdf = reader2.csv(kept)
        return _post_nulls(_maybe_parse_dates(LazyFrame(sdf), try_parse_dates), multi_nulls)
    if schema_overrides is not None:
        reader = reader.schema(_schema_arg(schema_overrides))
    sdf = reader.csv(path)
    return _post_nulls(_maybe_parse_dates(LazyFrame(sdf), try_parse_dates), multi_nulls)


def _post_nulls(lf: LazyFrame, sentinels: Sequence[str]) -> LazyFrame:
    """Extra null sentinels beyond Spark's single nullValue: one map-only
    replace pass over string columns."""
    if not sentinels:
        return lf
    sdf = lf._sdf
    out = sdf
    for n, t in sdf.dtypes:
        if t == "string":
            c = F.col(n)
            out = out.withColumn(n, F.when(c.isin(list(sentinels)), F.lit(None)).otherwise(c))
    return LazyFrame(out)


def _maybe_parse_dates(lf: LazyFrame, try_parse_dates: bool) -> LazyFrame:
    if not try_parse_dates:
        return lf
    # io.rs:31-32 → polars with_try_parse_dates: a string column in which
    # EVERY non-null value parses becomes a Date/Datetime column (dtype
    # change, not a string rewrite).  One aggregate pass decides all columns
    # at once — CSV schema inference already scans the file, so the extra
    # eager job is in line with read-time inference cost.
    sdf = lf._sdf
    str_cols = [n for n, t in sdf.dtypes if t == "string"]
    if not str_cols:
        return lf
    aggs = []
    for n in str_cols:
        c = F.col(n)
        aggs.append(
            (
                (F.count(c) > 0)
                & (F.count(F.when(c.rlike(r"^\d{4}-\d{2}-\d{2}$"), c)) == F.count(c))
            ).alias(f"__d_{n}"),
        )
        aggs.append(
            (
                (F.count(c) > 0)
                & (F.count(F.try_to_timestamp(c)) == F.count(c))
            ).alias(f"__t_{n}"),
        )
    stats = sdf.agg(*aggs).collect()[0]
    out = sdf
    for n in str_cols:
        if stats[f"__d_{n}"]:
            out = out.withColumn(n, F.col(n).cast("date"))
        elif stats[f"__t_{n}"]:
            out = out.withColumn(n, F.try_to_timestamp(F.col(n)))
    return LazyFrame(out)


def read_csv(path: str, **kwargs) -> DataFrame:
    return scan_csv(path, **kwargs).collect()


# -- json / ndjson (io.rs:131-155) --------------------------------------------


def read_json(path: str, spark: SparkSession | None = None) -> DataFrame:
    """JSON array file (io.rs:131-142)."""
    return LazyFrame(_spark(spark).read.option("multiLine", "true").json(path)).collect()


def scan_ndjson(path: str, spark: SparkSession | None = None) -> LazyFrame:
    return LazyFrame(_spark(spark).read.json(path))


# -- Arrow IPC / interop (io.rs:160-179, 216-269, 352-389) ---------------------


def read_ipc(path: str, spark: SparkSession | None = None) -> DataFrame:
    import pyarrow.ipc as ipc

    with ipc.open_file(path) as reader:
        table = reader.read_all()
    return from_arrow(table, spark)


def scan_ipc(path: str, spark: SparkSession | None = None) -> LazyFrame:
    return read_ipc(path, spark).lazy()


def from_arrow(table, spark: SparkSession | None = None) -> DataFrame:
    """Arrow table/batch → DataFrame (io.rs:216-269 zero-copy import).  The
    Spark types come from the Arrow schema, so a 64-bit int next to a null
    stays an exact bigint."""
    import pyarrow as pa

    if isinstance(table, pa.RecordBatch):
        table = pa.Table.from_batches([table])
    return DataFrame(LazyFrame(_spark(spark).createDataFrame(table)))


def from_batches(batches: Iterable, spark: SparkSession | None = None) -> DataFrame:
    """Arrow C-stream equivalent (eager.rs:825-926): many batches → one frame."""
    import pyarrow as pa

    table = pa.Table.from_batches(list(batches))
    return from_arrow(table, spark)


def scan_batches(
    factory: Callable[[int], Iterable],
    schema: Mapping[str, str] | T.StructType,
    num_partitions: int = 1,
    spark: SparkSession | None = None,
) -> LazyFrame:
    """Anonymous scan — lazy pull-based source from a caller-supplied Arrow
    batch factory (reference AnonymousScan, native_shim/src/lazy.rs:650-763).

    ``factory(partition_index)`` returns an iterator of pyarrow RecordBatches
    matching ``schema``.  Like the reference, the factory is re-invoked on
    every execution pass (multi-pass capable) and the scan is an optimization
    barrier for predicates (projection still prunes above it).  Executes
    distributed: one factory call per partition, streamed via Arrow.
    """
    s = _spark(spark)
    struct = _schema_arg(schema) if not isinstance(schema, T.StructType) else schema

    def gen(it):
        for batch in it:
            for idx in batch.column(0).to_pylist():
                yield from factory(idx)

    base = s.range(num_partitions).repartition(num_partitions)
    return LazyFrame(base.mapInArrow(gen, struct))


def register_callback_source(
    name: str,
    factory: Callable[[int], Iterable],
    schema_ddl: str,
    num_partitions: int = 1,
    spark: SparkSession | None = None,
) -> LazyFrame:
    """Register a Python Data Source (Spark 4 DataSource API) backed by a
    partition-indexed factory, and return a scan of it.

    The fuller-featured sibling of :func:`scan_batches`: as a first-class
    source, Catalyst sees a real relation (a named format usable from any
    reader, `spark.read.format(name)`).  ``factory(partition_index)`` yields
    either plain row tuples or pyarrow RecordBatches.  The class is shipped
    to executors by value (cloudpickle), so the factory must be picklable.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    # `def name` below makes `name` a class-body local — rebind the parameter
    # under a different identifier so the class attributes can read it
    source_name = name

    class _CallbackReader(DataSourceReader):
        def __init__(self, fct, parts):
            self._factory = fct
            self._parts = parts

        def partitions(self):
            return [InputPartition(i) for i in range(self._parts)]

        def read(self, partition):
            import pyarrow as pa

            for item in self._factory(partition.value):
                if isinstance(item, pa.RecordBatch):
                    for row in zip(*[c.to_pylist() for c in item.columns]):
                        yield row
                else:
                    yield item

    class _CallbackSource(DataSource):
        _factory = staticmethod(factory)
        _ddl = schema_ddl
        _parts = num_partitions
        _name = source_name

        @classmethod
        def name(cls):
            # no closure over the outer variable: the class is re-created from
            # pickle on executors where enclosing cells may be absent
            return cls._name

        def schema(self):
            return self._ddl

        def reader(self, schema):
            return _CallbackReader(self._factory, self._parts)

    s = _spark(spark)
    s.dataSource.register(_CallbackSource)
    return LazyFrame(s.read.format(name).load())


def from_pandas(pdf, spark: SparkSession | None = None) -> DataFrame:
    return DataFrame(LazyFrame(_spark(spark).createDataFrame(pdf)))


def from_records(
    data: Sequence[Any], schema: Sequence[str] | T.StructType | None = None, spark: SparkSession | None = None
) -> DataFrame:
    """POCO/record ingestion (reference From<T>, Polars.CSharp/DataFrame.cs:777)."""
    return DataFrame(LazyFrame(_spark(spark).createDataFrame(data, schema=schema)))


def from_dict(
    data: "dict[str, Sequence[Any]]", spark: SparkSession | None = None
) -> DataFrame:
    """polars pl.from_dict: column-name -> values mapping (columns must be
    equal length)."""
    names = list(data)
    if not names:
        raise ValueError("from_dict needs at least one column")
    lengths = {len(v) for v in data.values()}
    if len(lengths) != 1:
        raise ValueError(f"columns differ in length: { {k: len(v) for k, v in data.items()} }")
    import pyarrow as pa

    return from_arrow(pa.table({n: list(data[n]) for n in names}), spark)


def from_dicts(
    data: "Sequence[dict]", spark: SparkSession | None = None
) -> DataFrame:
    """polars pl.from_dicts: row dicts (keys unioned across rows, missing ->
    null)."""
    if not data:
        raise ValueError("from_dicts needs at least one row")
    keys = dict.fromkeys(k for row in data for k in row)  # first-seen order
    return from_dict({k: [row.get(k) for row in data] for k in keys}, spark)


# -- JDBC (reference scanDb/ReadDb, Polars.FSharp/Types.fs:1342-1363) ----------


def scan_jdbc(
    url: str,
    table: str,
    properties: Mapping[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: Any = None,
    upper_bound: Any = None,
    spark: SparkSession | None = None,
) -> LazyFrame:
    """DB → frame. Unlike the reference's single-stream IDataReader, Spark can
    parallelize by range-partitioning on a numeric column — pass
    partition_column/bounds for scale-out reads."""
    s = _spark(spark)
    reader = s.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions or 8))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return LazyFrame(reader.load())


# -- range constructors (polars pl.int_range / date_range / datetime_range) ----


def int_range(
    start: int, end: int, step: int = 1, name: str = "int",
    spark: SparkSession | None = None,
) -> LazyFrame:
    """polars pl.int_range as a one-column frame ([start, end), like polars).
    Compiles to spark.range — generated directly on the executors, already
    partitioned, no driver materialization at any size."""
    s = _spark(spark)
    return LazyFrame(s.range(start, end, step).select(F.col("id").alias(name)))


def datetime_range(
    start,
    end,
    interval: str = "1d",
    closed: str = "both",
    name: str = "datetime",
    spark: SparkSession | None = None,
) -> LazyFrame:
    """polars pl.datetime_range as a one-column frame.  ``interval`` is a
    polars duration string; ``closed`` in left/right/both/none.

    Scale design: the grid is spark.range over the step count with
    ts = start + id*interval computed per row — generated distributed, NOT a
    single-row sequence() explode, so a billion-point range parallelizes."""
    import datetime as _dt

    from ._fmt import parse_polars_duration_us

    if isinstance(start, str):
        start = _dt.datetime.fromisoformat(start)
    if isinstance(end, str):
        end = _dt.datetime.fromisoformat(end)
    step_us = parse_polars_duration_us(interval)
    if step_us <= 0:
        raise ValueError(f"interval={interval!r} must be positive")
    if closed not in ("left", "right", "both", "none"):
        raise ValueError(f"closed={closed!r} must be left/right/both/none")
    start_us = int(start.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    end_us = int(end.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    if end_us < start_us:
        raise ValueError("end must be >= start")
    n = (end_us - start_us) // step_us  # index of last grid point <= end
    lo = 1 if closed in ("right", "none") else 0
    hi = n + 1
    if closed in ("left", "none") and start_us + n * step_us == end_us:
        hi = n  # drop the end point only if it lies exactly on the grid
    s = _spark(spark)
    return LazyFrame(
        s.range(lo, hi).select(
            F.timestamp_micros((F.lit(start_us) + F.col("id") * F.lit(step_us))).alias(name)
        )
    )


def date_range(
    start, end, interval: str = "1d", closed: str = "both", name: str = "date",
    spark: SparkSession | None = None,
) -> LazyFrame:
    """polars pl.date_range: datetime_range cast to date."""
    lf = datetime_range(start, end, interval, closed, name, spark)
    return LazyFrame(lf._sdf.select(F.col(name).cast("date").alias(name)))


# -- bucketed tables (co-located joins without a shuffle) --------------------


def write_bucketed(
    frame,
    table: str,
    bucket_by: "str | list[str]",
    num_buckets: int = 32,
    sort_by: "str | list[str] | None" = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Persist a frame as a BUCKETED table: rows are hash-partitioned into
    ``num_buckets`` files per partition on ``bucket_by`` at WRITE time, so
    every later join/aggregation on those keys between same-bucketed tables
    runs WITHOUT a shuffle (plan shows no Exchange — asserted in
    tests/test_bucketed_tables.py).  This is the 100 TB answer for a fact
    table joined on the same key every day: pay the shuffle once at ingest,
    never again.

    ``sort_by`` additionally sorts within buckets (sort-merge joins skip
    the sort too).  Catalyst only uses bucketing through the catalog, hence
    ``saveAsTable`` (a path write cannot carry bucket metadata)."""
    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = sdf.write.format(format).mode(mode).bucketBy(num_buckets, *cols)
    if sort_by is not None:
        s = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*s)
    w.saveAsTable(table)


def read_table(table: str, spark: SparkSession | None = None) -> LazyFrame:
    """Read a catalog table (incl. bucketed ones written by
    :func:`write_bucketed`) as a LazyFrame."""
    return LazyFrame(_spark(spark).table(table))


def repeat(value, n: int, name: str = "repeat", spark: SparkSession | None = None) -> LazyFrame:
    """polars pl.repeat: one column of ``value`` repeated n times —
    spark.range + a literal projection, no driver materialization."""
    if n < 0:
        raise ValueError("n must be >= 0")
    return LazyFrame(_spark(spark).range(int(n)).select(F.lit(value).alias(name)))


def from_numpy(arr, schema: "Sequence[str] | None" = None, spark: SparkSession | None = None) -> DataFrame:
    """polars pl.from_numpy: 2-D array -> frame (columns = schema names or
    column_0..).  Driver-side constructor, test-data sized by design."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 1:
        a = a.reshape(-1, 1)
    if a.ndim != 2:
        raise ValueError("from_numpy needs a 1-D or 2-D array")
    names = list(schema) if schema is not None else [f"column_{i}" for i in range(a.shape[1])]
    if len(names) != a.shape[1]:
        raise ValueError("schema must name every column")
    rows = [tuple(r.tolist()) for r in a]
    return from_records(rows, names, spark=spark)
