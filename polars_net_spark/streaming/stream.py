"""Structured Streaming surface (SURVEY §2.11, §7.2 phase 7).

The reference's "streaming" is out-of-core batch + Arrow batch pipelines
(native_shim/src/lazy.rs:330-341, io.rs:392-479) — Spark's default execution
model already covers that (``LazyFrame.collect_streaming``).  This module is
the *net-new* true-streaming layer for unbounded sources: watermarks, windowed
and session aggregations, stateful processing, and batch-callback sinks.

Scale notes: every aggregation here is keyed (hash-partitioned state), the
watermark bounds state size, and ``foreach_batch`` receives DataFrames (never
driver-side rows).

Every query starts through :func:`start_stream`.  Structured Streaming
commits each micro-batch through its checkpoint: offset, commit and source
logs and state-store delta files are each written to a temp file and
renamed into place.  Spark's default checkpoint manager renames through
Hadoop ``FileContext``, and on the local filesystem without the native
``libhadoop`` library ``FileContext`` resolves every rename's source and
target by forking a ``readlink`` process.  When the
checkpoint resolves to the ``file`` scheme, :func:`start_stream` starts the
query with Spark's ``FileSystemBasedCheckpointFileManager`` instead, which
renames through ``FileSystem.rename`` and forks nothing.  On the local
filesystem both managers make the same non-atomic "does the target exist?"
check before an atomic rename(2), so nothing is weakened.  Other schemes
keep Spark's default: on HDFS ``FileContext``'s rename-with-overwrite is
atomic, while the FileSystem manager would silently keep an existing
target.
"""

from __future__ import annotations

import threading
import time
from typing import Any, Callable, Mapping, Sequence
from urllib.parse import urlsplit

from pyspark.sql import Column, DataFrame as SparkDF, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from .._fmt import duration_to_interval
from ..exprs import Expr, _c
from ..frame import LazyFrame, _as_cols, _flatten

__all__ = [
    "StreamingFrame",
    "scan_stream_parquet",
    "scan_stream_csv",
    "scan_stream_rate",
    "streaming_jdbc_sink",
]

_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
# one start at a time, so no start reads another's temporary manager class
_START_LOCK = threading.Lock()
# a query's status message until its stream thread has built the sources
_INIT_MESSAGES = ("Initializing StreamExecution", "Initializing sources")
_INIT_WAIT_S = 30.0


def _local_checkpoint(location: "str | None", default_fs: "str | None") -> bool:
    """Whether a checkpoint at ``location`` lives on the ``file`` scheme: its
    own URI scheme, or ``default_fs``'s when it has none or is None (Spark
    makes a temp checkpoint).  A pure URI check; no filesystem is built."""
    scheme = urlsplit(location).scheme if location else ""
    if not scheme:
        scheme = urlsplit(default_fs or "file:///").scheme
    return scheme.lower() == "file"


def start_stream(
    writer: DataStreamWriter,
    checkpoint: "str | None" = None,
    trigger: "Mapping[str, Any] | None" = None,
) -> StreamingQuery:
    """Start ``writer``'s query; every query the engine starts goes through
    here.  The trigger defaults to ``availableNow``.  Pass the checkpoint as
    ``checkpoint``, not as a writer option: its scheme is read from it.

    The effective checkpoint is ``checkpoint``, else the session's
    ``spark.sql.streaming.checkpointLocation`` root, else Spark's temp
    checkpoint; one without a scheme resolves against ``fs.defaultFS``.
    When it is on the ``file`` scheme (why only ``file``: see the module
    docstring), ``spark.sql.streaming.checkpointFileManagerClass`` is set
    to Spark's FileSystem-based manager for the start and unset after it.
    The offset and commit logs are built inside ``start()``, and the
    query's cloned session, which writes the state stores, keeps the
    manager.  The sources' metadata logs are built on the stream thread
    after ``start()`` returns, so the start also waits, at most
    ``_INIT_WAIT_S``, until the query's status leaves its initializing
    messages.  A manager class the user set in the session is left alone.
    A lock serializes the starts made here, so none sees another's
    temporary value; a ``writeStream.start()`` made elsewhere on the same
    session while one runs would see it too."""
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    spark = writer._spark
    with _START_LOCK:
        location = checkpoint or spark.conf.get("spark.sql.streaming.checkpointLocation", None)
        default_fs = spark.conf.get("fs.defaultFS", None) or (
            spark._jsc.hadoopConfiguration().get("fs.defaultFS")
        )
        if spark.conf.get(_MANAGER_CONF, None) or not _local_checkpoint(location, default_fs):
            return writer.start()
        spark.conf.set(_MANAGER_CONF, _FS_MANAGER)
        try:
            q = writer.start()
            deadline = time.monotonic() + _INIT_WAIT_S
            while (
                q.isActive
                and q.status["message"] in _INIT_MESSAGES
                and time.monotonic() < deadline
            ):
                time.sleep(0.002)
            return q
        finally:
            spark.conf.unset(_MANAGER_CONF)


def _spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession")
    return s


def scan_stream_parquet(
    path: str, schema, spark: SparkSession | None = None, max_files_per_trigger: int | None = None
) -> "StreamingFrame":
    """Unbounded parquet directory source (files appear over time)."""
    reader = _spark(spark).readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return StreamingFrame(reader.parquet(path))


def scan_stream_csv(
    path: str, schema, spark: SparkSession | None = None, header: bool = True
) -> "StreamingFrame":
    reader = _spark(spark).readStream.schema(schema).option("header", str(header).lower())
    return StreamingFrame(reader.csv(path))


def scan_stream_rate(rows_per_second: int = 100, spark: SparkSession | None = None) -> "StreamingFrame":
    """Synthetic benchmark source (columns: timestamp, value)."""
    return StreamingFrame(
        _spark(spark).readStream.format("rate").option("rowsPerSecond", str(rows_per_second)).load()
    )


class StreamingFrame:
    """Unbounded LazyFrame analogue: same transformation surface, streaming
    execution via ``write_*`` / ``foreach_batch`` terminal ops."""

    def __init__(self, sdf: SparkDF):
        if not sdf.isStreaming:
            raise ValueError("StreamingFrame needs a streaming DataFrame")
        self._sdf = sdf

    # -- transformations (shared idiom with LazyFrame) ----------------------
    def select(self, *exprs) -> "StreamingFrame":
        return StreamingFrame(self._sdf.select(*_as_cols(_flatten(exprs))))

    def with_columns(self, *exprs, **named) -> "StreamingFrame":
        lf = LazyFrame(self._sdf).with_columns(*exprs, **named)
        return StreamingFrame(lf._sdf)

    def filter(self, *predicates) -> "StreamingFrame":
        from functools import reduce

        pred = reduce(lambda a, b: a & b, [_c(p) for p in _flatten(predicates)])
        return StreamingFrame(self._sdf.filter(pred))

    def with_watermark(self, ts_col: str, delay: str) -> "StreamingFrame":
        """Late-data bound; polars-style duration ("10m")."""
        return StreamingFrame(self._sdf.withWatermark(ts_col, duration_to_interval(delay)))

    def group_by_window(
        self,
        ts_col: str,
        every: str,
        period: str | None = None,
        group_by: Sequence[str] = (),
    ) -> "StreamingGroupBy":
        """Tumbling (period=None) or sliding windowed grouping — the streaming
        twin of LazyFrame.group_by_dynamic."""
        win = F.window(
            F.col(ts_col),
            duration_to_interval(period or every),
            duration_to_interval(every),
        )
        keys = [win.alias("window"), *[F.col(k) for k in group_by]]
        return StreamingGroupBy(self._sdf, keys)

    def group_by_session(
        self, ts_col: str, gap: str, group_by: Sequence[str] = ()
    ) -> "StreamingGroupBy":
        """Session windows: events within ``gap`` of each other merge."""
        win = F.session_window(F.col(ts_col), duration_to_interval(gap))
        keys = [win.alias("session"), *[F.col(k) for k in group_by]]
        return StreamingGroupBy(self._sdf, keys)

    def group_by(self, *keys) -> "StreamingGroupBy":
        return StreamingGroupBy(self._sdf, [F.col(k) if isinstance(k, str) else _c(k) for k in _flatten(keys)])

    # -- streaming dedup -----------------------------------------------------
    def drop_duplicates(self, subset: Sequence[str] | None = None) -> "StreamingFrame":
        """Streaming exact dedup on ``subset`` (default: all columns).

        WARNING: without a watermark the dedup state grows without bound —
        on a continuous 100 TB/day feed use
        :meth:`drop_duplicates_within_watermark` so state is evicted."""
        sdf = self._sdf.dropDuplicates(list(subset)) if subset else self._sdf.dropDuplicates()
        return StreamingFrame(sdf)

    def drop_duplicates_within_watermark(
        self, subset: Sequence[str] | None = None
    ) -> "StreamingFrame":
        """Exact dedup with state bounded by the event-time watermark:
        duplicates arriving within the watermark delay are dropped, older
        state is evicted.  Requires :meth:`with_watermark` upstream."""
        sdf = (
            self._sdf.dropDuplicatesWithinWatermark(list(subset))
            if subset
            else self._sdf.dropDuplicatesWithinWatermark()
        )
        return StreamingFrame(sdf)

    def dedup_exact(
        self,
        text_col: str = "text",
        normalize: bool = True,
        within_watermark: bool = False,
    ) -> "StreamingFrame":
        """Streaming twin of ``llm.dedup_exact``: first-seen wins per
        identical (normalized) content.  The dedup key is md5(text), so
        per-row state is 16 bytes + offsets no matter how large documents
        are; set ``within_watermark=True`` (with a watermark upstream) to
        bound state on continuous feeds."""
        text = F.col(text_col)
        if normalize:
            text = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
        keyed = self._sdf.withColumn("__key__", F.md5(text))
        out = (
            keyed.dropDuplicatesWithinWatermark(["__key__"])
            if within_watermark
            else keyed.dropDuplicates(["__key__"])
        )
        return StreamingFrame(out.drop("__key__"))

    # -- stream-stream joins -------------------------------------------------
    def join_stream(
        self,
        other: "StreamingFrame",
        on: str | Sequence[str],
        left_ts: str,
        right_ts: str | None = None,
        within: str = "10m",
        how: str = "inner",
    ) -> "StreamingFrame":
        """Stream-stream equi-join bounded by event time: rows match when the
        keys are equal AND ``|left_ts - right_ts| <= within``.

        The time bound is part of the JOIN CONDITION (not a post-filter) —
        that is what lets Spark derive the state-eviction horizon from the
        two watermarks, so join state stays bounded on an unbounded feed.
        Both inputs need :meth:`with_watermark` upstream (Spark enforces this
        for outer modes; without it an inner join's state grows forever).

        Right-side columns whose names collide with the left get the library's
        ``_right`` suffix; for inner joins the (equal) right key copies are
        dropped, matching LazyFrame.join naming.
        """
        from functools import reduce

        keys = [on] if isinstance(on, str) else list(on)
        rts = right_ts or left_ts
        r = other._sdf
        renames: dict[str, str] = {}
        for c in r.columns:
            if c in self._sdf.columns:
                renames[c] = c + "_right"
                r = r.withColumnRenamed(c, c + "_right")
        rts = renames.get(rts, rts)
        iv = duration_to_interval(within)
        cond = reduce(
            lambda a, b: a & b,
            [F.col(k) == F.col(renames.get(k, k)) for k in keys],
        )
        tcond = (F.col(rts) >= F.col(left_ts) - F.expr(f"INTERVAL {iv}")) & (
            F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {iv}")
        )
        joined = self._sdf.join(r, cond & tcond, how)
        if how == "inner":
            joined = joined.drop(
                *[renames[k] for k in keys if k in renames]
            )
        return StreamingFrame(joined)

    # -- stateful custom ops -------------------------------------------------
    def apply_in_pandas_with_state(
        self,
        fn: Callable,
        output_schema,
        state_schema,
        group_by: Sequence[str],
        output_mode: str = "append",
        timeout: str = "NoTimeout",
    ) -> "StreamingFrame":
        """Arbitrary per-key stateful processing (applyInPandasWithState):
        ``fn(key, pdf_iter, state) -> iter[pd.DataFrame]``."""
        grouped = self._sdf.groupBy(*[F.col(k) for k in group_by])
        out = grouped.applyInPandasWithState(fn, output_schema, state_schema, output_mode, timeout)
        return StreamingFrame(out)

    # -- sinks ---------------------------------------------------------------
    def write_parquet(
        self,
        path: str,
        checkpoint: str,
        trigger: Mapping[str, Any] | None = None,
        output_mode: str = "append",
    ):
        w = self._sdf.writeStream.format("parquet").option("path", path).outputMode(output_mode)
        return start_stream(w, checkpoint, trigger)

    def write_memory(self, table_name: str, output_mode: str = "append", trigger=None):
        w = self._sdf.writeStream.format("memory").queryName(table_name).outputMode(output_mode)
        return start_stream(w, trigger=trigger)

    def foreach_batch(self, fn: Callable[[SparkDF, int], None], checkpoint: str | None = None, trigger=None):
        """Batch-callback sink — the streaming twin of the reference's
        map_batches/export_batches sink (io.rs:567-657)."""
        return start_stream(self._sdf.writeStream.foreachBatch(fn), checkpoint, trigger)


class StreamingGroupBy:
    def __init__(self, sdf: SparkDF, keys: list[Column]):
        self._sdf = sdf
        self._keys = keys

    def agg(self, *aggs, **named) -> StreamingFrame:
        agg_cols = [_c(a) for a in _flatten(aggs)] + [_c(a).alias(n) for n, a in named.items()]
        return StreamingFrame(self._sdf.groupBy(*self._keys).agg(*agg_cols))


def _snapshot_versions(spark: SparkSession, target_dir: str) -> "list[int]":
    """Versioned-snapshot ids under ``target_dir`` (dirs named ``v<int>``),
    discovered through the Hadoop FileSystem API so hdfs:// / s3a:// /
    file:/ targets all work — never the driver-local os.listdir."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(target_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def streaming_upsert_sink(
    stream: "StreamingFrame | SparkDF",
    target_dir: str,
    keys: "Sequence[str] | str",
    order_by: str,
    tie_cols: "Sequence[str] | None" = None,
    checkpoint: "str | None" = None,
    trigger=None,
    retain_versions: int = 2,
):
    """CDC-style streaming UPSERT materialization (SCD1): a foreachBatch
    sink that keeps, per key, the row with the greatest (``order_by``,
    ``tie_cols``) — the streaming twin of merge_into's
    when_matched_update-by-recency.  The final table is BATCHING-INDEPENDENT
    by construction: per-key max is associative/commutative, so however the
    file source slices micro-batches (or retries one), the converged state
    is the same — the property a real CDC pipeline needs when the source
    replays.

    (``order_by``, ``tie_cols``) must be per-key unique for a deterministic
    winner (version stamp + change id, here ts + event id); payload columns
    travel inside max_by's value struct and are never compared, so maps and
    other unorderable types are fine.  Each batch writes a NEW versioned
    snapshot dir ``v<batch_id>``: one per-key aggregate over the latest
    snapshot with version < batch_id plus the batch's rows — a retried batch
    re-reads the same parent snapshot and overwrites its own output
    (idempotent recovery).
    Read the converged table with :func:`read_upsert_target`.  At 100 TB
    swap the snapshot rewrite for a storage layer with real MERGE
    (Delta/Iceberg); the foreachBatch shape and winner logic are identical.

    Snapshot discovery goes through the Hadoop FileSystem API, so
    ``target_dir`` may live on ANY Hadoop-supported store (hdfs://, s3a://,
    file:/...), not just the driver's local POSIX filesystem — an os.listdir
    here would silently see nothing on a remote store and drop all prior
    upsert state.  After each successful snapshot write, versions older than
    the newest ``retain_versions`` are pruned (keep >= 2 so a concurrent
    reader of the previous snapshot never loses its files mid-scan; raise it
    for longer reader windows or time travel).

    Returns the started StreamingQuery."""
    sdf = stream._sdf if isinstance(stream, StreamingFrame) else stream
    key_list = [keys] if isinstance(keys, str) else list(keys)
    order = [order_by] + list(tie_cols or [])
    payload = [c for c in sdf.columns if c not in key_list]
    snapshot_schema = upsert_snapshot_schema(sdf, key_list)

    def _winner(df):
        val = F.struct(*[F.col(c) for c in payload])
        ordc = F.struct(*[F.col(c) for c in order])
        agg = df.groupBy(*key_list).agg(F.max_by(val, ordc).alias("__w__"))
        return agg.select(
            *key_list, *[F.col(f"__w__.{c}").alias(c) for c in payload]
        )

    keep = max(2, int(retain_versions))

    def _apply(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        rows = batch_df.select(*key_list, *payload)
        versions = _snapshot_versions(spark, target_dir)
        prior = [v for v in versions if v < int(batch_id)]
        if prior:
            # one aggregate over parent + batch: per-key max_by is
            # associative, so the winners are the two-step ones; the
            # declared schema skips parquet's schema-inference job
            parent = spark.read.schema(snapshot_schema).parquet(
                f"{target_dir.rstrip('/')}/v{max(prior)}"
            )
            rows = parent.unionByName(rows)
        _winner(rows).write.mode("overwrite").parquet(
            f"{target_dir.rstrip('/')}/v{int(batch_id)}"
        )
        # prune superseded snapshots (all but the newest `keep`, which now
        # includes the one just written) — a retried batch never needs a
        # parent older than its immediate predecessor
        survivors = sorted(set(prior + [int(batch_id)]))[:-keep]
        if survivors:
            jvm = spark._jvm
            fs = jvm.org.apache.hadoop.fs.Path(target_dir).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            for v in survivors:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{target_dir.rstrip('/')}/v{v}"),
                    True,
                )

    return start_stream(sdf.writeStream.foreachBatch(_apply), checkpoint, trigger)


def upsert_snapshot_schema(stream: "StreamingFrame | SparkDF", keys: "Sequence[str] | str"):
    """The schema of :func:`streaming_upsert_sink`'s snapshots for ``stream``
    and ``keys``: the keys, then every other column.  Spark reads a declared
    file schema with every field nullable, as its parquet writer stored it."""
    sdf = stream._sdf if isinstance(stream, StreamingFrame) else stream
    key_list = [keys] if isinstance(keys, str) else list(keys)
    return sdf.select(*key_list, *[c for c in sdf.columns if c not in key_list]).schema


def read_upsert_target(spark: SparkSession, target_dir: str, schema=None) -> LazyFrame:
    """The converged table from :func:`streaming_upsert_sink` — the highest
    versioned snapshot (discovered via the Hadoop FileSystem API, so remote
    stores work).  With ``schema`` (:func:`upsert_snapshot_schema`) the read
    submits no job; without it parquet infers the schema from the footers
    in one job."""
    vs = _snapshot_versions(spark, target_dir)
    if not vs:
        raise ValueError(f"no snapshots under {target_dir}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return LazyFrame(reader.parquet(f"{target_dir.rstrip('/')}/v{max(vs)}"))


def streaming_jdbc_sink(
    stream: "StreamingFrame | SparkDF",
    url: str,
    table: str,
    checkpoint: "str | None" = None,
    properties: "Mapping[str, str] | None" = None,
    batch_size: "int | None" = None,
    num_partitions: "int | None" = None,
    trigger=None,
    batch_id_col: "str | None" = "batch_id",
):
    """Streaming → DB export: the reference's SinkTo pipeline IS a streaming
    DB sink (Polars.FSharp/Types.fs:1395-1444 drives ArrowToDbStream.cs:10-50
    through a producer/consumer channel) — here each micro-batch bulk-inserts
    into the JDBC table through :meth:`LazyFrame.sink_jdbc`'s per-partition
    parallel append path, so the export parallelizes across executors
    instead of the reference's single writer stream.

    Idempotent retries: with ``batch_id_col`` set (default ``batch_id``),
    every row is stamped with its micro-batch id and each batch DELETEs its
    own id before inserting — a retried/replayed batch (the at-least-once
    contract of foreachBatch) converges to exactly-once table contents, the
    delete-then-insert pattern real CDC exporters use.  Set
    ``batch_id_col=None`` for plain at-least-once append (lets the DB own
    dedup via constraints).  The DELETE runs driver-side over one JDBC
    connection; the INSERT fan-out is per-partition on executors.

    The exactly-once contract is FAIL-LOUD: the only DELETE "failure" that
    is ever skipped is the table not existing yet (probed via
    ``DatabaseMetaData.getTables`` BEFORE issuing the DELETE — the first
    batch creates the table through the append).  Any real DELETE error
    (connection refused, lock timeout, permission revoked, type mismatch)
    propagates and FAILS the micro-batch, so Structured Streaming retries
    it from the checkpoint instead of silently inserting a duplicate copy
    of a replayed batch.  ``table`` and ``batch_id_col`` are validated as
    plain identifiers up front, and the DELETE quotes the column with the
    driver's own identifier quote string (dialect-correct on backtick
    engines like MySQL, not just ANSI double-quote).

    100 TB: state is the DB's problem here — the sink itself holds none;
    size ``num_partitions`` to what the DB endpoint can absorb as concurrent
    connections, and ``batch_size`` to its bulk-insert sweet spot.

    Returns the started StreamingQuery."""
    sdf = stream._sdf if isinstance(stream, StreamingFrame) else stream
    import re as _re

    _ident = _re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)?$")
    if not _ident.match(table):
        raise ValueError(
            f"streaming_jdbc_sink: table {table!r} is not a plain "
            "[schema.]identifier — refusing to interpolate it into SQL"
        )
    if batch_id_col is not None and not _re.match(
        r"^[A-Za-z_][A-Za-z0-9_$]*$", batch_id_col
    ):
        raise ValueError(
            f"streaming_jdbc_sink: batch_id_col {batch_id_col!r} is not a "
            "plain identifier"
        )

    def _table_exists(conn, md) -> bool:
        # getTables stores case per-dialect (Derby/Postgres fold differently)
        schema, _, name = table.rpartition(".")
        cands = {(schema or None, name)}
        cands.add(((schema or None) and schema.upper(), name.upper()))
        cands.add(((schema or None) and schema.lower(), name.lower()))
        for s, n in cands:
            rs = md.getTables(None, s, n, None)
            try:
                if rs.next():
                    return True
            finally:
                rs.close()
        return False

    def _delete_batch(spark, batch_id: int) -> None:
        jvm = spark._jvm
        props = dict(properties or {})
        user, pw = props.get("user"), props.get("password")
        if user is not None:
            conn = jvm.java.sql.DriverManager.getConnection(url, user, pw or "")
        else:
            conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            md = conn.getMetaData()
            if not _table_exists(conn, md):
                # ONLY skippable case: first batch — append creates the table
                return
            q = md.getIdentifierQuoteString() or '"'
            if q == " ":  # JDBC spec: a single space means "no quoting"
                q = ""
            st = conn.createStatement()
            try:
                # any failure here propagates → the micro-batch fails and is
                # RETRIED from the checkpoint (never insert-after-failed-delete,
                # which would duplicate a replayed batch)
                st.executeUpdate(
                    f"DELETE FROM {table} WHERE {q}{batch_id_col}{q} = {int(batch_id)}"
                )
            finally:
                st.close()
        finally:
            conn.close()

    def _apply(batch_df, batch_id: int):
        out = batch_df
        if batch_id_col is not None:
            out = out.withColumn(batch_id_col, F.lit(int(batch_id)))
            _delete_batch(batch_df.sparkSession, int(batch_id))
        LazyFrame(out).sink_jdbc(
            url,
            table,
            mode="append",
            properties=properties,
            batch_size=batch_size,
            num_partitions=num_partitions,
        )

    return start_stream(sdf.writeStream.foreachBatch(_apply), checkpoint, trigger)
