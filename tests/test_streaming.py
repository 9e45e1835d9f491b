"""Structured Streaming: file source → watermark → windowed/session aggs →
memory/foreachBatch sinks, driven end-to-end with availableNow triggers."""

import ast
import datetime as dt
import os
import time

import pytest

import polars_net_spark as pl
from polars_net_spark import col
from polars_net_spark.streaming import scan_stream_parquet
from polars_net_spark.streaming import stream as stream_mod
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user", T.StringType(), True),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).write.mode("append").parquet(path)


def _await(query, timeout=60):
    query.awaitTermination(timeout)
    query.stop()


def test_stream_windowed_agg(spark, tmp_path):
    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(
        spark,
        src,
        [
            (base, "a", 1.0),
            (base + dt.timedelta(minutes=10), "a", 2.0),
            (base + dt.timedelta(minutes=40), "a", 4.0),
        ],
    )
    sf = (
        scan_stream_parquet(src, SCHEMA, spark=spark)
        .with_watermark("ts", "1h")
        .group_by_window("ts", every="30m", group_by=["user"])
        .agg(col("v").sum().alias("s"))
    )
    # append+watermark only emits windows the watermark has passed; a one-shot
    # availableNow run ends before that, so assert via complete mode
    q = sf.write_memory("win_out", output_mode="complete")
    _await(q)
    out = {
        (r["window"]["start"].minute, r["user"]): r["s"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert out == {(0, "a"): 3.0, (30, "a"): 4.0}


def test_stream_session_window(spark, tmp_path):
    src = str(tmp_path / "src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(
        spark,
        src,
        [
            (base, "u", 1.0),
            (base + dt.timedelta(minutes=5), "u", 1.0),  # same session (gap 10m)
            (base + dt.timedelta(minutes=60), "u", 1.0),  # new session
        ],
    )
    sf = (
        scan_stream_parquet(src, SCHEMA, spark=spark)
        .with_watermark("ts", "2h")
        .group_by_session("ts", gap="10m", group_by=["user"])
        .agg(col("v").len().alias("n"))
    )
    q = sf.write_memory("sess_out", output_mode="complete")
    _await(q)
    ns = sorted(r["n"] for r in spark.sql("SELECT * FROM sess_out").collect())
    assert ns == [1, 2]


def test_stream_foreach_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, [(dt.datetime(2024, 1, 1), "x", 5.0)])
    seen = []

    def sink(df, epoch_id):
        seen.append(df.count())

    sf = scan_stream_parquet(src, SCHEMA, spark=spark).filter(col("v") > 0)
    q = sf.foreach_batch(sink)
    _await(q)
    assert sum(seen) == 1


def test_stream_requires_streaming_df(spark, people):
    from polars_net_spark.streaming import StreamingFrame

    with pytest.raises(ValueError):
        StreamingFrame(people.spark)


def test_stream_dedup_exact(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    doc_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    base = dt.datetime(2024, 1, 1, 10, 0)
    spark.createDataFrame(
        [
            (base, 1, "hello  world"),
            (base, 2, "Hello world"),      # dup after normalization
            (base, 3, "something else"),
            (base, 4, "hello world "),     # dup after normalization
        ],
        doc_schema,
    ).write.mode("append").parquet(src)
    sf = scan_stream_parquet(src, doc_schema, spark=spark).dedup_exact("text")
    q = sf.write_memory("dedup_out", output_mode="append")
    _await(q)
    rows = spark.sql("SELECT doc_id FROM dedup_out ORDER BY doc_id").collect()
    kept = [r["doc_id"] for r in rows]
    assert len(kept) == 2 and 3 in kept  # one of {1,2,4} + doc 3
    assert "__key__" not in spark.sql("SELECT * FROM dedup_out").columns


def test_stream_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dedup_wm_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(
        spark,
        src,
        [
            (base, "a", 1.0),
            (base + dt.timedelta(minutes=1), "a", 1.0),  # dup key (user, v)
            (base + dt.timedelta(minutes=2), "b", 2.0),
        ],
    )
    sf = (
        scan_stream_parquet(src, SCHEMA, spark=spark)
        .with_watermark("ts", "1h")
        .drop_duplicates_within_watermark(["user", "v"])
    )
    q = sf.write_memory("dedup_wm_out", output_mode="append")
    _await(q)
    rows = spark.sql("SELECT user, v FROM dedup_wm_out").collect()
    assert sorted((r["user"], r["v"]) for r in rows) == [("a", 1.0), ("b", 2.0)]


def test_stream_quality_filter_and_split(spark, tmp_path):
    """Corpus-quality rules and hash splits are pure Column expressions, so
    they compose with Structured Streaming unchanged: stream in documents,
    gate on the Gopher verdict, assign stable splits, sink."""
    from polars_net_spark.llm import gopher_quality_frame, split_by_hash
    from polars_net_spark.streaming import StreamingFrame

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    src = str(tmp_path / "docs_src")
    good = "the cat sat on the mat and that was that with the hat of it again"
    spark.createDataFrame(
        [(0, good), (1, "spark spark spark"), (2, good + " twice over now")],
        doc_schema,
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(doc_schema).parquet(src)
    gated = gopher_quality_frame(stream, min_words=5, min_stop_hits=2)._sdf.filter(
        F.col("passes")
    )
    labeled = split_by_hash(gated.select("doc_id"), "doc_id")._sdf
    q = (
        labeled.writeStream.format("memory")
        .queryName("quality_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    rows = {r["doc_id"]: r["split"] for r in spark.sql("SELECT * FROM quality_stream_out").collect()}
    assert set(rows) == {0, 2}  # doc 1 fails the stopword rule
    assert all(s in ("train", "val", "test") for s in rows.values())


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream equi-join with an event-time bound in the
    join condition (the shape whose state Spark can evict)."""
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    base = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(
        spark,
        left,
        [
            (base, "a", 1.0),
            (base + dt.timedelta(minutes=30), "a", 2.0),
            (base, "b", 5.0),
        ],
    )
    _write_batch(
        spark,
        right,
        [
            (base + dt.timedelta(minutes=5), "a", 10.0),
            (base + dt.timedelta(minutes=60), "a", 20.0),
        ],
    )
    lf = scan_stream_parquet(left, SCHEMA, spark=spark).with_watermark("ts", "1h")
    rf = scan_stream_parquet(right, SCHEMA, spark=spark).with_watermark("ts", "1h")
    out = lf.join_stream(rf, on="user", left_ts="ts", within="15m")
    assert sorted(out._sdf.columns) == ["ts", "ts_right", "user", "v", "v_right"]
    q = out.write_memory("ssj_out")
    _await(q)
    rows = spark.sql("SELECT user, v, v_right FROM ssj_out").collect()
    # only (10:00,a) x (10:05,a) is within 15m; 'b' has no right rows
    assert [(r["user"], r["v"], r["v_right"]) for r in rows] == [("a", 1.0, 10.0)]


def test_stream_stream_join_multi_key_rename(spark, tmp_path):
    left, right = str(tmp_path / "l2"), str(tmp_path / "r2")
    base = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(spark, left, [(base, "a", 1.0)])
    _write_batch(spark, right, [(base, "a", 9.0), (base, "c", 9.0)])
    lf = scan_stream_parquet(left, SCHEMA, spark=spark).with_watermark("ts", "1h")
    rf = scan_stream_parquet(right, SCHEMA, spark=spark).with_watermark("ts", "1h")
    out = lf.join_stream(rf, on=["user"], left_ts="ts", right_ts="ts", within="1m")
    q = out.write_memory("ssj2_out")
    _await(q)
    rows = spark.sql("SELECT * FROM ssj2_out").collect()
    assert len(rows) == 1 and rows[0]["user"] == "a" and rows[0]["v_right"] == 9.0


def test_apply_in_pandas_with_state(spark, tmp_path):
    """Custom stateful operator: per-user running total via
    applyInPandasWithState (GroupState-backed, append mode)."""
    import pandas as pd

    src = str(tmp_path / "state_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    _write_batch(
        spark,
        src,
        [
            (base, "a", 1.0),
            (base + dt.timedelta(minutes=1), "a", 2.0),
            (base, "b", 5.0),
        ],
    )

    def running_total(key, pdfs, state):
        total = state.get[0] if state.exists else 0.0
        n = 0
        for pdf in pdfs:
            total += float(pdf["v"].sum())
            n += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user": [key[0]], "total": [total], "n": [n]})

    sf = scan_stream_parquet(src, SCHEMA, spark=spark).apply_in_pandas_with_state(
        running_total,
        "user string, total double, n long",
        "total double",
        group_by=["user"],
        output_mode="append",
    )
    q = sf.write_memory("state_out")
    _await(q)
    got = {
        r["user"]: (r["total"], r["n"])
        for r in spark.sql("SELECT * FROM state_out").collect()
    }
    assert got == {"a": (3.0, 2), "b": (5.0, 1)}


def test_stream_corpus_prep_ops_compose(spark, tmp_path):
    """The r4 map-only corpus ops (URL canonicalization, masked-LM
    corruption) run unchanged inside a streaming pipeline — pure Column
    math has no batch/stream divide."""
    from polars_net_spark.llm import mask_tokens_frame, url_normalize
    from polars_net_spark.streaming import scan_stream_parquet

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("url", T.StringType(), True),
        ]
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "HTTPS://A.com:443/x?utm_s=1"),
            (2, "one two three four five six seven", "http://b.co.uk/y/"),
        ],
        doc_schema,
    ).write.mode("append").parquet(src)

    stream = scan_stream_parquet(src, schema=doc_schema)
    canon = stream.with_columns(
        pl.Expr(url_normalize(F.col("url"))).alias("url_canonical")
    )
    masked_sdf = mask_tokens_frame(
        canon._sdf, mask_rate=0.4, seed="st"
    )._sdf.join(canon._sdf.select("doc_id", "url_canonical"), "doc_id")
    q = (
        masked_sdf.writeStream.format("memory")
        .queryName("corpus_prep_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    q.stop()
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM corpus_prep_stream").collect()}
    assert rows[1]["url_canonical"] == "https://a.com/x"
    assert rows[2]["url_canonical"] == "http://b.co.uk/y"
    assert rows[1]["n_tokens"] == 6 and rows[1]["n_masked"] >= 1
    assert rows[1]["corrupted"].count("<MASK>") == rows[1]["n_masked"]


def test_stream_static_join_drift(spark, tmp_path):
    """Stream-static equi-join inside a streaming query (the q223 shape):
    a static reference-share table joins onto the stream by bin, a tumbling
    window counts per (window, bin)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "drift_src")
    base = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (base, "u", 1.0),
        (base + dt.timedelta(minutes=5), "u", 1.0),
        (base + dt.timedelta(minutes=10), "u", 9.0),
        (base + dt.timedelta(hours=6), "u", 9.0),
    ]
    _write_batch(spark, src, rows)
    ref = spark.createDataFrame([(0, 0.5), (1, 0.5)], ["bin", "p_ref"])
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).parquet(src)
        .withColumn("bin", F.when(F.col("v") < 5, 0).otherwise(1))
        .join(ref, "bin")
        .groupBy(F.window("ts", "6 hours").alias("w"), "bin")
        .agg(F.count(F.lit(1)).alias("n_cur"), F.first("p_ref").alias("p_ref"))
    )
    q = (
        stream.writeStream.format("memory").queryName("drift_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    q.stop()
    got = {
        (r["w"]["start"].hour, r["bin"]): (r["n_cur"], r["p_ref"])
        for r in spark.table("drift_out").collect()
    }
    assert got == {(0, 0): (2, 0.5), (0, 1): (1, 0.5), (6, 1): (1, 0.5)}


# --- one start path and the local checkpoint manager ------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _starts_outside_helper():
    """``.start()`` calls on a ``writeStream`` chain, and functions that name
    ``writeStream`` and call ``.start()``, outside ``stream.start_stream``."""
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    for sub in ("polars_net_spark", "tools", "examples"):
        for root, _, names in os.walk(os.path.join(ROOT, sub)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    found = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "start"
            ):
                continue
            chain = node.func.value
            while isinstance(chain, (ast.Attribute, ast.Call)):
                if isinstance(chain, ast.Attribute) and chain.attr == "writeStream":
                    found.append((rel, node.lineno))
                    break
                chain = chain.func if isinstance(chain, ast.Call) else chain.value
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if rel == "polars_net_spark/streaming/stream.py" and fn.name == "start_stream":
                continue
            names_ws = any(
                isinstance(n, ast.Attribute) and n.attr == "writeStream" for n in ast.walk(fn)
            )
            starts = [
                n.lineno
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "start"
            ]
            if names_ws and starts:
                found += [(rel, ln) for ln in starts]
    return sorted(set(found))


def test_every_stream_starts_through_the_helper():
    assert _starts_outside_helper() == []


def test_checkpoint_scheme_decision():
    local = stream_mod._local_checkpoint
    assert local("file:/x", None)
    assert local("file:///x/y", "hdfs://nn:8020")
    assert local("/x", "file:///")
    assert local("/x", None)
    assert local(None, "file:///")  # Spark's temp checkpoint
    assert not local("hdfs://nn/x", "file:///")
    assert not local("s3a://b/x", "file:///")
    assert not local("/x", "hdfs://nn:8020")
    assert not local(None, "hdfs://nn:8020")


def _windowed(spark, src):
    return (
        spark.readStream.schema(SCHEMA).parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "user")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def _memory_writer(spark, src, name):
    return _windowed(spark, src).writeStream.format("memory").queryName(name).outputMode("complete")


def _offset_log_manager(q):
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()


def _source_log_manager(q):
    # the file source builds its metadata log on the stream thread, after
    # start() has returned; the log is a private field of the source
    src = q._jsq.streamingQuery().sources().apply(0)
    field = src.getClass().getDeclaredField("metadataLog")
    field.setAccessible(True)
    return field.get(src).fileManager().getClass().getName()


def _table(spark, name):
    return sorted(
        (r["w"]["start"], r["user"], r["s"], r["n"]) for r in spark.table(name).collect()
    )


_BASE = dt.datetime(2024, 1, 1, 10, 0)
_PARTS = [
    [(_BASE, "a", 1.0), (_BASE + dt.timedelta(minutes=40), "b", 2.0)],
    [(_BASE + dt.timedelta(minutes=10), "a", 4.0), (_BASE + dt.timedelta(minutes=50), "b", 8.0)],
    [(_BASE + dt.timedelta(minutes=20), "a", 16.0), (_BASE + dt.timedelta(hours=2), "a", 32.0)],
]


def _one_shot(spark, tmp_path):
    src = str(tmp_path / "all_src")
    for part in _PARTS:
        _write_batch(spark, src, part)
    _await(stream_mod.start_stream(_memory_writer(spark, src, "ckpt_one_shot")))
    return _table(spark, "ckpt_one_shot")


def test_local_checkpoint_uses_filesystem_manager_and_restores_conf(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, _PARTS[0])
    assert spark.conf.get(stream_mod._MANAGER_CONF, None) is None
    q = stream_mod.start_stream(
        _memory_writer(spark, src, "ckpt_fs"), checkpoint=str(tmp_path / "ck")
    )
    _await(q)
    assert _offset_log_manager(q) == stream_mod._FS_MANAGER
    assert _source_log_manager(q) == stream_mod._FS_MANAGER
    assert spark.conf.get(stream_mod._MANAGER_CONF, None) is None
    # a manager class the user set is kept, for the query and the session
    spark.conf.set(stream_mod._MANAGER_CONF, _FC_MANAGER)
    try:
        q = stream_mod.start_stream(
            _memory_writer(spark, src, "ckpt_user"), checkpoint=str(tmp_path / "ck_user")
        )
        _await(q)
        assert _offset_log_manager(q) == _source_log_manager(q) == _FC_MANAGER
        assert spark.conf.get(stream_mod._MANAGER_CONF) == _FC_MANAGER
    finally:
        spark.conf.unset(stream_mod._MANAGER_CONF)


def test_stateful_query_resumes_from_local_checkpoint(spark, tmp_path):
    # one batch per run; the state of batches 0 and 1 is read back from the
    # checkpoint by each restart, and the result is the one-shot run's
    src, ckpt = str(tmp_path / "src"), "file:" + str(tmp_path / "ck")
    for i, part in enumerate(_PARTS):
        _write_batch(spark, src, part)
        q = stream_mod.start_stream(_memory_writer(spark, src, "ckpt_resume"), checkpoint=ckpt)
        _await(q)
        assert q.lastProgress["batchId"] == i
    assert _table(spark, "ckpt_resume") == _one_shot(spark, tmp_path)


def test_filecontext_checkpoint_resumes_under_filesystem_manager(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    _write_batch(spark, src, _PARTS[0])
    _write_batch(spark, src, _PARTS[1])
    # written by Spark's default manager: a start that bypasses the helper
    q = (
        _memory_writer(spark, src, "ckpt_migrate")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    assert _offset_log_manager(q) == _FC_MANAGER
    _write_batch(spark, src, _PARTS[2])
    q = stream_mod.start_stream(_memory_writer(spark, src, "ckpt_migrate"), checkpoint=ckpt)
    _await(q)
    assert _offset_log_manager(q) == stream_mod._FS_MANAGER
    assert q.lastProgress["batchId"] == 1
    assert _table(spark, "ckpt_migrate") == _one_shot(spark, tmp_path)


def test_a_start_inside_another_start_gets_the_manager(spark, tmp_path):
    # the second start begins while the first holds the temporary conf and
    # calls the writer's start() only after the first has ended; without
    # the start lock it would take the conf for a user's and start after
    # the first start's unset, under Spark's default manager
    import threading

    from pyspark.sql.streaming import DataStreamWriter

    class SlowStart(DataStreamWriter):
        def start(self, *args, **kwargs):
            time.sleep(0.5)
            return super().start(*args, **kwargs)

    src = str(tmp_path / "src")
    _write_batch(spark, src, _PARTS[0])
    managers, errors = {}, []

    def run(i, writer):
        try:
            q = stream_mod.start_stream(writer, checkpoint=str(tmp_path / f"ck{i}"))
            _await(q)
            managers[i] = _offset_log_manager(q)
        except Exception as exc:  # reported by the assertion below
            errors.append(exc)

    first = threading.Thread(target=run, args=(0, _memory_writer(spark, src, "ckpt_first")))
    slow = SlowStart(_windowed(spark, src))
    second = threading.Thread(
        target=run,
        args=(1, slow.format("memory").queryName("ckpt_second").outputMode("complete")),
    )
    first.start()
    deadline = time.monotonic() + 60
    while spark.conf.get(stream_mod._MANAGER_CONF, None) is None and first.is_alive():
        assert time.monotonic() < deadline
        time.sleep(0.001)
    second.start()
    first.join(timeout=120)
    second.join(timeout=120)
    assert not first.is_alive() and not second.is_alive()
    assert errors == []
    assert managers == {0: stream_mod._FS_MANAGER, 1: stream_mod._FS_MANAGER}
    assert spark.conf.get(stream_mod._MANAGER_CONF, None) is None
