"""Tests for streaming_upsert_sink / read_upsert_target (q267)."""

import datetime as dt
import os
import tempfile

import pytest

from polars_net_spark.streaming.stream import (
    read_upsert_target,
    streaming_upsert_sink,
    upsert_snapshot_schema,
)


def _stage(spark, tmpdir, n_files):
    rows = [
        ("u1", dt.datetime(2024, 1, 1, 0, 0), 1, "a"),
        ("u1", dt.datetime(2024, 1, 1, 0, 5), 2, "b"),
        ("u2", dt.datetime(2024, 1, 1, 0, 1), 3, "c"),
        ("u1", dt.datetime(2024, 1, 1, 0, 5), 4, "d"),  # ts tie: event_id wins
        ("u2", dt.datetime(2024, 1, 1, 0, 0), 5, "e"),  # older: loses
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, eid long, v string")
    src = os.path.join(tmpdir, f"src{n_files}")
    df.repartition(n_files).write.mode("overwrite").parquet(src)
    return src, df.schema


def _run(spark, src, schema, tmpdir, tag, files_per_trigger):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    target = os.path.join(tmpdir, f"target_{tag}")
    ckpt = os.path.join(tmpdir, f"ckpt_{tag}")
    q = streaming_upsert_sink(
        stream, target, keys="u", order_by="ts", tie_cols=["eid"],
        checkpoint=ckpt,
    )
    q.awaitTermination(120)
    q.stop()
    return sorted(read_upsert_target(spark, target).collect().rows())


class TestStreamingUpsert:
    def test_latest_row_wins_with_tiebreak(self, spark, tmp_path):
        src, schema = _stage(spark, str(tmp_path), 3)
        out = _run(spark, src, schema, str(tmp_path), "a", 1)
        assert out == [
            ("u1", dt.datetime(2024, 1, 1, 0, 5), 4, "d"),
            ("u2", dt.datetime(2024, 1, 1, 0, 1), 3, "c"),
        ]

    def test_batching_independent(self, spark, tmp_path):
        src, schema = _stage(spark, str(tmp_path), 4)
        one = _run(spark, src, schema, str(tmp_path), "one", 1)
        allb = _run(spark, src, schema, str(tmp_path), "all", 100)
        assert one == allb

    def test_versioned_snapshots_exist(self, spark, tmp_path):
        src, schema = _stage(spark, str(tmp_path), 2)
        _run(spark, src, schema, str(tmp_path), "v", 1)
        target = os.path.join(str(tmp_path), "target_v")
        versions = [d for d in os.listdir(target) if d.startswith("v")]
        assert len(versions) == 2  # both retained (retain_versions=2)

    def test_superseded_snapshots_pruned(self, spark, tmp_path):
        # 4 files x 1-per-trigger -> 4 micro-batches; only the newest 2
        # snapshot dirs survive, and the converged result is unchanged
        src, schema = _stage(spark, str(tmp_path), 4)
        out = _run(spark, src, schema, str(tmp_path), "p", 1)
        target = os.path.join(str(tmp_path), "target_p")
        versions = sorted(
            int(d[1:]) for d in os.listdir(target) if d.startswith("v")
        )
        # >=3 micro-batches ran, but only the newest 2 snapshots survive
        assert len(versions) == 2 and versions[-1] >= 2
        assert out == [
            ("u1", dt.datetime(2024, 1, 1, 0, 5), 4, "d"),
            ("u2", dt.datetime(2024, 1, 1, 0, 1), 3, "c"),
        ]

    def test_hadoop_fs_scheme_target(self, spark, tmp_path):
        # target_dir as a file:/ URI — os.listdir would not resolve this
        # reliably; the Hadoop FileSystem discovery path must
        src, schema = _stage(spark, str(tmp_path), 3)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        target = "file:" + os.path.join(str(tmp_path), "target_uri")
        q = streaming_upsert_sink(
            stream, target, keys="u", order_by="ts", tie_cols=["eid"],
            checkpoint=os.path.join(str(tmp_path), "ckpt_uri"),
        )
        q.awaitTermination(120)
        q.stop()
        out = sorted(read_upsert_target(spark, target).collect().rows())
        assert out == [
            ("u1", dt.datetime(2024, 1, 1, 0, 5), 4, "d"),
            ("u2", dt.datetime(2024, 1, 1, 0, 1), 3, "c"),
        ]

    def test_one_aggregate_and_no_schema_job_per_batch(self, spark, tmp_path):
        # 3 micro-batches, the last two over a parent snapshot: each batch
        # is one aggregate + write, and the parent is read with the rows'
        # schema instead of a schema-inference job.  Jobs are counted from
        # every thread: the micro-batches run on the stream's own thread.
        src, schema = _stage(spark, str(tmp_path), 3)
        ctx = spark.sparkContext._jsc.sc()

        def newest_job():
            ctx.listenerBus().waitUntilEmpty()
            it = ctx.statusStore().jobsList(None).iterator()  # newest first
            return it.next().jobId() if it.hasNext() else -1

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        target = os.path.join(str(tmp_path), "target_jobs")
        before = newest_job()
        q = streaming_upsert_sink(
            stream, target, keys="u", order_by="ts", tie_cols=["eid"],
            checkpoint=os.path.join(str(tmp_path), "ckpt_jobs"),
        )
        q.awaitTermination(120)
        q.stop()
        jobs = newest_job() - before
        assert q.lastProgress["batchId"] == 2  # batches 0, 1 and 2 ran
        # per batch: the aggregate's shuffle-map job and the write job
        assert jobs == 2 * 3
        out = sorted(read_upsert_target(spark, target).collect().rows())
        assert out == [
            ("u1", dt.datetime(2024, 1, 1, 0, 5), 4, "d"),
            ("u2", dt.datetime(2024, 1, 1, 0, 1), 3, "c"),
        ]


def test_read_with_snapshot_schema_submits_no_job(spark, tmp_path):
    # the schema the sink writes its snapshots with: no footer-inference job
    # before the action; without it parquet infers the schema in one job
    src, schema = _stage(spark, str(tmp_path), 2)
    stream = spark.readStream.schema(schema).parquet(src).select("v", "ts", "u", "eid")
    target = os.path.join(str(tmp_path), "target_schema")
    q = streaming_upsert_sink(
        stream, target, keys="u", order_by="ts", tie_cols=["eid"],
        checkpoint=os.path.join(str(tmp_path), "ckpt_schema"),
    )
    q.awaitTermination(120)
    q.stop()
    ctx = spark.sparkContext._jsc.sc()

    def newest_job():
        ctx.listenerBus().waitUntilEmpty()
        it = ctx.statusStore().jobsList(None).iterator()  # newest first
        return it.next().jobId() if it.hasNext() else -1

    before = newest_job()
    declared = read_upsert_target(spark, target, upsert_snapshot_schema(stream, "u"))
    assert newest_job() == before
    inferred = read_upsert_target(spark, target)
    assert newest_job() == before + 1
    assert declared.columns == inferred.columns == ["u", "v", "ts", "eid"]
    assert sorted(declared.collect().rows()) == sorted(inferred.collect().rows()) == [
        ("u1", "d", dt.datetime(2024, 1, 1, 0, 5), 4),
        ("u2", "c", dt.datetime(2024, 1, 1, 0, 1), 3),
    ]
