"""IO round-trips (reference IOTests.cs:47-91 write→read→compare pattern)."""

import glob
import os

import polars_net_spark as pl
from polars_net_spark import col


def test_parquet_roundtrip(spark, people, tmp_path):
    path = str(tmp_path / "pq")
    people.write_parquet(path)
    back = pl.read_parquet(path, spark=spark)
    assert sorted(back.rows()) == sorted(people.rows())


def test_csv_roundtrip(spark, people, tmp_path):
    path = str(tmp_path / "csv")
    people.write_csv(path)
    back = pl.read_csv(path, spark=spark)
    assert back.height == 3
    assert set(back.columns) == {"name", "age", "salary"}


def test_csv_schema_overrides(spark, tmp_path):
    f = tmp_path / "t.csv"
    f.write_text("a,b\n1,x\n2,y\n")
    lf = pl.scan_csv(str(f), schema_overrides={"a": "i64", "b": "str"}, spark=spark)
    assert dict(lf.dtypes) == {"a": "bigint", "b": "string"}


def test_csv_skip_rows(spark, tmp_path):
    f = tmp_path / "t.csv"
    f.write_text("garbage line\na,b\n1,x\n")
    lf = pl.scan_csv(str(f), skip_rows=1, spark=spark)
    assert lf.columns == ["a", "b"]
    assert lf.collect().height == 1


def test_json_roundtrip(spark, people, tmp_path):
    path = str(tmp_path / "js")
    people.write_json(path)
    back = pl.scan_ndjson(path, spark=spark).collect()
    assert back.height == 3


def test_ipc_roundtrip(spark, people, tmp_path):
    path = str(tmp_path / "f.arrow")
    people.write_ipc(path)
    back = pl.read_ipc(path, spark=spark)
    assert sorted(back.rows()) == sorted(people.rows())


def test_from_arrow_and_pandas(spark):
    import pandas as pd
    import pyarrow as pa

    t = pa.table({"x": [1, 2], "y": ["a", "b"]})
    df = pl.from_arrow(t, spark=spark)
    assert df.height == 2
    pdf = pd.DataFrame({"x": [1.5]})
    assert pl.from_pandas(pdf, spark=spark).rows() == [(1.5,)]


def test_to_arrow_export(people):
    t = people.to_arrow()
    assert t.num_rows == 3
    assert set(t.column_names) == {"name", "age", "salary"}


def test_scan_parquet_pushdown(spark, tmp_path):
    # predicate + projection must reach the parquet scan (SURVEY §4)
    path = str(tmp_path / "pq")
    pl.from_records([(i, float(i), f"s{i}") for i in range(100)], ["id", "v", "s"]).write_parquet(path)
    lf = pl.scan_parquet(path, spark=spark).filter(col("id") > 50).select(col("id"), col("v"))
    plan = lf._sdf._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,50)]" in plan
    assert "ReadSchema: struct<id:bigint,v:double>" in plan


def test_sink_partition_by(spark, people, tmp_path):
    path = str(tmp_path / "part")
    people.lazy().sink_parquet(path, partition_by=["age"])
    assert any("age=" in p for p in os.listdir(path))
    back = pl.scan_parquet(path, spark=spark).collect()
    assert back.height == 3


def test_scan_batches_anonymous_scan(spark):
    import pyarrow as pa

    def factory(partition_idx):
        yield pa.RecordBatch.from_pydict(
            {"p": [partition_idx] * 3, "v": [1.0, 2.0, 3.0]}
        )

    lf = pl.scan_batches(factory, {"p": "i64", "v": "f64"}, num_partitions=4, spark=spark)
    out = lf.collect()
    assert out.height == 12
    # multi-pass: a second action re-invokes the factory
    assert lf.filter(col("p") == 2).collect().height == 3
    agg = lf.select(col("v").sum().alias("s")).collect()
    assert agg.rows()[0][0] == 24.0


def test_register_callback_source(spark):
    def factory(idx):
        yield (idx, f"part{idx}")
        yield (idx, f"part{idx}b")

    lf = pl.register_callback_source(
        "cbsource_test", factory, "p int, tag string", num_partitions=3, spark=spark
    )
    out = lf.collect()
    assert out.height == 6
    assert lf.filter(col("p") == 1).collect().height == 2
    # registered as a real named format too
    again = spark.read.format("cbsource_test").load()
    assert again.count() == 6


def test_hive_partition_pruning(spark, tmp_path):
    """sink with partition_by, read back with a partition-column filter: the
    scan must prune partitions (PartitionFilters in the plan, and only the
    matching directory is listed) — the core 100 TB lever for date-keyed data."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "hive")
    df = pl.from_records(
        [(i, ["a", "b", "c", "d"][i % 4], float(i)) for i in range(400)],
        ["id", "part", "val"],
    )
    df.lazy().sink_parquet(path, partition_by=["part"])

    lf = pl.scan_parquet(path).filter(pl.col("part") == "b")
    sdf = lf._sdf
    sdf.count()
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan
    # only partition b's rows were read, and only its files touched
    assert lf.collect().height == 100
    files = sdf.select(F.input_file_name()).distinct().collect()
    assert all("part=b" in r[0] for r in files)


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC read/write with predicate pushdown reaching the scan."""
    import polars_net_spark as plx

    path = str(tmp_path / "orc_out")
    src = plx.scan_parquet("/root/testdata/sf0.001/nation.parquet")
    src.collect().write_orc(path)
    back = plx.scan_orc(path)
    assert sorted(back.collect().rows()) == sorted(src.collect().rows())
    filtered = back.filter(plx.col("n_regionkey") == 2).select(plx.col("n_name"))
    plan = filtered._sdf._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,2)]" in plan
    assert "ReadSchema: struct<n_name:string,n_regionkey:int>" in plan


def test_orc_partitioned_sink_prunes(spark, tmp_path):
    import polars_net_spark as plx

    path = str(tmp_path / "orc_part")
    src = plx.scan_parquet("/root/testdata/sf0.001/nation.parquet")
    src.sink_orc(path, partition_by=["n_regionkey"])
    back = plx.scan_orc(path).filter(plx.col("n_regionkey") == 1)
    plan = back._sdf._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.collect().height == src.filter(plx.col("n_regionkey") == 1).collect().height


class TestCsvOptionsStructFields:
    def test_csv_null_quote_comment(self, spark, tmp_path):
        import polars_net_spark as pl

        p = str(tmp_path / "opt.csv")
        with open(p, "w") as f:
            f.write("# leading comment\n")
            f.write("a;b;c\n")
            f.write("1;NA;'x;y'\n")
            f.write("MISSING;2;z\n")
        lf = pl.scan_csv(
            p, separator=";", null_values=["NA", "MISSING"],
            quote_char="'", comment_prefix="#",
        )
        rows = lf.collect().rows()
        assert rows[0][1] is None and rows[0][2] == "x;y"
        assert rows[1][0] is None and rows[1][1] == 2

    def test_csv_single_null_and_bad_comment(self, spark, tmp_path):
        import polars_net_spark as pl
        import pytest as _pt

        p = str(tmp_path / "single.csv")
        with open(p, "w") as f:
            f.write("a,b\nNA,1\n")
        lf = pl.scan_csv(p, null_values="NA")
        assert lf.collect().rows()[0][0] is None
        with _pt.raises(ValueError):
            pl.scan_csv(p, comment_prefix="//")

    def test_struct_with_fields(self, spark):
        import polars_net_spark as pl
        from polars_net_spark import col, lit

        sdf = spark.createDataFrame(
            [(1, (2, "x"))], "id long, s struct<a:int, b:string>"
        )
        out = pl.LazyFrame(sdf).select(
            col("s").struct.with_fields(
                (col("id") * 100).alias("c"), a=lit(99)
            ).alias("s2")
        ).spark.collect()[0]["s2"].asDict()
        assert out == {"a": 99, "b": "x", "c": 100}


class TestParquetSchemaEvolution:
    def test_merge_schema(self, spark, tmp_path):
        import polars_net_spark as pl

        a = pl.from_records([(1, "x")], ["id", "s"])
        b = pl.from_records([(2, "y", 9.5)], ["id", "s", "extra"])
        a.write_parquet(str(tmp_path / "p" / "f1"))
        b.write_parquet(str(tmp_path / "p" / "f2"))
        merged = pl.scan_parquet(
            [str(tmp_path / "p" / "f1"), str(tmp_path / "p" / "f2")],
            merge_schema=True,
        ).collect()
        assert "extra" in merged.columns
        rows = {r[0]: r for r in merged.rows()}
        assert rows[1][merged.columns.index("extra")] is None  # evolved col null-filled
        assert rows[2][merged.columns.index("extra")] == 9.5


class TestSinkOptionsPersist:
    def test_sink_parquet_compression_and_file_cap(self, spark, tmp_path):
        import os
        import polars_net_spark as pl

        lf = pl.from_records([(i, float(i)) for i in range(100)], ["a", "b"]).lazy()
        out = str(tmp_path / "z")
        lf.sink_parquet(out, compression="zstd", max_records_per_file=30)
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        assert files and all("zstd" in f for f in files)
        assert pl.read_parquet(out).height == 100

    def test_persist_registers_with_cache_registry(self, spark):
        import polars_net_spark as pl

        before = pl.cached_count()
        d = pl.from_records([(1, 2.0)], ["a", "b"]).lazy().persist()
        assert d.collect().rows() == [(1, 2.0)]
        assert pl.cached_count() == before + 1
        pl.release_caches()
        assert pl.cached_count() == 0


def test_repeat_and_from_numpy(spark):
    import numpy as np
    import polars_net_spark as pl

    assert pl.repeat("x", 3).collect().rows() == [("x",), ("x",), ("x",)]
    assert pl.repeat(1, 0).collect().height == 0
    df = pl.from_numpy(np.array([[1, 2], [3, 4]]), ["a", "b"])
    assert df.rows() == [(1, 2), (3, 4)]
    assert pl.from_numpy(np.array([1.5, 2.5])).columns == ["column_0"]
    import pytest as _pt

    with _pt.raises(ValueError):
        pl.from_numpy(np.zeros((2, 2, 2)))
    with _pt.raises(ValueError):
        pl.from_numpy(np.zeros((2, 2)), ["only"])


def test_scan_csv_bad_lines_policies(spark, tmp_path):
    import polars_net_spark as pl

    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnotanint,5\n3,4\n")
    schema = {"a": "i64", "b": "i64"}
    # PERMISSIVE default: unparseable field nulls out
    perm = pl.scan_csv(str(p), schema_overrides=schema).collect().rows()
    assert sorted(perm, key=str) == sorted([(1, 2), (None, 5), (3, 4)], key=str)
    # DROPMALFORMED: the bad row vanishes
    dropped = pl.scan_csv(str(p), schema_overrides=schema, ignore_errors=True).collect().rows()
    assert sorted(dropped) == [(1, 2), (3, 4)]
    # corrupt-record column captures the raw line
    schema2 = {"a": "i64", "b": "i64", "_bad": "string"}
    kept = pl.scan_csv(
        str(p), schema_overrides=schema2, corrupt_record_col="_bad"
    ).collect().rows()
    bad = [r for r in kept if r[2] is not None]
    assert len(bad) == 1 and bad[0][2].startswith("notanint")


def test_ingestion_keeps_int64_next_to_null(spark):
    """A 64-bit int sharing a column with a null stays an exact bigint on
    every ingestion path (through pandas the column became float64)."""
    import pyarrow as pa

    big = 7891116539625076632
    frames = [
        pl.from_dict({"a": [big, None]}, spark=spark),
        pl.from_dicts([{"a": big}, {"a": None, "b": "x"}], spark=spark),
        pl.from_arrow(pa.table({"a": [big, None]}), spark=spark),
    ]
    for df in frames:
        assert df.lazy().spark.schema["a"].dataType.simpleString() == "bigint"
        assert [r[0] for r in df.rows()] == [big, None]
    # a key first seen in a later row is kept, in first-seen order
    assert frames[1].columns == ["a", "b"]
    assert frames[1].rows() == [(big, None), (None, "x")]
