"""Session defaults from ``get_spark`` that trade error detail for speed."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled

import polars_net_spark as pl

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_dataframe_debugging_context_is_off(spark):
    assert spark.conf.get(DEBUGGING) == "false"
    # PySpark reads the conf once per process; this is the switch that
    # skips the per-call call-site capture on every Column call.
    assert is_debugging_enabled() is False


def test_missing_column_still_names_the_condition(people):
    with pytest.raises(AnalysisException) as err:
        people.select(pl.col("no_such_column")).collect()
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "no_such_column" in str(err.value)


# --- ICU case mapping and its pre-init -------------------------------------

ICU = "spark.sql.icu.caseMappings.enabled"

# (input, initcap, lower, upper) as ICU's full case mapping gives them.
# With ICU case mapping off, initcap keeps "ß", "ﬁne", "ﬀ" and "ŉ" as
# they are and title-cases "İ" to "I" + U+0307.
CASES = [
    ("ß", "Ss", "ß", "SS"),
    ("straße", "Straße", "straße", "STRASSE"),
    ("ﬁne", "Fine", "ﬁne", "FINE"),
    ("ﬁne day", "Fine Day", "ﬁne day", "FINE DAY"),
    ("ﬀ", "Ff", "ﬀ", "FF"),
    ("ŉ", "ʼN", "ŉ", "ʼN"),
    ("İ", "İ", "i̇", "İ"),
    ("İstanbul", "İstanbul", "i̇stanbul", "İSTANBUL"),
    ("ΟΔΟΣ", "Οδος", "οδος", "ΟΔΟΣ"),  # final sigma
    ("ΣΑ Σ", "Σα Σ", "σα σ", "ΣΑ Σ"),  # a lone capital sigma is not final
    ("ǆemal", "ǅemal", "ǆemal", "ǄEMAL"),  # digraph title case
    ("ǰ", "J̌", "ǰ", "J̌"),
    ("hello WORLD", "Hello World", "hello world", "HELLO WORLD"),
]


def test_icu_case_mapping_stays_on(spark):
    assert spark.conf.get(ICU, None) in (None, "true")
    lf = pl.from_records([(c[0],) for c in CASES], ["s"])
    got = lf.select(
        pl.col("s"),
        pl.col("s").str.to_titlecase().alias("t"),
        pl.col("s").str.to_lowercase().alias("l"),
        pl.col("s").str.to_uppercase().alias("u"),
    ).rows()
    assert sorted(got) == sorted(CASES)


def _preinit_done(session):
    thread = session._PREINIT_THREAD
    assert thread is not None
    thread.join(timeout=120)
    assert not thread.is_alive()
    assert session._PREINIT_ERROR is None


def test_get_spark_starts_one_preinit_per_jvm(spark):
    from polars_net_spark import session

    assert session._PREINIT_JVM is spark.sparkContext._jvm
    _preinit_done(session)
    first = session._PREINIT_THREAD
    assert pl.get_spark() is spark
    assert session._PREINIT_THREAD is first  # an active session starts none


def test_session_built_elsewhere_gets_preinit_at_first_table_load(
    spark, monkeypatch, tmp_path
):
    import __spark_entry__ as entry
    from polars_net_spark import session

    for name in ("region", "nation"):
        spark.range(3).write.parquet(str(tmp_path / f"{name}.parquet"))
    _preinit_done(session)
    # as if the driver had built the session in a fresh JVM: no pre-init
    # yet, and ``_t`` has never seen the session
    monkeypatch.setattr(session, "_PREINIT_JVM", None)
    monkeypatch.setattr(session, "_PREINIT_THREAD", None)
    monkeypatch.setattr(entry, "_T_CONF_DONE", set())
    monkeypatch.setattr(entry, "_T_MEMO", {})
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        entry._t(spark, str(tmp_path), "region")
        assert session._PREINIT_JVM is spark.sparkContext._jvm
        _preinit_done(session)
        started = session._PREINIT_THREAD
        entry._t(spark, str(tmp_path), "nation")
        assert session._PREINIT_THREAD is started  # only at the first sighting
    finally:
        # ``_t``'s first sighting sizes shuffles to the default parallelism
        spark.conf.set("spark.sql.shuffle.partitions", partitions)


# --- the generated-class cache ---------------------------------------------

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_session_sizes_the_codegen_cache(spark):
    from polars_net_spark import session

    assert spark.conf.get(CODEGEN_CACHE) == str(session._CODEGEN_CACHE_ENTRIES)
    assert session._CODEGEN_CACHE_ENTRIES > 100  # Spark's default


def test_rerun_plans_compile_nothing(spark):
    # each query compiles its own classes (the literal is inlined in the
    # generated source); together they overflow Spark's default of 100
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run():
        before = compiles.getCount()
        for i in range(60):
            spark.range(1).selectExpr(f"id * 7919 + {i} AS x").collect()
        return compiles.getCount() - before

    assert run() > 100
    assert run() == 0
