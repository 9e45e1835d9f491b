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
