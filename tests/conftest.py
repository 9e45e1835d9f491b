import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import polars_net_spark as pl  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = pl.get_spark(app_name="polars_net_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def people(spark):
    """FIXTURES.md F1."""
    return pl.from_records(
        [("Alice", 25, 100.0), ("Bob", 30, 200.0), ("Charlie", 35, 300.0)],
        ["name", "age", "salary"],
    )


@pytest.fixture
def force_distributed(monkeypatch):
    """Call it to send every guarded operator down its distributed path for
    the rest of the test: ``_bounded.BOUND`` and every ``_bounded.BOUNDS``
    entry become 0, so even an empty input is above its bound."""
    from polars_net_spark import _bounded

    def force():
        monkeypatch.setattr(_bounded, "BOUND", 0)
        monkeypatch.setattr(_bounded, "BOUNDS", dict.fromkeys(_bounded.BOUNDS, 0))

    return force
