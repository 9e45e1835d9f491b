"""The driver contract's gate registry: ``queries()`` and ``oracle_sql()``
are both read off one name -> (builder, oracle SQL) table."""

import __spark_entry__ as entry


def test_queries_and_oracles_name_the_same_gates():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(osql)
    assert list(qs) == list(osql)  # one run order
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in osql.values())
