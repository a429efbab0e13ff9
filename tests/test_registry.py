"""The query registry's shape: every query in `queries()` has a DuckDB
oracle, and every oracle belongs to a registered query. No SparkSession
needed."""

import __spark_entry__ as e


def test_every_query_has_an_oracle():
    assert set(e.oracle_sql()) == set(e.queries())
