"""The query registry's shape: it fits the driver's correctness window,
every query in `queries()` has a DuckDB oracle, and every oracle belongs
to a registered query. No SparkSession needed."""

import __spark_entry__ as e

# the driver's CORRECTNESS artifact keeps the first 50 registry rows
DRIVER_WINDOW = 50


def test_registry_fits_the_driver_window():
    n = len(e.queries())
    assert n <= DRIVER_WINDOW, (
        f"queries() has {n} entries; the driver's correctness gate checks "
        f"only the first {DRIVER_WINDOW} rows, so {n - DRIVER_WINDOW} would "
        "go unchecked"
    )


def test_every_query_has_an_oracle():
    assert set(e.oracle_sql()) == set(e.queries())
