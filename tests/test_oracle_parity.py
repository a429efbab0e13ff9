"""Mirror of the driver's correctness gate: every `queries()` entry is
run on Spark and compared row-for-row (order-insensitive, columns
sorted by name) against its `oracle_sql()` DuckDB equivalent at
sf0.001."""

import math

import pytest

from .conftest import register_views

SF_DIR = "/root/testdata/sf0.001"


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{round(v, 6):.6f}"
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def _pairs():
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [(name, qs[name], oracles.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize("name,query,oracle", _pairs(), ids=lambda p: p if isinstance(p, str) else "")
def test_query_matches_oracle(spark, duck, name, query, oracle):
    df = query(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    assert len(spark_rows) > 0, f"{name}: Spark query returned no rows"

    assert oracle is not None, f"{name}: no SQL oracle"

    register_views(duck, SF_DIR)
    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    left = _normalize(spark_rows, spark_cols)
    right = _normalize(duck_rows, duck_cols)
    assert len(left) == len(right), (
        f"{name}: row count {len(left)} vs {len(right)}"
    )
    mismatches = [(l, r) for l, r in zip(left, right) if l != r]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"
