"""Standalone mirror of the driver's sf0.01 correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB at the given scale factor (default sf0.01 — the driver's gate
point; tests/test_oracle_parity.py covers sf0.001), comparing row
count, column set, and normalized value multiset. Prints one JSON
report keyed by query name, same shape as CORRECTNESS_r{N}.json.

Usage: python scripts/correctness_sweep.py [sf_dir] [only1,only2,...]
"""

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["events", "documents"]


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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb
    import __spark_entry__ as entrymod
    from online_anomaly_detection_root_cause_analysis_spark.session import get_spark

    spark = get_spark(
        app_name="correctness-sweep",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")),
    )
    duck = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    report = {}
    for name in sorted(qs):
        if only is not None and name not in only:
            continue
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            df = qs[name](spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            rec["spark_rows"] = len(rows)
            sql = oracles.get(name)
            if sql is None:
                rec["err"] = "no_oracle"
            else:
                res = duck.execute(sql)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                rec["oracle_rows"] = len(drows)
                rec["rows_match"] = len(rows) == len(drows)
                rec["schema_match"] = sorted(cols) == sorted(dcols)
                rec["hash_match"] = (
                    rec["rows_match"]
                    and rec["schema_match"]
                    and _normalize(rows, cols) == _normalize(drows, dcols)
                )
        except Exception as exc:  # pragma: no cover - diagnostic path
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        if hasattr(entrymod, "cleanup"):
            entrymod.cleanup()
        report[name] = rec
        ok = rec["hash_match"] if rec["err"] is None else rec["err"]
        print(f"  {name}: {ok}", file=sys.stderr, flush=True)

    print(json.dumps(report, indent=2))
    bad = [
        n for n, r in report.items()
        if r["err"] not in (None, "no_oracle") or r["err"] is None and not r["hash_match"]
    ]
    print(f"FAILURES: {bad}" if bad else "ALL GREEN", file=sys.stderr)


if __name__ == "__main__":
    main()
