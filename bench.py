"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf", ...}.

Measurement protocol (VERDICT r1 bench hygiene): the suite runs in
THREE fresh JVMs (subprocess per run) and reports the per-query
MEDIAN — single-run numbers on this host swing with Firecracker
co-tenancy (BENCH/BASELINE.md). `value` is the sum of per-query
medians; the dict also carries windows/sec throughput since
BASELINE.json's metric is alert throughput.

`EXCLUDED` names queries that are deliberately not part of the
headline scale suite, with the reason printed in the JSON (no silent
caps): corpus-wide exact n-gram Jaccard is the small-scale
verification oracle for `near_duplicates` (its O(sum df^2) pair
expansion is quadratic by design and is never run corpus-wide at
scale — VERDICT r1 'What's wrong' #3). It still runs in the driver's
sf0.01 correctness gate and in pytest.

Set SPARK_GRAFT_BENCH_SCALING=1 to additionally run the same suite at
local[8] vs local[32] and report scaling efficiency (the sandbox proxy
for N vs 4N executors — see BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

EXCLUDED = {
    "ngram_jaccard": (
        "corpus-wide exact pair expansion; small-scale oracle for "
        "near_duplicates, not a scale query (still in the sf0.01 "
        "correctness gate)"
    ),
}


def _run_suite_once(cpus: int, sf_dir: str) -> dict:
    """Worker body: one fresh JVM, one pass over the suite."""
    from online_anomaly_detection_root_cause_analysis_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name=f"bench-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    # warm the JVM + parquet footer cache once with a trivial action
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # execution order is SORTED BY NAME, independent of registry
    # order: cold JIT/page-cache effects make a query's first position
    # worth 1-3 s, so a fixed order keeps per-query timings comparable
    # when entries are added, removed or regrouped
    for name, fn in sorted(entry_mod.queries().items()):
        if name in EXCLUDED:
            continue
        t0 = time.time()
        counts[name] = fn(spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        if hasattr(entry_mod, "cleanup"):
            entry_mod.cleanup()
    spark.stop()
    return {"queries": timings, "counts": counts}


def _run_suite(cpus: int, sf_dir: str, runs: int = RUNS) -> dict:
    """Median-of-N fresh-JVM runs (per-query median)."""
    results = []
    for i in range(runs):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env={
                **os.environ,
                "SPARK_GRAFT_BENCH_WORKER": "1",
                "SPARK_GRAFT_CPUS": str(cpus),
                "SPARK_GRAFT_SF_DIR": sf_dir,
            },
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise RuntimeError(f"bench worker run {i} failed")
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))

    names = list(results[0]["queries"])
    timings = {
        name: round(statistics.median(r["queries"][name] for r in results), 3)
        for name in names
    }
    counts = results[0]["counts"]
    for r in results[1:]:
        assert r["counts"] == counts, "row counts differ across bench runs"
    total = round(sum(timings.values()), 3)
    n_windows = counts.get("sliding_window_sum", 0)
    return {
        "cpus": cpus,
        "runs": len(results),
        "total_sec": total,
        "queries": timings,
        "counts": counts,
        "windows_per_sec": round(n_windows / timings["sliding_window_sum"], 1)
        if timings.get("sliding_window_sum")
        else None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if os.environ.get("SPARK_GRAFT_BENCH_WORKER") == "1":
        print(json.dumps(_run_suite_once(cpus, sf_dir)))
        return

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    main_run = _run_suite(cpus, sf_dir)

    out = {
        "metric": "headline_suite_wall_clock",
        "value": main_run["total_sec"],
        "unit": "sec",
        "queries": main_run["queries"],
        "sf": float(sf),
        "cpus": cpus,
        "runs_per_query": main_run["runs"],
        "aggregation": "median over fresh-JVM runs",
        "windows_per_sec": main_run["windows_per_sec"],
        "row_counts": main_run["counts"],
        "excluded": EXCLUDED,
    }

    if os.environ.get("SPARK_GRAFT_BENCH_SCALING") == "1":
        lo = _run_suite(8, sf_dir)
        hi = _run_suite(32, sf_dir)
        speedup = lo["total_sec"] / hi["total_sec"] if hi["total_sec"] else None
        out["scaling"] = {
            "local8_sec": lo["total_sec"],
            "local32_sec": hi["total_sec"],
            "speedup": round(speedup, 3) if speedup else None,
            "efficiency_vs_4x": round(speedup / 4.0, 3) if speedup else None,
        }

    print(json.dumps(out))
    # The driver records only an output TAIL; the full record above is
    # long enough that its FRONT can be truncated away (r4's driver
    # artifact parsed as null). Repeat the essentials as a final
    # compact line — totals first, no row_counts/exclusion prose — so
    # the tail capture always ends with a parseable JSON record.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "cpus": out["cpus"],
        "windows_per_sec": out["windows_per_sec"],
        "queries": out["queries"],
    }
    if "scaling" in out:
        compact["scaling"] = out["scaling"]
    print(json.dumps(compact))


if __name__ == "__main__":
    sys.exit(main())
