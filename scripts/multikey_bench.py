"""Multi-key tail throughput bench (VERDICT r2 #4 'done' evidence).

Measures the streaming DETECT stage (a file stream of finalized
window aggregates whose sink runs the tails on the driver) at
local[32], single-key vs K-key, on IDENTICAL total window volume: the
keyed variant partitions the same windows across K independent
detector states. The detect sink runs those states one after another
(see streaming/job.py), so K keys do not parallelize the Python tail
work across cores; only the batch replay `make_batch_tail(key_col=...)`
does.

The tail is the MacroBase scorer+classifier with simple RCA — real
per-window Python work — so this measures the stage the multi-key
generalization partitions (the upstream aggregation is already
distributed; bench.py covers it).

Prints one JSON line:
  {"single_key": {...}, "multi_key": {...}, "speedup": S, "keys": K}
Runs each variant in a fresh JVM subprocess, median of N runs
(BENCH/BASELINE.md measurement protocol).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = int(os.environ.get("MULTIKEY_BENCH_KEYS", "8"))
W = int(os.environ.get("MULTIKEY_BENCH_WINDOWS", "1500"))  # per key
# wide breakdowns so the per-window Python tail work (detector +
# simple RCA over DIMS entries) dominates the fixed trigger overhead
# (~14 s of single-threaded tail work at these defaults; measured)
DIMS = int(os.environ.get("MULTIKEY_BENCH_DIMS", "200"))
RUNS = int(os.environ.get("MULTIKEY_BENCH_RUNS", "3"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 'macrobase' (default) or 'hstrees' — which detector tail to measure
MODE = os.environ.get("MULTIKEY_BENCH_MODE", "macrobase")


def _aggs_frame(keyed: bool):
    """Synthetic finalized-aggregate rows: K keys x W windows x
    (DIMS breakdown rows + 1 total row). Deterministic values."""
    import numpy as np
    import pandas as pd

    rows_per_window = DIMS + 1
    n = K * W * rows_per_window
    key_idx = np.repeat(np.arange(K), W * rows_per_window)
    win_idx = np.tile(np.repeat(np.arange(W), rows_per_window), K)
    dim_idx = np.tile(np.arange(rows_per_window), K * W)

    # globally unique window epochs (key-major) so the single-key
    # variant processes the SAME K*W window-updates sequentially
    ws = 1704067200 + (key_idx * W + win_idx) * 60
    is_total = dim_idx == DIMS
    rng_vals = (
        (win_idx * 37 + dim_idx * 11 + key_idx * 101) % 1000
    ).astype("float64") + 1.0
    pdf = pd.DataFrame(
        {
            "window_start_epoch": ws.astype("int64"),
            "dim_name": np.where(
                is_total, "__total__", np.char.add("dim_", (dim_idx % 4).astype(str))
            ),
            "dim_value": np.where(
                is_total, "__total__", np.char.add("v", dim_idx.astype(str))
            ),
            "dim_group": np.where(is_total, "__total__", "g"),
            "dim_level": np.where(is_total, 0, 1).astype("int32"),
            "dim_sum": np.where(is_total, rng_vals * 50, rng_vals),
            "dim_count": np.ones(n, dtype="int64"),
        }
    )
    if keyed:
        pdf.insert(0, "tail_key", np.char.add("k", key_idx.astype(str)))
    return pdf


def _run_variant(keyed: bool, work_dir: str) -> dict:
    """Worker: write the aggs files, run the detect query, time it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.session import get_spark
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        StreamingJob,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
    )
    from online_anomaly_detection_root_cause_analysis_spark.config import (
        EngineConfig,
        DimensionSpec,
    )

    spark = get_spark(app_name="multikey-bench", cpus=CPUS, shuffle_partitions=CPUS)
    pdf = _aggs_frame(keyed)
    aggs_dir = os.path.join(work_dir, "aggs")
    os.makedirs(aggs_dir, exist_ok=True)
    # 4 commit files with increasing mtimes (file source orders by mtime)
    n_files = 4
    chunk = (W + n_files - 1) // n_files
    rows_per_window = DIMS + 1
    for i in range(n_files):
        lo, hi = i * chunk, min((i + 1) * chunk, W)
        mask = (pdf["window_start_epoch"] - 1704067200) // 60 % W
        sel = pdf[(mask >= lo) & (mask < hi)]
        pq.write_table(
            pa.Table.from_pandas(sel, preserve_index=False),
            os.path.join(aggs_dir, f"part-{i:04d}.parquet"),
        )
        time.sleep(0.05)

    if MODE == "hstrees":
        # totals span ~[50, 50050]; hs_hi just above the max so every
        # point lands in-workspace (same normalization role as the
        # per-key max bound in q_hstrees_alerts_by_key)
        tail = TailConfig(
            mode="hstrees", hs_lo=0.0, hs_hi=50100.0,
            hs_trees=8, hs_depth=6, hs_window=32, hs_threshold=8.0,
            hs_seed=5,
        )
    else:
        tail = TailConfig(
            mode="macrobase",
            rca_mode="simple",
            detector_spec=EWFeatureSpec(
                warmup_count=100, sample_size=1000, decay_period=100,
                decay_rate=0.01, training_period=100, percentile=0.95,
            ),
        )
    cfg = EngineConfig("ts", "value", [DimensionSpec("dim_0", group="g")])
    job = StreamingJob(
        work_dir=work_dir, cfg=cfg, tail=tail,
        key="tail_key" if keyed else None,
    )
    t0 = time.time()
    q = job.start_detect_query(spark)
    q.processAllAvailable()
    q.stop()
    wall = time.time() - t0
    total_windows = K * W
    spark.stop()
    return {
        "wall_sec": round(wall, 2),
        "windows": total_windows,
        "windows_per_sec": round(total_windows / wall, 1),
    }


def main() -> None:
    if os.environ.get("MULTIKEY_BENCH_WORKER"):
        keyed = os.environ["MULTIKEY_BENCH_WORKER"] == "keyed"
        work_dir = os.environ["MULTIKEY_BENCH_DIR"]
        print(json.dumps(_run_variant(keyed, work_dir)))
        return

    import tempfile

    results: dict[str, list[dict]] = {"single": [], "keyed": []}
    # interleave variants so the host's sustained-load throttle does
    # not systematically penalize whichever runs last
    for i in range(RUNS):
        for variant in ("single", "keyed"):
            work_dir = tempfile.mkdtemp(prefix=f"mkbench-{variant}-")
            try:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__)],
                    env={
                        **os.environ,
                        "MULTIKEY_BENCH_WORKER": "keyed" if variant == "keyed" else "single",
                        "MULTIKEY_BENCH_DIR": work_dir,
                    },
                    capture_output=True, text=True, cwd=REPO,
                )
                if out.returncode != 0:
                    sys.stderr.write(out.stderr[-4000:])
                    raise RuntimeError(f"worker {variant} run {i} failed")
                results[variant].append(json.loads(out.stdout.strip().splitlines()[-1]))
            finally:
                shutil.rmtree(work_dir, ignore_errors=True)

    def med(variant: str, field: str) -> float:
        return statistics.median(r[field] for r in results[variant])

    # per-core capability of the tail itself (no Spark): how many
    # window-updates one Python thread sustains on this exact workload
    # — contextualizes the Spark numbers (the detect stage is
    # Arrow-transfer-bound whenever the key-aggregate rate is below
    # this per-core figure x keys)
    import time as _time

    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        StreamingTail,
        TailConfig,
        rows_to_windows,
    )

    if MODE == "hstrees":
        tail = StreamingTail(
            TailConfig(
                mode="hstrees", hs_lo=0.0, hs_hi=50100.0,
                hs_trees=8, hs_depth=6, hs_window=32, hs_threshold=8.0,
                hs_seed=5,
            )
        )
    else:
        tail = StreamingTail(
            TailConfig(
                mode="macrobase",
                rca_mode="simple",
                detector_spec=EWFeatureSpec(
                    warmup_count=100, sample_size=1000, decay_period=100,
                    decay_rate=0.01, training_period=100, percentile=0.95,
                ),
            )
        )
    pdf1 = _aggs_frame(False)
    pdf1 = pdf1[pdf1["window_start_epoch"] < 1704067200 + W * 60]  # one key's share
    t0 = _time.time()
    nw = 0
    for tup in rows_to_windows(pdf1):
        tail.process_window(*tup)
        nw += 1
    pure_wps = round(nw / (_time.time() - t0), 1)

    single = {"wall_sec": med("single", "wall_sec"),
              "windows_per_sec": med("single", "windows_per_sec")}
    keyed = {"wall_sec": med("keyed", "wall_sec"),
             "windows_per_sec": med("keyed", "windows_per_sec")}
    print(json.dumps({
        "metric": "detect_stage_throughput",
        "mode": MODE,
        "cpus": CPUS, "keys": K, "windows_per_key": W, "dims": DIMS,
        "runs": RUNS, "aggregation": "median over fresh-JVM runs, interleaved",
        "single_key": single, "multi_key": keyed,
        "pure_python_tail_windows_per_sec_per_core": pure_wps,
        "speedup": round(single["wall_sec"] / keyed["wall_sec"], 2)
        if keyed["wall_sec"] else None,
        "raw": results,
    }))


if __name__ == "__main__":
    main()
