"""Smoke test of the benchmark's output check.

    python3 streambench/smoke.py [--workload live_keyed] [--seed 1]

Runs one workload once, asserts the check passes on the engine's real
outputs, then corrupts one alert row (its `current` value) in a copy
of the alerts sink and asserts the check fails exactly that one
(key, window) result. Exits 0 on success.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def corrupt_one_alert(job_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(job_dir, "alerts", "part-*"))):
        table = pq.read_table(path)
        if table.num_rows:
            current = table.column("current").to_pylist()
            current[0] += 1.0
            idx = table.schema.get_field_index("current")
            table = table.set_column(idx, "current", pa.array(current, pa.float64()))
            pq.write_table(table, path)
            return
    raise AssertionError("no alert row to corrupt")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="live_keyed")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from oracle import check_run, load_oracle
    from run import REPO, run_engine, staged_inputs
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(REPO, ".streambench", "runs", f"smoke-{os.getpid()}")
    try:
        stage, manifest, oracle_dir = staged_inputs(args.workload, wl, args.seed)
        rep, finish = run_engine(args.workload, wl, run_dir, manifest, stage, oracle_dir,
                                 False, "smoke")
        finish()
        oracle = load_oracle(oracle_dir, manifest, wl)
        clean = check_run(rep["job_dir"], oracle)
        if clean["failed"] != 0 or clean["expected"] == 0:
            raise AssertionError(f"clean run did not pass the check: {clean}")
        corrupt_one_alert(rep["job_dir"])
        broken = check_run(rep["job_dir"], oracle)
        if broken["failed"] != 1:
            raise AssertionError(f"corrupted run should fail one result: {broken}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"ok: clean run {clean['expected']} results, 0 failed; "
          f"one corrupted alert row -> {broken['failed']} failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
