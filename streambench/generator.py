"""Seeded page inputs and the open-loop publisher.

Inputs are made with the package's own `sources.pages.generate_pages`
and cut into parquet files in event-time order. Files are staged in a
private directory and *published* into the engine's input directory by
an atomic directory rename, so the engine's file source never sees a
half-written file or half of a backfill:

- file 0 is a small warm-up file, published alone and drained first;
- a backfill then publishes every other file at once;
- the live workload runs this module as a separate process
  (`python3 generator.py <plan.json>`) that publishes one file per fixed
  interval on a wall-clock schedule which does not slow down when the
  engine does. It logs each file's due and actual publish time.
"""

from __future__ import annotations

import json
import os
import sys
import time


def stage_pages(
    stage_dir: str,
    n_pages: int,
    n_files: int,
    seed: int,
    warmup_pages: int,
    ts_scale: float = 1.0,
    out_of_order: float = 0.0,
) -> dict:
    """Generate `n_pages` seeded pages and write them as parquet files
    of consecutive rows: file 0 holds the first `warmup_pages` pages
    (published first, to warm the engine), the rest is cut into
    `n_files` files. `ts_scale` < 1 compresses event time (denser
    windows). Returns a manifest with each file's name, page count and
    max event time (epoch seconds)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
        ORIGIN,
        PagesSpec,
        generate_pages,
    )

    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )

    pdf = generate_pages(
        PagesSpec(n_pages=n_pages, seed=seed, out_of_order_fraction=out_of_order)
    )
    offsets_us = (pdf["warc_ts"].to_numpy() - ORIGIN).astype("timedelta64[us]")
    offsets_us = (offsets_us.astype("int64") * ts_scale).astype("int64")
    pdf["warc_ts"] = pd.Series(
        ORIGIN + offsets_us.astype("timedelta64[us]"), dtype="datetime64[us]"
    ).dt.tz_localize("UTC")
    os.makedirs(stage_dir, exist_ok=True)
    bounds = [0] + list(np.linspace(warmup_pages, n_pages, n_files + 1).astype(int))
    origin_s = (ORIGIN - np.datetime64("1970-01-01T00:00:00")) / np.timedelta64(1, "s")
    epoch_s = offsets_us / 1e6 + origin_s
    files = []
    # mtimes strictly increase with file order: the file source orders
    # by modification time, and rename keeps the mtime
    base_mtime = time.time() - len(bounds)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        name = f"pages-{i:05d}.parquet"
        path = os.path.join(stage_dir, name)
        table = pa.Table.from_pandas(
            pdf.iloc[lo:hi], schema=schema, preserve_index=False
        )
        pq.write_table(table, path)
        os.utime(path, (base_mtime + i * 0.01, base_mtime + i * 0.01))
        files.append({"name": name, "pages": int(hi - lo), "max_ts": float(epoch_s[lo:hi].max())})
    return {"files": files, "pages": n_pages, "max_ts": float(epoch_s.max())}


def publish_dir(stage_dir: str, input_dir: str, unit: str, names: list, due: float) -> list:
    """Publish `names` as one unit: move them into a fresh directory
    and rename that directory into `input_dir` (atomic). Returns one
    log entry per file."""
    tmp = os.path.join(stage_dir, unit)
    os.makedirs(tmp)
    for n in names:
        os.replace(os.path.join(stage_dir, n), os.path.join(tmp, n))
    os.replace(tmp, os.path.join(input_dir, unit))
    published = time.time()
    return [{"name": n, "due": due, "published": published} for n in names]


def run_publisher(plan: dict) -> dict:
    """Open loop: file i is due at start + i * interval_s, whether or
    not the engine has kept up. Returns the publish log."""
    log = []
    for i, name in enumerate(plan["names"]):
        due = plan["start"] + i * plan["interval_s"]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        log += publish_dir(plan["stage_dir"], plan["input_dir"], f"p{i + 1:05d}", [name], due)
    return {"log": log}


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        plan = json.load(f)
    result = run_publisher(plan)
    tmp = plan["log_path"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, plan["log_path"])
