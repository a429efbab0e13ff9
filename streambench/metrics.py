"""End-to-end metrics, read from the files a run leaves behind.

Everything here comes from outside the engine: checkpoint logs
(`offsets/<batch>` mtimes date trigger starts, `sources/0` logs map
files to batches), the sinks' `_committed_<batch>` markers (commit wall
times), the aggregate part files (which (key, window) results each
commit carried), the generator's publish log and the /proc samples.
"""

from __future__ import annotations

import bisect
import glob
import json
import os

import numpy as np

from workloads import WINDOW_S

KEY = "tail_key"


def _mtime(path: str) -> float:
    return os.stat(path).st_mtime


def commit_times(sink_dir: str) -> dict[int, float]:
    """batch id -> wall time of its `_committed_` marker."""
    return {
        int(p.rsplit("_", 1)[1]): _mtime(p)
        for p in glob.glob(os.path.join(sink_dir, "_committed_*"))
    }


def trigger_starts(ckpt: str) -> dict[int, float]:
    """batch id -> wall time its offsets were logged (trigger start)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = _mtime(p)
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """basename of each file a file-source query read -> the query batch
    that read it. The source's metadata log numbers its own entries
    (no-data batches add none); each query batch's offsets log names the
    last source entry it covers."""
    entry_of = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    entry_of[os.path.basename(entry["path"])] = entry["batchId"]
    last_entry = {}
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        if os.path.basename(p).isdigit():
            with open(p) as f:
                offsets = json.loads(f.read().splitlines()[2])
            last_entry[int(os.path.basename(p))] = offsets["logOffset"]
    batches = sorted(last_entry)
    ends = [last_entry[b] for b in batches]
    return {
        name: batches[bisect.bisect_left(ends, e)] for name, e in entry_of.items()
    }


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def timeline(rep: dict, manifest: dict, wl: dict) -> dict:
    """Commit and latency samples of one drained run.

    File 0 only warms the engine (the engine drains it before the rest
    is published): the measured stream starts at the aggregate trigger
    that read file 1, results are the (key, window) pairs of the
    aggregate commits from that trigger on, and latency samples are the
    windows made finalizable by file 1 or later."""
    import pyarrow.parquet as pq

    job = rep["job_dir"]
    agg_ckpt = os.path.join(job, "checkpoints", "aggregate")
    agg_starts = trigger_starts(agg_ckpt)
    det_commit = commit_times(os.path.join(job, "rca"))
    aggs_commit = commit_times(os.path.join(job, "aggs"))
    det_batch_of = file_batches(os.path.join(job, "checkpoints", "detect"))
    agg_batch_of = file_batches(agg_ckpt)

    due = {e["name"]: e["due"] for e in rep["publish_log"]}
    names = [f["name"] for f in manifest["files"]]
    # pages are published in event-time order, so the file holding the
    # first page at or past a threshold is the first whose running max
    # event time reaches it
    running_max = np.maximum.accumulate([f["max_ts"] for f in manifest["files"]])
    lag_s = WINDOW_S + wl["watermark_s"]

    first_batch = agg_batch_of[names[1]]
    results, latency, commit_lag, events = 0, [], [], []
    for path in sorted(glob.glob(os.path.join(job, "aggs", "part-*"))):
        base = os.path.basename(path)
        agg_batch, det_batch = int(base.split("-")[1]), det_batch_of.get(base)
        if agg_batch < first_batch or det_batch not in det_commit:
            continue
        table = pq.read_table(path)
        cols = [c for c in (KEY, "window_start_epoch") if c in table.column_names]
        pairs = table.select(cols).to_pandas().drop_duplicates()
        results += len(pairs)
        committed = det_commit[det_batch]
        commit_lag += [committed - aggs_commit[agg_batch]] * len(pairs)
        for ws in pairs["window_start_epoch"]:
            i = int(np.searchsorted(running_max, ws + lag_s, side="left"))
            if 1 <= i < len(names):
                latency.append(committed - due[names[i]])
                events.append((names[i], det_batch))

    published = sorted(e["published"] for e in rep["publish_log"][1:])
    consumed = sorted(agg_starts[agg_batch_of[n]] for n in names[1:] if n in agg_batch_of)
    backlog = max(
        (bisect.bisect_right(published, t) - bisect.bisect_right(consumed, t)
         for t in published),
        default=0,
    )
    first = agg_starts[first_batch]
    last = max(det_commit.values())
    return {
        "first_trigger": first,
        "last_commit": last,
        "wall_s": last - first,
        "results": results,
        "latency": latency,
        "latency_events": events,
        "commit_lag": commit_lag,
        "late_max_s": max(e["published"] - e["due"] for e in rep["publish_log"]),
        "backlog_max_files": backlog,
        "warmup_s": rep["warmed"] - rep["ready"]["ready"],
        "agg_triggers": sum(1 for b in agg_starts if b >= first_batch),
        "det_triggers": sum(1 for t in det_commit.values() if t > first),
    }


def tree_usage(rep: dict, start: float, end: float) -> dict:
    """CPU seconds, peak summed RSS and peak Python workers of the
    engine process tree within [start, end]."""
    inside = [x for x in rep["samples"] if start <= x[0] <= end] or rep["samples"][-1:]
    before = [x for x in rep["samples"] if x[0] <= start] or rep["samples"][:1]
    return {
        "cpu_s": inside[-1][1] - before[-1][1],
        "peak_rss_mb": max(x[2] for x in inside) / 2**20,
        "python_workers_max": max(x[3] for x in inside),
    }


def stream_summary(rep: dict, manifest: dict, wl: dict) -> dict:
    tl = timeline(rep, manifest, wl)
    usage = tree_usage(rep, tl["first_trigger"], tl["last_commit"])
    pages = sum(f["pages"] for f in manifest["files"][1:])
    beyond = np.asarray(tl["latency"]) > percentile(tl["latency"], 95)
    return {
        **{k: v for k, v in tl.items() if k not in ("latency", "latency_events", "commit_lag")},
        **usage,
        "pages": pages,
        "windows_per_s": tl["results"] / tl["wall_s"],
        "pages_per_s": pages / tl["wall_s"],
        "alert_latency_p50_s": percentile(tl["latency"], 50),
        "alert_latency_p95_s": percentile(tl["latency"], 95),
        "latency_samples": len(tl["latency"]),
        "latency_beyond_p95": int(np.sum(beyond)),
        # samples that share a due file and a detect commit are one
        # timing event
        "latency_events": len(set(tl["latency_events"])),
        "latency_events_beyond_p95": len(
            {e for e, b in zip(tl["latency_events"], beyond) if b}
        ),
        "commit_lag_p50_s": percentile(tl["commit_lag"], 50),
        "commit_lag_p95_s": percentile(tl["commit_lag"], 95),
        "cpu_s_per_kpage": usage["cpu_s"] / (pages / 1000),
        "setup_s": rep["ready"]["setup_s"],
        "retained_heap_mb": rep["retained_heap_bytes"] / 2**20,
    }


E2E = {
    "windows_per_s": "1/s",
    "pages_per_s": "1/s",
    "alert_latency_p50_s": "s",
    "alert_latency_p95_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "retained_heap_mb": "MB",
    "cpu_s_per_kpage": "s",
}


def e2e_metrics(wl: dict, manifest: dict, rep: dict) -> tuple[dict, dict]:
    summary = stream_summary(rep, manifest, wl)
    metrics = {k: {"value": summary[k], "unit": u} for k, u in E2E.items()}
    return metrics, {"stream": summary, "spans": rep["spans"]}
