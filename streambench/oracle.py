"""Output check against a batch oracle.

The oracle is computed once per (workload, seed), outside every timed
region:
- `aggs/` must equal the batch `streaming.job.long_form_window_aggs`
  of the whole input, restricted to windows whose end is at or before
  the final watermark (max event time - watermark delay);
- `alerts/` + `rca/` must equal a `StreamingTail` replay (per key, in
  window order) of those batch aggregates, floats to 1e-6.

The unit of success is one (key, window) result: it fails when any of
its aggregate, alert or RCA rows is missing, extra or different.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

KEY = "tail_key"
TOL = 1e-6
AGG_ON = [KEY, "window_start_epoch", "dim_name", "dim_value"]
# rows of one (key, window, row_type) in a canonical order; MacroBase
# releases its warm-up buffer as many alert rows of one window
OUT_SORT = [
    "seq", "summary_id", "dim_group", "dim_name", "dim_value",
    "current", "baseline", "score", "cost",
]


def read_parts(directory: str, columns: list[str] | None = None,
               paths: list[str] | None = None) -> pd.DataFrame | None:
    """All part files of one sink directory (or just `paths`), or None."""
    import pyarrow.parquet as pq

    paths = paths or sorted(glob.glob(os.path.join(directory, "part-*")))
    if not paths:
        return None
    frames = [pq.read_table(p, columns=columns).to_pandas() for p in paths]
    return pd.concat(frames, ignore_index=True)


def _with_key(df: pd.DataFrame) -> pd.DataFrame:
    if KEY not in df.columns:
        df = df.assign(**{KEY: ""})
    return df


def replay_tail(aggs: pd.DataFrame, tail_config, state_mod=None) -> pd.DataFrame:
    """The streaming tail's output for `aggs`, computed in-process:
    one `StreamingTail` per key fed its windows in order."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming import state

    state_mod = state_mod or state
    frames = []
    for key, pdf in aggs.groupby(KEY, sort=True):
        tail = state_mod.StreamingTail(tail_config)
        rows = []
        for ws, current, records, breakdown, hierarchy in state_mod.rows_to_windows(pdf):
            rows.extend(tail.process_window(ws, current, records, breakdown, hierarchy))
        frame = state_mod._typed_frame(rows)
        frame.insert(0, KEY, key)
        frames.append(frame)
    return pd.concat(frames, ignore_index=True)


def load_oracle(oracle_dir: str, manifest: dict, wl: dict) -> dict:
    from workloads import WINDOW_S, tail_config

    aggs = _with_key(read_parts(oracle_dir))
    final_wm = manifest["max_ts"] - wl["watermark_s"]
    aggs = aggs[aggs["window_start_epoch"] + WINDOW_S <= final_wm].reset_index(drop=True)
    out = replay_tail(aggs, tail_config(wl["tail"]))
    return {
        "aggs": aggs,
        "out": out,
        "results": set(zip(aggs[KEY], aggs["window_start_epoch"])),
        "final_watermark": final_wm,
    }


def _differs(a: pd.Series, b: pd.Series) -> np.ndarray:
    if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
        x, y = a.astype("float64").to_numpy(), b.astype("float64").to_numpy()
        return ~np.isclose(x, y, rtol=TOL, atol=TOL, equal_nan=True)
    x, y = a.astype(object), b.astype(object)
    both_null = x.isna().to_numpy() & y.isna().to_numpy()
    return ~(both_null | (x == y).to_numpy())


def _bad_results(expected: pd.DataFrame, actual: pd.DataFrame, on: list[str]) -> set:
    """(key, window) pairs whose rows differ between the two frames
    (outer join on `on`; a row on one side only is a difference)."""
    merged = expected.merge(actual, on=on, how="outer", suffixes=("_e", "_a"),
                            indicator=True)
    bad = (merged["_merge"] != "both").to_numpy()
    for col in expected.columns:
        if col not in on and col + "_a" in merged.columns:
            bad |= _differs(merged[col + "_e"], merged[col + "_a"])
    rows = merged[bad]
    return set(zip(rows[KEY], rows["window_start_epoch"]))


def _ranked(out: pd.DataFrame) -> pd.DataFrame:
    out = out.sort_values([KEY, "window_start_epoch", "row_type"] + OUT_SORT,
                          kind="mergesort", na_position="first")
    out["_rank"] = out.groupby([KEY, "window_start_epoch", "row_type"]).cumcount()
    return out.reset_index(drop=True)


def check_run(job_dir: str, oracle: dict) -> dict:
    """Compare one drained run's sinks with the oracle."""
    exp_aggs = oracle["aggs"]
    got_aggs = read_parts(os.path.join(job_dir, "aggs"))
    got_aggs = _with_key(got_aggs) if got_aggs is not None else exp_aggs.iloc[:0]
    bad = _bad_results(exp_aggs, got_aggs[exp_aggs.columns], AGG_ON)

    parts = []
    for kind in ("alert", "rca"):
        df = read_parts(os.path.join(job_dir, kind + "s" if kind == "alert" else kind))
        if df is not None:
            parts.append(_with_key(df).assign(row_type=kind))
    exp_out = _ranked(oracle["out"].copy())
    got_out = _ranked(pd.concat(parts, ignore_index=True)) if parts else exp_out.iloc[:0]
    on = [KEY, "window_start_epoch", "row_type", "_rank"]
    bad |= _bad_results(exp_out, got_out[exp_out.columns], on)

    expected = oracle["results"]
    got = set(zip(got_aggs[KEY], got_aggs["window_start_epoch"]))
    extra = got - expected
    failed = len(bad) if expected else 1
    return {
        "expected": len(expected),
        "failed": failed,
        "extra": len(extra),
        "alert_rows": int((exp_out["row_type"] == "alert").sum()),
        "rca_rows": int((exp_out["row_type"] == "rca").sum()),
    }
