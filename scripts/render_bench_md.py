"""Regenerate BENCH/BASELINE.md from the measurement artifacts.

Single source of truth for bench numbers (VERDICT r2 #5: committed
prose must quote the driver artifacts, not a builder's best local
run). Inputs, all optional except the bench JSON:

- BENCH_r{NN}.json   — the driver's per-round bench artifact (uses the
                       newest by round number; its "parsed" field is
                       bench.py's JSON line). Override with --bench
                       pointing at a raw bench.py output file.
- BENCH_scaling.json — scripts/scaling_bench.py output.
- BENCH/multikey.json — scripts/multikey_bench.py output.
- CORRECTNESS_r{NN}.json — newest driver correctness gate (for the
                       hash-green counts).

Usage: python scripts/render_bench_md.py [--bench FILE] [--out FILE]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest(pattern: str) -> str | None:
    files = glob.glob(os.path.join(REPO, pattern))
    if not files:
        return None

    def round_no(f: str) -> int:
        m = re.search(r"_r(\d+)\.json$", f)
        return int(m.group(1)) if m else -1

    return max(files, key=round_no)


def _load(path: str | None) -> dict | None:
    if path is None or not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def load_bench(explicit: str | None) -> tuple[dict, str]:
    if explicit:
        with open(explicit) as f:
            return json.load(f), os.path.relpath(explicit, REPO)
    latest = _latest("BENCH_r*.json")
    if latest is None:
        raise SystemExit("no BENCH_r*.json found; pass --bench")
    data = _load(latest)
    parsed = data.get("parsed") if isinstance(data, dict) else None
    if parsed is None:
        raise SystemExit(f"{latest} has no 'parsed' field")
    return parsed, os.path.basename(latest)


def _repeat_note(scaling: dict) -> str:
    rn = scaling.get("same_day_repeat_note")
    if not rn:
        return ""
    runs = [
        (label, rn[key])
        for label, key in (
            ("2026-08-16 first", "earlier_run"),
            ("2026-08-16 second (r3 primary)", "r3_primary_run"),
            ("2026-08-16/17 (r4 primary)", "r4_primary_run"),
        )
        if key in rn
    ]
    rows = []
    for label, e in runs:
        m = e["phase_a_median_wall_sec"]
        b = e["phase_a_best_wall_sec"]
        rows.append(
            f"| {label} | "
            f"{m['local4']:.1f}/{m['local16']:.1f}/{m['local32']:.1f} "
            f"(best {b['local4']:.1f}/{b['local16']:.1f}/{b['local32']:.1f}) | "
            f"{e['speedup_4_to_16']:.2f} / {e['speedup_4_to_16_burst']:.2f} | "
            f"{e['stream_local32_windows_per_sec']}/{e['stream_local8_windows_per_sec']} | "
            f"{e['mft8_p95_commit_latency_sec']:.1f} / "
            f"{e['mft1_p95_commit_latency_sec']:.1f} |"
        )
    ba = scaling.get("batch_aggregation", {})
    st = scaling.get("streaming", {})
    cur = ""
    if ba and st:
        cur = (
            f"| current (tables above) | "
            f"{ba['local4']['wall_sec']:.1f}/{ba['local16']['wall_sec']:.1f}/"
            f"{ba['local32']['wall_sec']:.1f} "
            f"(best {ba['local4']['wall_sec_min']:.1f}/"
            f"{ba['local16']['wall_sec_min']:.1f}/"
            f"{ba['local32']['wall_sec_min']:.1f}) | "
            f"{ba['speedup_4_to_16']:.2f} / {ba['speedup_4_to_16_burst']:.2f} | "
            f"{st['local32']['windows_per_sec']:.0f}/"
            f"{st['local8']['windows_per_sec']:.0f} | "
            f"{st['local32']['p95_commit_latency_sec']:.1f} / "
            f"{st['local32_maxFilesPerTrigger1']['p95_commit_latency_sec']:.1f} |\n"
        )
    return f"""
**Repeat spread ({rn['what']}):**

| run | phase A median wall s (4/16/32 cores) | 4->16 speedup median/best | stream w/s (32/8 cores) | p95 commit s (mft=8 / mft=1) |
|---|---|---|---|---|
{chr(10).join(rows)}
{cur}
Run-to-run spread is 25-35% including single-JVM phases — host
co-tenancy, not code change. The 4->16 *best-case* (least-throttled)
speedups are the closest this VM gets to unthrottled thread scaling;
the spread itself is the strongest evidence for the
measurement-protocol caveats below.
"""


def query_table(queries: dict[str, float]) -> str:
    names = list(queries)
    half = (len(names) + 1) // 2
    left, right = names[:half], names[half:]
    lines = ["| query | sec | | query | sec |", "|---|---|---|---|---|"]
    for i in range(half):
        l = f"| {left[i]} | {queries[left[i]]:.2f} |"
        r = (
            f" | {right[i]} | {queries[right[i]]:.2f} |"
            if i < len(right)
            else " | | |"
        )
        lines.append(l + r)
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default=None)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()

    bench, bench_src = load_bench(args.bench)
    scaling = _load(os.path.join(REPO, "BENCH_scaling.json"))
    multikey = _load(os.path.join(REPO, "BENCH", "multikey.json"))
    correctness_file = _latest("CORRECTNESS_r*.json")
    correctness = _load(correctness_file)
    sweep_file = _latest("BENCH/correctness_sweep_r*.json")
    sweep = _load(sweep_file)

    q = bench["queries"]
    total = bench["value"]
    nq = len(q)
    wps = bench.get("windows_per_sec")
    sf = bench.get("sf")
    cpus = bench.get("cpus")
    runs = bench.get("runs_per_query")
    # ADVICE r8: driver artifacts' compact line omits runs_per_query —
    # never render a literal None into the doc
    runs_note = (
        f"{runs} runs" if runs else "repeat count not recorded in this artifact"
    )
    excluded = bench.get("excluded", {})

    parts: list[str] = []
    parts.append(
        f"""# BENCH/BASELINE — measured numbers

**GENERATED** by `scripts/render_bench_md.py` from `{bench_src}`,
`BENCH_scaling.json`, `BENCH/multikey.json` and
`{os.path.basename(correctness_file) if correctness_file else "CORRECTNESS_r*.json"}` — regenerate, don't edit
(single-source-of-truth rule: committed prose always equals the
driver-recorded artifacts).

All numbers from this sandbox: one Firecracker VM, 32 logical cores,
125 GiB RAM, PySpark 4.1.2 local mode, ParallelGC, 16 g driver heap.
The reference publishes no benchmark numbers (BASELINE.md); targets
come from BASELINE.json.

## Headline suite (sf{sf}, local[{cpus}], `python bench.py`)

Protocol: per-query **{bench.get('aggregation', 'median over fresh-JVM runs')}**
({runs_note}; bench.py spawns a subprocess per run — single-run
numbers swing with host co-tenancy). **Total {total} s over
{nq} timed queries.**

{query_table(q)}

Sliding-window aggregation throughput: **~{wps:,.0f} windows/sec**
(row counts in the bench JSON; includes full dimension breakdowns).
"""
    )
    # Builder-local post-optimization runs newer than the driver
    # artifact (committed under BENCH/bench_local_r*.json): surface
    # their totals so BASELINE.md is never silently stale between the
    # driver's round artifacts.
    local_runs = []
    for f in sorted(glob.glob(os.path.join(REPO, "BENCH", "bench_local_r*.json"))):
        m = re.search(r"_r(\d+)", os.path.basename(f))
        if m and f"_r{int(m.group(1)):02d}" not in bench_src and int(m.group(1)) > (
            int(re.search(r"_r(\d+)", bench_src).group(1))
            if re.search(r"_r(\d+)", bench_src)
            else -1
        ):
            local_runs.append((f, _load(f)))
    if local_runs:
        lines = ["\n## Newer builder-local runs (post-optimization, frozen bench.py)\n"]
        for f, d in local_runs:
            if not isinstance(d, dict) or "value" not in d:
                continue
            lines.append(
                f"- `{os.path.relpath(f, REPO)}`: **{d['value']} s** total at "
                f"sf{d.get('sf')} ({d.get('runs_per_query')} fresh-JVM runs, "
                f"per-query median) — see OPTIMIZATION_r09.md for the "
                f"per-operator attribution."
            )
            # surface a measurement caveat recorded in the artifact
            # itself (e.g. sustained co-tenant load), so a raw total is
            # never read without its context
            if d.get("ambient_load_note"):
                lines.append(f"  - measurement note: {d['ambient_load_note']}")
        if len(lines) > 1:
            parts.append("\n".join(lines) + "\n")
    if excluded:
        parts.append("Deliberately excluded from the timed suite (reason printed in the bench JSON — no silent caps):\n")
        for name, reason in excluded.items():
            parts.append(f"- `{name}`: {reason}\n")

    # the data-dependent-hierarchy price, stated explicitly (r3 #8):
    # one extra aggregation over a strict subset of the breakdown keys
    # plus two equi-joins, so the expected overhead is small — quote
    # the measured delta either way (it is often inside run noise)
    if "hierarchical_contributors" in q and "hierarchical_contributors_cooc" in q:
        hc, hcc = q["hierarchical_contributors"], q["hierarchical_contributors_cooc"]
        d = hcc - hc
        parts.append(
            f"**Co-occurrence hierarchy price:** resolving parents from "
            f"per-window co-occurrence pairs instead of a derivable "
            f"function costs {d:+.2f} s on this run "
            f"(`hierarchical_contributors` {hc:.2f} s -> `_cooc` {hcc:.2f} s"
            f"{'; the delta is inside the measured 25-35% co-tenancy noise — the extra aggregation + two equi-joins are effectively free at this scale' if abs(d) < 0.25 * hc else ''}).\n"
        )

    # the one iterative query, its cost composition stated explicitly
    # (measured 2026-08-17 with an instrumented loop at sf0.1): the
    # pair-graph DERIVATION dominates, not the iteration
    if "near_dup_clusters" in q:
        parts.append(
            f"**near_dup_clusters cost composition** ({q['near_dup_clusters']:.2f} s, "
            f"the suite's most expensive query): ~2/3 is deriving + "
            f"materializing the symmetric edge list (the full LSH+verify "
            f"near-dup pipeline runs INTO the persist; Spark's "
            f"ReusedExchange already dedupes the union's twin subtrees — "
            f"an explode-based single-pass symmetrization measured within "
            f"noise of it), ~1/3 is the min-label propagation itself, "
            f"which converges in 2 rounds at this scale (~3-5 s/round of "
            f"fixed multi-stage job overhead on a tiny persisted graph — "
            f"pure scheduling latency, not data volume; at 10^12 docs the "
            f"same rounds are ordinary distributed joins and the "
            f"O(diameter) bound is what matters).\n"
        )

    # round-over-round: compare against the newest PARSEABLE driver
    # bench artifact that isn't the rendering source (r4's driver
    # artifact has parsed=null from the tail-truncation bug bench.py
    # now guards against — fall back past it)
    candidates = sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")),
        key=lambda f: -(int(re.search(r"_r(\d+)\.json$", f).group(1))),
    )
    prev_file = next(
        (
            f for f in candidates
            if os.path.basename(f) != bench_src
            and (_load(f) or {}).get("parsed")
        ),
        None,
    )
    if prev_file:
        prev = (_load(prev_file) or {}).get("parsed")
        if prev and prev.get("queries"):
            pq = prev["queries"]
            news = [k for k in q if k not in pq]
            common_now = sum(v for k, v in q.items() if k in pq)
            common_prev = sum(v for k, v in pq.items() if k in q)
            moved = sorted(
                ((k, q[k] - pq[k]) for k in q if k in pq),
                key=lambda kv: -abs(kv[1]),
            )[:5]
            moved_s = ", ".join(f"{k} {d:+.1f} s" for k, d in moved)
            parts.append(
                f"""
### vs {os.path.basename(prev_file)}

Shared queries: {common_prev:.1f} s -> {common_now:.1f} s
({common_now / common_prev:.2f}x). New this round:
{', '.join(f'`{k}` ({q[k]:.1f} s)' for k in news) if news else 'none'}.
Largest per-query moves (host co-tenancy swings of ±15% are normal —
see protocol note above): {moved_s}.
"""
            )

    if scaling:
        s = scaling["streaming"]
        b = scaling["batch_aggregation"]
        lo, hi = s.get("local8"), s.get("local32")
        mft1 = s.get("local32_maxFilesPerTrigger1")
        parts.append(
            f"""
## Streaming job ({scaling['pages']:,} pages end-to-end, scripts/scaling_bench.py phase B)

| | local[8] | local[32] |
|---|---|---|
| finalized windows | {lo['n_windows']:,} | {hi['n_windows']:,} |
| windows/sec (end-to-end, incl. detect tail) | {lo['windows_per_sec']:.0f} | {hi['windows_per_sec']:.0f} |
| p95 micro-batch trigger | {lo['p95_trigger_ms']/1000:.1f} s | {hi['p95_trigger_ms']/1000:.1f} s |
| p95 aggs-commit -> alerts-commit latency | {lo['p95_commit_latency_sec']:.1f} s | {hi['p95_commit_latency_sec']:.1f} s |

Both queries run CONCURRENTLY (aggregate commits stream straight into
the detect tail — the production topology; round 2 measured them
sequentially, which queued every aggs commit behind the whole
aggregate run and inflated 'latency' to harness wall-clock).
Alert/RCA rows are byte-identical across parallelism levels and across
kill/restart (tests). Throughput at this scale is trigger-overhead
bound (few triggers of ~75k rows), not compute bound — hence flat
across core counts.
"""
        )
        if mft1:
            parts.append(
                f"""### Latency knob: maxFilesPerTrigger (VERDICT r2 #8)

Same job at local[32], source trigger size 8 files vs 1 file —
substantiating "latency = trigger cadence, not algorithmic cost":
smaller triggers cut p95 commit latency
{hi['p95_commit_latency_sec']/mft1['p95_commit_latency_sec']:.1f}x while
throughput pays the per-trigger fixed overhead
({hi['windows_per_sec']/mft1['windows_per_sec']:.1f}x fewer windows/sec):

| maxFilesPerTrigger | windows/sec | p95 trigger | p95 commit latency |
|---|---|---|---|
| 8 (throughput mode) | {hi['windows_per_sec']:.0f} | {hi['p95_trigger_ms']/1000:.1f} s | {hi['p95_commit_latency_sec']:.1f} s |
| 1 (latency mode) | {mft1['windows_per_sec']:.0f} | {mft1['p95_trigger_ms']/1000:.1f} s | {mft1['p95_commit_latency_sec']:.1f} s |
"""
            )
    ann = _load(os.path.join(REPO, "BENCH", "ann_recall_curve.json"))
    if ann:
        lsh_rows = "\n".join(
            f"| {r['tables']} | {r['multiprobe']} | {r['probes_per_query']} "
            f"| {r['recall_at_10']:.3f} | {r['median_sec']:.2f} |"
            for r in ann["lsh"]
        )
        ivf_rows = "\n".join(
            f"| {r['nprobe']} | {r['expected_candidate_fraction']:.2f} "
            f"| {r['recall_at_10']:.3f} | {r['median_sec']:.2f} |"
            for r in ann["ivf"]
        )
        parts.append(
            f"""### ANN recall-vs-cost curves: the gate operating points, from data (VERDICT r7 #7)

`scripts/ann_recall_bench.py` (since deleted with the ANN queries) at {ann['sf_dir']}
({ann['n_vectors']:,} vectors, {ann['n_queries']} queries, k=10,
exact brute force {ann['brute_force_sec']:.1f} s as ground truth,
median of {ann['reps']} runs per cell, one JVM).

LSH (bits=5, so 32 buckets/table; cost ~ probes/query / 32 of the corpus per table):

| tables | multiprobe | probes/query | recall@10 | sec |
|---|---|---|---|---|
{lsh_rows}

The driver gate runs (16, 5) — the first grid point at recall 1.000,
so the exact brute-force SQL stays a valid oracle for the whole LSH
path; (8, 5) at 0.980 or (16, 2) at 0.985 are the knee — the
production dial for a 100x corpus where recall 0.98 is acceptable.

IVF (n_centroids=16; candidate fraction ~ nprobe/16):

| nprobe | cand. fraction | recall@10 | sec |
|---|---|---|---|
{ivf_rows}

Recall rises ~linearly in nprobe and saturates only at
nprobe == n_centroids — this corpus is ISOTROPIC (uniform random
vectors: true neighbors spread across cells), exactly why the driver
gate pins nprobe=16 as a partition-completeness check rather than
gating partial-probe recall; on clustered real-embedding corpora the
curve knees far earlier (the monotone-knob property was unit-gated in
tests/test_dedup_similarity.py::test_ivf_* until the ANN queries were
deleted).
"""
        )
    ab = _load(os.path.join(REPO, "BENCH", "curation_ab_r8.json"))
    if ab:
        h, r6 = ab["median_head_sec"], ab["median_r6_sec"]
        runs = ab["runs"]
        spread = max(r["sec"] for r in runs) / min(r["sec"] for r in runs)
        parts.append(
            f"""### curation_pipeline r6->r7 "regression": attributed to position/noise (VERDICT r7 #3)

BENCH_r6 recorded 4.6 s, BENCH_r7 9.5 s for `curation_pipeline`; the
suspicion was the r7 cleanup-hook/persist change.
`scripts/curation_ab_bench.py` ({ab['protocol']}; {ab['pairs']} pairs
at {ab['sf_dir']}) measures the two CODE states head-to-head: HEAD
median **{h:.2f} s** vs the r6 commit's code **{r6:.2f} s** — HEAD is
{r6 / h:.2f}x FASTER, so the bench delta was registry position
(cold-JIT/page-cache: the same query swings {spread:.1f}x between the
first fresh-JVM run on a cold page cache and a warm one inside this
one A/B) plus host co-tenancy, not a code regression. {(
    f"Row counts identical ({ab['rows_head']})."
    if ab.get("rows_head") == ab.get("rows_r6")
    else f"ROW COUNTS DIVERGE: head={ab.get('rows_head')} vs r6={ab.get('rows_r6')} — investigate."
)} No fix needed; the r8 bench-order pin
(sorted names) removes the position confound going forward.
"""
        )
    inc = _load(os.path.join(REPO, "BENCH", "incremental_old_banded.json"))
    if inc:
        parts.append(
            f"""### Incremental dedup: precomputed old-side banded signatures (VERDICT r6 #4)

`scripts/incremental_old_banded_bench.py` ({inc['protocol']},
{inc['old_rows']:,} old / {inc['new_rows']:,} new docs): recompute
mode median **{inc['recompute_median_s']:.2f} s** vs consuming the
previous run's `banded_signature_table` **{inc['precomputed_median_s']:.2f} s**
(results identical: {inc['results_identical']}). {inc['note']}
"""
        )
    if scaling:
        parts.append(
            f"""
## Scaling efficiency (N -> 4N target >= 0.8): what the sandbox can and cannot show

The north_rule criterion is executor-count scaling on a real cluster.
This sandbox substitutes thread-count scaling inside ONE VM
(BENCH_scaling.json, interleaved repeats so the host's sustained-load
throttle doesn't systematically penalize whichever level runs last):

- **Phase A (extract -> window-agg -> write -> minhash, {scaling['pages']:,} pages):**
  local[4] {b['local4']['wall_sec']:.1f} s -> local[16] {b['local16']['wall_sec']:.1f} s median
  / {b['local16']['wall_sec_min']:.1f} s best -> local[32] {b['local32']['wall_sec']:.1f} s.
  4->16 speedup {b['speedup_4_to_16']:.2f} median /
  {b['speedup_4_to_16_burst']:.2f} best-case{
    '' if b['speedup_4_to_16'] > 1 else
    ' — the median inverted under this run'"'"'s sustained-load'
    ' throttle; the best-case (least-throttled) repeats still scale'
  }; regression past 16 threads at the host ceilings below.

{_repeat_note(scaling)}
Three measured host/JVM properties make a sustained >=0.8
thread-scaling number unobtainable *for any engine* here:

1. **Burst CPU scales, sustained CPU throttles.** Multiprocess Python
   scales ~26x at 32 procs in 3-second bursts, but a 30-second
   sustained 32-proc burn delivers ~50% of burst per-core throughput
   (4-proc sustains ~78%). Higher thread counts measure the throttle,
   not the engine.
2. **Shared memory bandwidth.** The page-scan stages move ~1 KB
   strings per row; beyond ~8-16 threads the bus saturates. On a real
   4N-executor cluster each executor adds its own memory bus.
3. **GC interactions.** Default G1 collapsed 4.7x at >12 threads on
   this VM (fixed with ParallelGC), and an oversized heap anti-scales
   (fixed at 16 g in round 2) — see session.py; both are single-JVM
   artifacts a multi-executor cluster does not share.

What the engine contributes to N->4N scaling is architectural, and is
verified by plan tests rather than wall-clock here:

- exactly ONE data-volume-proportional shuffle (window x dimension
  aggregation), hash-partitioned on (window, dim_name, dim_value),
  with no salting: map-side partial aggregation absorbs hot keys
  (BENCH/skew_salted.json);
- partial (map-side) aggregation before that shuffle — Catalyst
  partial+final HashAggregate pair asserted in tests/test_plans.py;
- the serial tail consumes one row per window slide (pre-aggregated),
  identical to the reference's parallelism-1 design — and since round
  3 it generalizes to **multi-key tails** (below), removing even that
  serialization when detectors are per-key;
- dedup/similarity pair-expansion is bounded by df-caps / bucket caps
  (skew guards), so no reducer grows superlinearly.
"""
        )

    if multikey:
        sk, mk = multikey["single_key"], multikey["multi_key"]
        pure = multikey.get("pure_python_tail_windows_per_sec_per_core")
        pure_line = (
            f"The tail alone (no Spark) sustains **~{pure:,.0f} window-updates/sec "
            f"per core** on this exact workload, so the detect stage here is "
            f"Arrow-transfer/trigger-bound, not Python-bound — the measured "
            f"gain is the parallelized Python share of the wall, as expected."
            if pure
            else ""
        )
        parts.append(
            f"""
## Multi-key tails (VERDICT r2 #4; scripts/multikey_bench.py)

Detect stage (applyInPandasWithState, MacroBase scorer+classifier +
simple RCA over {multikey['dims']}-entry breakdowns) over the SAME
{multikey['keys'] * multikey['windows_per_key']:,} finalized windows at
local[{multikey['cpus']}], single detector vs {multikey['keys']}
independent per-key detectors ({multikey['aggregation']},
{multikey['runs']} runs):

| | single key (reference keyBy(0)) | {multikey['keys']}-key |
|---|---|---|
| wall | {sk['wall_sec']:.1f} s | {mk['wall_sec']:.1f} s |
| windows/sec | {sk['windows_per_sec']:,.0f} | {mk['windows_per_sec']:,.0f} |

**Speedup {multikey['speedup']:.2f}x in this sandbox.** {pure_line}
Where multi-key actually pays at scale: (a) aggregate per-key window
rates above the per-core tail capability (thousands of keys x real
rates — impossible for the single-subtask design the reference has),
and (b) keyed state partitions across executors' state stores instead
of pinning all detector state to one task. Parity with N separate
single-key runs is test-gated; the single-key path remains for exact
reference keyBy(0) semantics.
"""
        )

    if correctness or sweep:
        def gate_counts(d):
            return (
                sum(1 for v in d.values() if v.get("hash_match")),
                len(d),
                sum(1 for v in d.values() if v.get("err") == "no_oracle"),
            )

        lines = []
        if sweep:
            h, t, no = gate_counts(sweep)
            lines.append(
                f"Builder sweep `{os.path.relpath(sweep_file, REPO)}` "
                f"(scripts/correctness_sweep.py at sf0.01, the full current "
                f"query set): **{h}/{t} hash-green**, {no} rows-only."
            )
        if correctness:
            h, t, no = gate_counts(correctness)
            lines.append(
                f"Driver gate artifact `{os.path.basename(correctness_file)}` "
                f"(recorded at that round's query set): {h}/{t} hash-green, "
                f"{no} rows-only."
            )
        body = "\n\n".join(lines)
        parts.append(
            f"""
## Correctness gate status

{body}

Since round 7 every registry entry carries a DuckDB value-hash
oracle — `macrobase_summaries` (rows-only through r6) now runs at
the COMBINED operating point (under-capacity reservoir + dyadic
decay + multiattr pair mining with floor-truncated inlier lookups)
and is hash-gated; the reference's default over-capacity-reservoir
config draws from the JVM RNG and is golden/replay-parity-gated in
tests instead (proof in COVERAGE.md). tests/test_oracle_parity.py
mirrors the gate at sf0.001; the driver runs it at sf0.01.
"""
        )

    with open(args.out, "w") as f:
        f.write("\n".join(parts).strip() + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
