"""Streaming AD+RCA benchmark: one command, the real two-query job.

    python3 streambench/run.py --workload backfill_sparse --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Stages seeded `sources.pages` inputs,
launches the engine (`engine.py`, a fresh JVM), warms it on the first
input file, publishes the rest (all at once for a backfill, on an
open-loop schedule for the live workload), drains the stream, checks
every output against the oracle (`oracle.py`) and prints one JSON line
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). The full report, with the spans of a traced run, goes
to `.streambench/out/`. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "online_anomaly_detection_root_cause_analysis_spark"
ENGINE_TIMEOUT_S = 150


def ambient() -> dict:
    """The ambient-load note recorded with every run."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":")
            mem[k] = int(v.split()[0])
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {
        "nproc": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "mem_total_mb": mem["MemTotal"] // 1024,
        "cpu_ticks": sum(ticks),
        "steal_ticks": ticks[7],
    }


def engine_env(work: str, cpus: int) -> dict:
    """Everything the engine is configured with, all through the
    environment: Python workers import the package from the checkout,
    spill goes under the run directory and there is one task slot per
    core. The JVM heap may grow to 4g, a quarter of a 15 GiB machine
    (session.py defaults to 16g), which leaves the rest to the Python
    workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        # temporary files (py4j connection info, JVM tmpdir, no hsperfdata)
        # stay inside the run directory
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="4g",
    )
    return env


def wait_for(path: str, proc: subprocess.Popen, timeout: float) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"engine exited with {proc.returncode} before {path}")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {path}")
        time.sleep(0.005)


def staged_inputs(workload: str, wl: dict, seed: int) -> tuple[str, dict, str]:
    """Inputs and oracle directory for (workload, seed), cached under
    `.streambench/cache` so a repeated seed skips generation and the
    batch oracle. Returns (stage dir, manifest, oracle dir)."""
    from generator import stage_pages

    digest = hashlib.sha1(json.dumps(wl, sort_keys=True).encode()).hexdigest()[:10]
    cache = os.path.join(REPO, ".streambench", "cache", f"{workload}-s{seed}-{digest}")
    stage, manifest_path = os.path.join(cache, "stage"), os.path.join(cache, "manifest.json")
    if not os.path.exists(manifest_path):
        shutil.rmtree(cache, ignore_errors=True)
        manifest = stage_pages(
            stage, wl["n_pages"], wl["n_files"], seed, wl["warmup_pages"],
            ts_scale=wl["ts_scale"], out_of_order=wl["out_of_order"],
        )
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)
        # flush the new files now, so their write-back does not overlap
        # the engine's set-up and stream (a seed's first run would read
        # slower than its later ones)
        os.sync()
    with open(manifest_path) as f:
        return stage, json.load(f), os.path.join(cache, "oracle")


def run_engine(
    workload: str, wl: dict, run_dir: str, manifest: dict, master_stage: str,
    oracle_dir: str, trace: bool, run_id: str, cpus: int | None = None,
):
    """One engine launch. Returns the engine's result.json, with the
    publish log and the process-tree samples added, as soon as it is
    written, and a function that waits for the engine to exit."""
    from procstat import TreeSampler

    input_dir, stage_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "stage")
    os.makedirs(input_dir)
    os.makedirs(stage_dir)
    names = [f["name"] for f in manifest["files"]]
    for n in names:
        os.link(os.path.join(master_stage, n), os.path.join(stage_dir, n))
    need_oracle = not os.path.exists(os.path.join(oracle_dir, "_SUCCESS"))
    spec = dict(
        repo=REPO, workload=workload, work_dir=run_dir, input_dir=input_dir,
        all_input_dir=master_stage, oracle_dir=oracle_dir if need_oracle else None,
        trace=trace, run_id=run_id, publish_timeout_s=120,
    )
    spec_path = os.path.join(run_dir, "spec.json")
    spec["launch"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(run_dir, "engine.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), spec_path],
            env=engine_env(run_dir, cpus or os.cpu_count()),
            stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
        )
    sampler = TreeSampler(proc.pid)
    sampler.start()

    def finish() -> None:
        """Wait for the engine and every process under it to exit
        (killing them past the timeout)."""
        try:
            proc.wait(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        sampler.stop()
        sampler.reap()

    try:
        wait_for(os.path.join(run_dir, "ready.json"), proc, ENGINE_TIMEOUT_S)
        publish_log = publish(wl, stage_dir, input_dir, names, run_dir, proc)
        with open(os.path.join(run_dir, "published"), "w") as f:
            f.write("ok")
        wait_for(os.path.join(run_dir, "result.json"), proc, ENGINE_TIMEOUT_S)
    except BaseException:
        proc.kill()
        finish()
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    if not result["ok"]:
        finish()
        raise RuntimeError(f"a streaming query failed: {result.get('error')}")
    result.update(publish_log=publish_log, samples=sampler.samples,
                  job_dir=os.path.join(run_dir, "job"))
    return result, finish


def publish(wl: dict, stage_dir: str, input_dir: str, names: list, run_dir: str,
            proc: subprocess.Popen) -> list:
    """File 0 warms the engine: it is published alone and the engine
    drains it. Then a backfill publishes every other file at once (one
    directory rename), and the live workload starts a separate generator
    process that publishes one file per interval on a fixed schedule.
    Returns the publish log: due and actual time of every file."""
    from generator import publish_dir

    log = publish_dir(stage_dir, input_dir, "p00000", names[:1], time.time())
    open(os.path.join(run_dir, "warm"), "w").close()
    wait_for(os.path.join(run_dir, "warmed"), proc, 90)
    rest = names[1:]
    if not wl["live"]:
        return log + publish_dir(stage_dir, input_dir, "p00001", rest, time.time())
    plan = dict(
        names=rest, stage_dir=stage_dir, input_dir=input_dir,
        interval_s=wl["interval_s"], start=time.time() + 0.5,
        log_path=os.path.join(run_dir, "publish_log.json"),
    )
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), plan_path], cwd=run_dir
    )
    try:
        gen.wait(timeout=len(rest) * wl["interval_s"] + 30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(plan["log_path"]) as f:
        return log + json.load(f)["log"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15,
                    help="recorded only: a drained stream measures a fixed amount "
                    "of work, so input sizes are fixed per workload")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count(),
                    help="task slots (local[N]); 1 gives the single-threaded baseline")
    args = ap.parse_args()
    # a terminated run still stops its engine (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    from metrics import e2e_metrics
    from oracle import check_run, load_oracle
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(REPO, ".streambench", "runs", run_id)
    out_dir = os.path.join(REPO, ".streambench", "out")
    os.makedirs(out_dir, exist_ok=True)
    amb_before = ambient()
    finish = None
    try:
        stage, manifest, oracle_dir = staged_inputs(args.workload, wl, args.seed)
        rep, finish = run_engine(args.workload, wl, run_dir, manifest, stage, oracle_dir,
                                 bool(args.trace), run_id, args.cpus)
        oracle = load_oracle(oracle_dir, manifest, wl)
        check = check_run(rep["job_dir"], oracle)
        if args.trace:
            from layers import layer_metrics

            metrics, report = layer_metrics(wl, manifest, rep, out_dir, run_id)
        else:
            metrics, report = e2e_metrics(wl, manifest, rep)
    finally:
        if finish is not None:
            finish()
        shutil.rmtree(run_dir, ignore_errors=True)
    amb_after = ambient()
    report.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        cpus=args.cpus,
        ambient_before=amb_before, ambient_after=amb_after, check=check,
        steal_share=(amb_after["steal_ticks"] - amb_before["steal_ticks"])
        / max(1, amb_after["cpu_ticks"] - amb_before["cpu_ticks"]),
        error_rate=check["failed"] / check["expected"] if check["expected"] else 1.0,
    )
    if wl["live"]:
        stream = report["stream"]
        report["live_valid"] = stream["late_max_s"] <= 0.5 and stream["backlog_max_files"] <= 1
        if not report["live_valid"]:
            print("warning: the generator ran late or a backlog built up; "
                  "latency from this run is not valid", file=sys.stderr)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({
        "correct": check["failed"] == 0 and check["expected"] > 0,
        "attempted": max(check["expected"], 1),
        "failed": check["failed"] if check["expected"] else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
