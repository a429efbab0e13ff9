"""Streaming end-to-end tests (north_rule obligations):

- streaming windowed aggregation == batch replay (same input, same
  watermark) — exact row parity;
- the fused stateful tail (applyInPandasWithState across many
  micro-batches) == a pure-Python replay of the same finalized
  windows — exact alert/RCA parity;
- kill + restart from checkpoint yields byte-identical sink tables
  (idempotent exactly-once);
- out-of-order input within the watermark matches batch.
"""

import contextlib
import math
import os

import pytest
from pyspark.sql import functions as F

from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
    EWFeatureSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.config import web_pages_config
from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
    PagesSpec,
    generate_pages,
    pages_schema,
    read_pages_stream,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
    build_page_records,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
    StreamingJob,
    long_form_window_aggs,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    StreamingTail,
    TailConfig,
    rows_to_windows,
    tail_output_schema,
)

CFG = web_pages_config()


def test_multikey_tail_equals_per_key_runs(spark):
    """Multi-key tails (VERDICT r2 #4): one keyed run with N
    independent detectors must equal N separate single-key runs on the
    key-filtered sub-streams — alert-for-alert, value-for-value."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs as lfa,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        make_batch_tail,
    )
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    records = entrymod._events(spark, sf_dir)
    cfg = entrymod.events_config()
    tail = TailConfig(mode="zscore", ewma_alpha=0.1, ewma_z_threshold=2.0)

    multi = make_batch_tail(
        lfa(records, cfg, 1800, None, key="event_type"), tail, key_col="tail_key"
    )
    got = {
        (r.tail_key, r.window_start_epoch): (r.current, r.baseline, r.score)
        for r in multi.filter(F.col("row_type") == "alert").collect()
    }

    keys = [r.event_type for r in records.select("event_type").distinct().collect()]
    assert len(keys) > 1
    want = {}
    for k in keys:
        sub = records.filter(F.col("event_type") == k)
        single = make_batch_tail(lfa(sub, cfg, 1800, None), tail)
        for r in single.filter(F.col("row_type") == "alert").collect():
            want[(k, r.window_start_epoch)] = (r.current, r.baseline, r.score)
    assert got == want


def test_streaming_multikey_tail_matches_replay(spark, tmp_path):
    """Keyed applyInPandasWithState across micro-batches: one
    StreamingTail per url_tld in the state store, output == per-key
    pure-Python replays of the same finalized windows."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        StreamingJob,
    )

    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 4)

    tail_cfg = TailConfig(mode="zscore", ewma_alpha=0.2, ewma_z_threshold=1.0)
    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=tail_cfg,
        size_s=300, slide_s=60, key="url_tld",
    )
    stream = build_page_records(read_pages_stream(spark, str(pages)), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()

    alerts = spark.read.parquet(job.alerts_dir)
    n_keys = alerts.select("tail_key").distinct().count()
    assert n_keys > 1, "expected alerts from several independent detectors"

    tails: dict = {}
    expected = []
    for f in sorted(os.listdir(job.aggs_dir)):
        if not f.endswith(".parquet"):
            continue
        chunk = pd.read_parquet(os.path.join(job.aggs_dir, f))
        if len(chunk) == 0:
            continue
        for key, sub in chunk.groupby("tail_key", sort=True):
            tail = tails.setdefault(key, StreamingTail(tail_cfg))
            for ws, cur, rec, bd, hier in rows_to_windows(sub):
                for row in tail.process_window(ws, cur, rec, bd, hier):
                    expected.append((key, row))

    got = sorted(
        (r.tail_key, r.seq, r.window_start_epoch, f"{r.current:.6f}",
         f"{r.score:.6f}" if r.score is not None else "null")
        for r in alerts.collect()
    )
    want = sorted(
        (k, e["seq"], e["window_start_epoch"], f"{e['current']:.6f}",
         f"{e['score']:.6f}" if e["score"] is not None else "null")
        for k, e in expected if e["row_type"] == "alert"
    )
    assert got == want


def _write_page_files(spark, tmp_path, spec: PagesSpec, n_files: int = 8) -> str:
    """Kafka-like replay layout: time-sliced files written sequentially
    with increasing mtimes (the file source orders by mtime, so a
    parallel write would scramble event-time order and watermark-drop
    whole slices — that behavior is itself exercised in the watermark
    test via out_of_order_fraction)."""
    pdf = generate_pages(spec).sort_values("warc_ts")
    path = tmp_path / "pages"
    path.mkdir(parents=True, exist_ok=True)
    _write_chunks(pdf, path, n_files)
    return str(path)


def _write_chunks(pdf, path, n_files: int, start_idx: int = 0) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    chunk = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        if len(part) == 0:
            continue
        table = pa.Table.from_pandas(part, preserve_index=False)
        f = path / f"chunk-{start_idx + i:05d}.parquet"
        pq.write_table(table, f)
        os.utime(f, (1e9 + (start_idx + i), 1e9 + (start_idx + i)))


def _norm_rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(
            f"{v:.6f}" if isinstance(v, float) and not math.isnan(v) else str(v)
            for v in (row[c] for c in cols)
        )
        for row in df.collect()
    )


def _read_tail_table(spark, directory: str):
    """An alerts/ or rca/ table. An empty batch commits no part file,
    so a table that never got a row has no file to infer a schema
    from; the schema is the tail's output without row_type."""
    schema = tail_output_schema().removeprefix("row_type string, ")
    return spark.read.schema(schema).parquet(directory)


@pytest.fixture(scope="module")
def pages_path_factory(spark, tmp_path_factory):
    def make(name: str, spec: PagesSpec, n_files: int = 8) -> str:
        return _write_page_files(
            spark, tmp_path_factory.mktemp(name), spec, n_files
        )

    return make


def _run_job(spark, work_dir: str, pages_path: str, tail: TailConfig,
             watermark: str = "0 seconds"):
    job = StreamingJob(
        work_dir=work_dir, cfg=CFG, tail=tail, size_s=300, slide_s=60,
        watermark=watermark,
    )
    stream = build_page_records(read_pages_stream(spark, pages_path), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()
    return job


def test_streaming_aggs_match_batch(spark, pages_path_factory, tmp_path):
    pages_path = pages_path_factory("agg", PagesSpec(n_pages=3000))
    tail = TailConfig(mode="threshold", min_value=0, max_value=float("inf"))
    job = _run_job(spark, str(tmp_path / "job"), pages_path, tail)

    streamed = spark.read.parquet(job.aggs_dir)
    assert streamed.count() > 0

    batch_records = build_page_records(
        spark.read.schema(pages_schema()).parquet(pages_path), CFG
    )
    batch = long_form_window_aggs(batch_records, CFG, 300, 60)

    # streaming (watermark 0s) finalizes windows whose end <= max event
    # time; restrict batch to the window set streaming emitted
    emitted = {r.window_start_epoch for r in streamed.select("window_start_epoch").distinct().collect()}
    batch_emitted = {r.window_start_epoch for r in batch.select("window_start_epoch").distinct().collect()}
    assert emitted <= batch_emitted
    # nothing but the trailing (un-finalizable) windows may be missing
    assert len(batch_emitted - emitted) <= 5

    batch_restricted = batch.filter(F.col("window_start_epoch").isin(list(emitted)))
    assert _norm_rows(streamed) == _norm_rows(batch_restricted)


def test_stateful_tail_matches_replay(spark, pages_path_factory, tmp_path):
    pages_path = pages_path_factory("tail", PagesSpec(n_pages=3000))
    # thresholds chosen from the batch totals so alerts exist
    batch_records = build_page_records(
        spark.read.schema(pages_schema()).parquet(pages_path), CFG
    )
    totals = (
        long_form_window_aggs(batch_records, CFG, 300, 60)
        .filter(F.col("dim_name") == "__total__")
        .select("dim_sum")
    )
    p95 = totals.agg(F.expr("percentile(dim_sum, 0.95)")).first()[0]
    tail = TailConfig(mode="threshold", min_value=0, max_value=float(p95))
    job = _run_job(spark, str(tmp_path / "job"), pages_path, tail)

    alerts = spark.read.parquet(job.alerts_dir)
    rca = spark.read.parquet(job.rca_dir)
    assert alerts.count() > 0
    assert rca.count() > 0

    # pure-Python replay of the exact finalized windows, in commit order
    agg_files = sorted(
        f for f in os.listdir(job.aggs_dir) if f.endswith(".parquet")
    )
    replay_tail = StreamingTail(tail)
    expected = []
    import pandas as pd

    for f in agg_files:
        pdf = pd.read_parquet(os.path.join(job.aggs_dir, f))
        if len(pdf) == 0:
            continue
        for ws, cur, rec, bd, hier in rows_to_windows(pdf):
            expected.extend(replay_tail.process_window(ws, cur, rec, bd, hier))

    exp_alerts = [e for e in expected if e["row_type"] == "alert"]
    exp_rca = [e for e in expected if e["row_type"] == "rca"]
    assert alerts.count() == len(exp_alerts)
    assert rca.count() == len(exp_rca)
    got = sorted(
        (r.seq, r.window_start_epoch, f"{r.current:.4f}") for r in alerts.collect()
    )
    want = sorted(
        (e["seq"], e["window_start_epoch"], f"{e['current']:.4f}") for e in exp_alerts
    )
    assert got == want
    got_rca = sorted(
        (r.seq, r.dim_name, r.dim_value, f"{r.cost:.4f}") for r in rca.collect()
    )
    want_rca = sorted(
        (e["seq"], e["dim_name"], e["dim_value"], f"{e['cost']:.4f}") for e in exp_rca
    )
    assert got_rca == want_rca


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in for driving
    make_tail_fn without Spark."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_tail_fn_joins_arrow_batches_of_one_group():
    """applyInPandasWithState hands one group's rows over in Arrow
    batches (maxRecordsPerBatch rows each), unsorted across batches.
    The tail must see the group as a whole: the same rows split into
    two shuffled chunks give the same output as one chunk."""
    import numpy as np
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        make_tail_fn,
    )

    rows = []
    for i in range(30):
        ws = 1_700_000_000 + 60 * i
        # window 25 spikes past max_value; each half alone stays under it
        per_dim = 40.0 if i == 25 else 10.0
        for name, group in (("host", "url"), ("lang", "content")):
            for value in ("a", "b"):
                rows.append((ws, name, value, group, 1, per_dim, 1))
        rows.append((ws, "__total__", "__total__", "__total__", 0, 2 * per_dim, 2))
    cols = ["window_start_epoch", "dim_name", "dim_value", "dim_group",
            "dim_level", "dim_sum", "dim_count"]
    pdf = pd.DataFrame(rows, columns=cols)
    shuffled = pdf.sample(frac=1.0, random_state=np.random.RandomState(3))
    half = len(shuffled) // 2

    fn = make_tail_fn(TailConfig(mode="threshold", min_value=0, max_value=50))

    def run(chunks):
        out = list(fn((0,), iter(chunks), _FakeGroupState()))
        return pd.concat(out, ignore_index=True) if out else None

    want = run([pdf])
    got = run([shuffled.iloc[:half], shuffled.iloc[half:]])
    assert want is not None and (want["row_type"] == "alert").sum() == 1
    pd.testing.assert_frame_equal(got, want)


def test_tail_fn_rejects_state_of_another_version():
    """State pickled under another PICKLE_VERSION is not loaded: the
    tail fails with the version in the message."""
    import pickle

    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        PICKLE_VERSION,
        make_tail_fn,
    )

    config = TailConfig(mode="threshold", min_value=0, max_value=50)
    state = _FakeGroupState()
    state.update((PICKLE_VERSION + 1, pickle.dumps(StreamingTail(config))))
    fn = make_tail_fn(config)
    with pytest.raises(RuntimeError, match=f"version {PICKLE_VERSION + 1}"):
        list(fn((0,), iter([pd.DataFrame()]), state))


_DETECTOR_SPEC = EWFeatureSpec(
    warmup_count=20, sample_size=50, decay_period=100,
    decay_rate=0.01, training_period=100, percentile=0.95,
)


@pytest.mark.parametrize(
    "kwargs, message",
    [
        (dict(mode="macrobase"), "detector_spec"),
        (dict(mode="macrobase", rca_mode="simple"), "detector_spec"),
        (dict(mode="bogus"), "unknown mode"),
        (dict(rca_mode="bogus"), "unknown rca_mode"),
        (dict(mode="macrobase", detector_spec=_DETECTOR_SPEC), "summarizer_spec"),
        (dict(rca_mode="macrobase"), "summarizer_spec"),
    ],
)
def test_tail_config_rejects_bad_config(kwargs, message):
    """A bad TailConfig fails where the job is built."""
    with pytest.raises(ValueError, match=message):
        TailConfig(**kwargs)


def _state_partitions(q) -> set:
    """numShufflePartitions of every stateful operator in the query's
    recorded progress."""
    parts = {
        op["numShufflePartitions"]
        for p in q.recentProgress for op in p["stateOperators"]
    }
    assert parts, "no progress with a stateful operator was recorded"
    return parts


def test_checkpoint_resume(spark, tmp_path, monkeypatch):
    """Kill + restart resumes from the checkpoints. Both queries run
    one state-store partition and leave the session's own
    spark.sql.shuffle.partitions alone; a checkpoint first written at
    the session's n partitions resumes at n, with the same tables as
    one uninterrupted 1-partition run."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming import job as jobmod

    # conftest's 8, unless an earlier in-process get_spark() re-set it
    session_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    n = int(session_partitions)
    assert n > 1

    spec = PagesSpec(n_pages=2000)
    pdf = generate_pages(spec).sort_values("warc_ts")
    inc_path = tmp_path / "pages_inc"
    inc_path.mkdir(parents=True)
    # first half only (4 chunks)
    _write_chunks(pdf.iloc[:1000], inc_path, 4, start_idx=0)

    tail = TailConfig(mode="threshold", min_value=0, max_value=50000)
    work = str(tmp_path / "job_inc")

    def run(work_dir: str, pages_path: str, partitions: int):
        job = StreamingJob(
            work_dir=work_dir, cfg=CFG, tail=tail, size_s=300, slide_s=60,
        )
        stream = build_page_records(read_pages_stream(spark, pages_path), CFG)
        for start in (
            lambda: job.start_aggregate_query(stream),
            lambda: job.start_detect_query(spark),
        ):
            q = start()
            after_start = spark.conf.get("spark.sql.shuffle.partitions")
            q.processAllAvailable()
            q.stop()
            assert after_start == session_partitions, q.name
            assert _state_partitions(q) == {partitions}, q.name
        return job

    # the first start writes its checkpoints at the session's n
    with monkeypatch.context() as m:
        m.setattr(jobmod, "_one_state_partition", lambda s: contextlib.nullcontext())
        run(work, str(inc_path), partitions=n)

    # second half arrives later; restart resumes from the checkpoints,
    # at the partition count they were written with
    _write_chunks(pdf.iloc[1000:], inc_path, 4, start_idx=4)
    job = run(work, str(inc_path), partitions=n)

    # golden: one uninterrupted run over all data
    golden_work = str(tmp_path / "job_gold")
    all_path = tmp_path / "pages_all"
    all_path.mkdir(parents=True)
    _write_chunks(pdf, all_path, 8)
    gold = run(golden_work, str(all_path), partitions=1)

    got = spark.read.parquet(job.alerts_dir)
    want = spark.read.parquet(gold.alerts_dir)
    assert _norm_rows(got) == _norm_rows(want)
    got_rca = spark.read.parquet(job.rca_dir)
    want_rca = spark.read.parquet(gold.rca_dir)
    assert _norm_rows(got_rca) == _norm_rows(want_rca)


def test_checkpoint_resume_multikey(spark, tmp_path):
    """Kill + restart with KEYED tails: every per-key pickled state in
    the store must survive the restart — the resumed run's alert
    tables equal one uninterrupted run, per key."""
    pdf = generate_pages(PagesSpec(n_pages=1600)).sort_values("warc_ts")
    inc_path = tmp_path / "pages_inc"
    inc_path.mkdir(parents=True)
    _write_chunks(pdf.iloc[:800], inc_path, 3, start_idx=0)

    tail = TailConfig(mode="zscore", ewma_alpha=0.2, ewma_z_threshold=1.0)

    def run(work_dir: str, pages_path: str):
        job = StreamingJob(
            work_dir=work_dir, cfg=CFG, tail=tail, size_s=300, slide_s=60,
            key="url_tld",
        )
        stream = build_page_records(read_pages_stream(spark, pages_path), CFG)
        q1 = job.start_aggregate_query(stream)
        q1.processAllAvailable()
        q1.stop()
        q2 = job.start_detect_query(spark)
        q2.processAllAvailable()
        q2.stop()
        return job

    work = str(tmp_path / "job_inc")
    run(work, str(inc_path))
    _write_chunks(pdf.iloc[800:], inc_path, 3, start_idx=3)
    job = run(work, str(inc_path))

    all_path = tmp_path / "pages_all"
    all_path.mkdir(parents=True)
    _write_chunks(pdf, all_path, 6)
    gold = run(str(tmp_path / "job_gold"), str(all_path))

    got = _norm_rows(spark.read.parquet(job.alerts_dir))
    want = _norm_rows(spark.read.parquet(gold.alerts_dir))
    assert got and got == want


def test_watermark_handles_out_of_order(spark, pages_path_factory, tmp_path):
    spec = PagesSpec(n_pages=2000, out_of_order_fraction=0.05)
    pages_path = pages_path_factory("ooo", spec, n_files=6)
    tail = TailConfig(mode="threshold", min_value=0, max_value=float("inf"))
    job = _run_job(
        spark, str(tmp_path / "job"), pages_path, tail, watermark="300 seconds"
    )
    streamed = spark.read.parquet(job.aggs_dir)
    batch_records = build_page_records(
        spark.read.schema(pages_schema()).parquet(pages_path), CFG
    )
    batch = long_form_window_aggs(batch_records, CFG, 300, 60)
    emitted = {r.window_start_epoch for r in streamed.select("window_start_epoch").distinct().collect()}
    batch_restricted = batch.filter(F.col("window_start_epoch").isin(list(emitted)))
    # within-watermark late rows are fully counted: exact parity
    assert _norm_rows(streamed) == _norm_rows(batch_restricted)


def _parts(directory: str) -> list[str]:
    return sorted(f for f in os.listdir(directory) if f.startswith("part-"))


def test_sink_commits_empty_batch_as_marker_only(tmp_path):
    import pyarrow as pa

    from online_anomaly_detection_root_cause_analysis_spark.streaming.sink import (
        write_batch_idempotent,
    )

    out = str(tmp_path / "out")
    empty = pa.table({"x": pa.array([], pa.int64())})
    assert write_batch_idempotent(empty, 3, out)
    assert os.listdir(out) == ["_committed_0000000003"]


def test_sink_skips_a_replayed_batch(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from online_anomaly_detection_root_cause_analysis_spark.streaming.sink import (
        write_batch_idempotent,
    )

    out = tmp_path / "out"

    def snapshot():
        return {p.name: (p.stat().st_mtime_ns, p.read_bytes()) for p in out.iterdir()}

    assert write_batch_idempotent(pa.table({"x": [1, 2]}), 5, str(out))
    before = snapshot()
    assert sorted(before) == ["_committed_0000000005", "part-0000000005-0000.parquet"]
    assert not write_batch_idempotent(pa.table({"x": [7]}), 5, str(out))
    assert snapshot() == before
    assert pq.read_table(out / "part-0000000005-0000.parquet")["x"].to_pylist() == [1, 2]
    with pytest.raises(ValueError):
        write_batch_idempotent(pa.table({"x": [1]}), 6, str(out), 0)


def test_sink_rerun_after_crash_before_marker(tmp_path, monkeypatch):
    """A crash between publishing the part file and writing the marker:
    the rerun of the batch ends with one part file and the marker, and
    no temp file is left."""
    import builtins

    import pyarrow as pa
    import pyarrow.parquet as pq

    from online_anomaly_detection_root_cause_analysis_spark.streaming.sink import (
        write_batch_idempotent,
    )

    out = str(tmp_path / "out")
    table = pa.table({"x": [1, 2, 3]})
    real_open = builtins.open

    def crash_on_marker(path, *a, **k):
        if os.path.basename(str(path)).startswith("_committed_"):
            raise OSError("crash before the marker")
        return real_open(path, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", crash_on_marker)
        with pytest.raises(OSError):
            write_batch_idempotent(table, 2, out)
    assert os.listdir(out) == ["part-0000000002-0000.parquet"]

    assert write_batch_idempotent(table, 2, out)
    assert sorted(os.listdir(out)) == [
        "_committed_0000000002", "part-0000000002-0000.parquet",
    ]
    assert pq.read_table(os.path.join(out, "part-0000000002-0000.parquet")).equals(table)


def _source_files_per_batch(ckpt: str) -> dict[int, set]:
    """File-source batch -> basenames it read, from the source's
    metadata log (plain and compacted entries)."""
    import json

    out: dict[int, set] = {}
    log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out.setdefault(entry["batchId"], set()).add(
                        os.path.basename(entry["path"])
                    )
    return out


def test_replayed_batches_are_skipped(spark, tmp_path, monkeypatch):
    """Drop the last `commits/` entry of both checkpoints and restart:
    Spark replays each query's last batch, every sink sees a batchId it
    already committed and skips it, and all three tables equal an
    uninterrupted run. The detect query reads one non-empty `aggs/`
    part file per batch."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.streaming import job as jobmod

    calls = []
    write = jobmod.write_batch_idempotent

    def recording_write(table, batch_id, out_dir, coalesce=1):
        wrote = write(table, batch_id, out_dir, coalesce)
        calls.append((os.path.basename(out_dir), batch_id, wrote))
        return wrote

    monkeypatch.setattr(jobmod, "write_batch_idempotent", recording_write)

    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 5)
    # every window alerts, so alerts/ and rca/ get a part file per batch
    tail = TailConfig(mode="threshold", min_value=0, max_value=0)

    def run(work_dir: str):
        return _run_job(spark, work_dir, str(pages), tail)

    job = run(str(tmp_path / "job"))
    last = {}
    for name in ("aggregate", "detect"):
        commits = os.path.join(job.work_dir, "checkpoints", name, "commits")
        last[name] = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last[name]), f".{last[name]}.crc"):
            os.remove(os.path.join(commits, f))
    calls.clear()
    run(job.work_dir)
    replayed = {(d, b) for d, b, wrote in calls if not wrote}
    assert ("aggs", last["aggregate"]) in replayed
    assert {("alerts", last["detect"]), ("rca", last["detect"])} <= replayed
    assert all(not wrote for _, _, wrote in calls)

    gold = run(str(tmp_path / "gold"))
    for sub in ("aggs", "alerts", "rca"):
        got, want = (os.path.join(j.work_dir, sub) for j in (job, gold))
        assert _parts(got) == _parts(want), sub
        batches = [f.split("-")[1] for f in _parts(got)]
        assert len(batches) == len(set(batches)), sub
        assert _norm_rows(spark.read.parquet(got)) == _norm_rows(spark.read.parquet(want))
    assert spark.read.parquet(job.alerts_dir).count() > 0

    agg_parts = _parts(job.aggs_dir)
    assert all(len(pd.read_parquet(os.path.join(job.aggs_dir, f))) for f in agg_parts)
    read = _source_files_per_batch(os.path.join(job.work_dir, "checkpoints", "detect"))
    assert all(len(files) == 1 for files in read.values())
    assert sorted(f for files in read.values() for f in files) == agg_parts


@pytest.mark.parametrize("fault", ["before_rca", "before_commit_log"])
def test_detect_sink_fault_replays_to_an_uninterrupted_run(
    spark, tmp_path, monkeypatch, fault
):
    """A raise inside one detect batch that has RCA rows: after
    `alerts/` committed and before `rca/` is written (before_rca), or
    after both commits and before Spark's commit log
    (before_commit_log). The query fails; a restart without the fault
    replays the batch, and `alerts/` and `rca/` equal an uninterrupted
    run, with at most one part file per batch."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming import job as jobmod

    fault_batch = 1
    calls = []
    armed = [True]
    write = jobmod.write_batch_idempotent

    def faulty_write(table, batch_id, out_dir, coalesce=1):
        kind = os.path.basename(out_dir)
        hit = armed[0] and batch_id == fault_batch and kind == "rca"
        if hit and fault == "before_rca":
            raise RuntimeError("injected fault before the rca commit")
        wrote = write(table, batch_id, out_dir, coalesce)
        calls.append((kind, batch_id, wrote))
        if hit:
            raise RuntimeError("injected fault before the commit log")
        return wrote

    monkeypatch.setattr(jobmod, "write_batch_idempotent", faulty_write)

    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 5)
    # every window alerts, so every detect batch has alert and RCA rows
    tail = TailConfig(mode="threshold", min_value=0, max_value=0)
    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=tail, size_s=300, slide_s=60,
    )
    q = job.start_aggregate_query(
        build_page_records(read_pages_stream(spark, str(pages)), CFG)
    )
    q.processAllAvailable()
    q.stop()

    q = job.start_detect_query(spark)
    with pytest.raises(Exception, match="injected fault"):
        q.processAllAvailable()
    q.stop()
    commits = os.path.join(job.work_dir, "checkpoints", "detect", "commits")
    assert str(fault_batch) not in os.listdir(commits)
    rca_part = f"part-{fault_batch:010d}-0000.parquet"
    assert (rca_part in _parts(job.rca_dir)) == (fault == "before_commit_log")

    armed[0] = False
    calls.clear()
    q = job.start_detect_query(spark)
    q.processAllAvailable()
    q.stop()
    replayed = {(kind, wrote) for kind, b, wrote in calls if b == fault_batch}
    assert replayed == {("alerts", False), ("rca", fault == "before_rca")}

    gold = _run_job(spark, str(tmp_path / "gold"), str(pages), tail)
    assert rca_part in _parts(gold.rca_dir)
    for sub in ("alerts", "rca"):
        got, want = (os.path.join(j.work_dir, sub) for j in (job, gold))
        assert _parts(got) == _parts(want), sub
        batches = [f.split("-")[1] for f in _parts(got)]
        assert len(batches) == len(set(batches)), sub
        assert _norm_rows(spark.read.parquet(got)) == _norm_rows(spark.read.parquet(want))


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """W8 under Structured Streaming: gap-based session windows with a
    watermark, streamed file-by-file — every finalized session matches
    the batch computation on the same rows (north_rule: session
    windows in the streaming pipeline)."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.windows import (
        session_window_agg,
    )

    pdf = (
        pd.read_parquet("/root/testdata/sf0.001/events.parquet")
        .sort_values("ts")
        .reset_index(drop=True)
    )
    src = tmp_path / "events"
    src.mkdir()
    _write_chunks(pdf, src, 5)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sess = session_window_agg(stream, key="user_id", gap_s=1800)
    q = (
        sess.writeStream.format("memory").queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.session_start): (r.session_end, round(r.current, 6), r.records_aggregated)
        for r in spark.sql("SELECT * FROM sessions_stream").collect()
    }

    batch = session_window_agg(
        spark.createDataFrame(pdf), key="user_id", gap_s=1800
    )
    want = {
        (r.user_id, r.session_start): (r.session_end, round(r.current, 6), r.records_aggregated)
        for r in batch.collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert want[k] == v, k
    # only sessions still open at end-of-stream may be missing
    assert len(got) >= len(want) * 0.8


def test_lineage_metrics_listener(spark, tmp_path):
    """north_rule "per-partition lineage + metrics": the
    LineageMetricsListener appends one JSON line per micro-batch with
    the source offset range that produced that commit (the lineage),
    row counts/rates, watermark and state-store metrics. Drive a real
    windowed-agg stream file-by-file and assert the JSONL carries a
    complete, monotone offset chain."""
    import json
    import time

    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.streaming.listener import (
        LineageMetricsListener,
    )

    pdf = (
        pd.read_parquet("/root/testdata/sf0.001/events.parquet")
        .sort_values("ts").head(3000).reset_index(drop=True)
    )
    src = tmp_path / "events"
    src.mkdir()
    _write_chunks(pdf, src, 4)

    out = tmp_path / "metrics.jsonl"
    listener = LineageMetricsListener(str(out))
    spark.streams.addListener(listener)
    try:
        schema = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "300 seconds"))
            .agg(F.sum("value").alias("current"))
        )
        q = (
            agg.writeStream.format("memory").queryName("lineage_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        # processAllAvailable can return before the last batch's
        # progress is recorded, and stop() would then drop its event
        deadline = time.time() + 30
        while (
            sum(p["numInputRows"] for p in q.recentProgress) < len(pdf)
            and time.time() < deadline
        ):
            time.sleep(0.1)
        q.stop()
        q.awaitTermination(30)
    finally:
        # listener events are delivered async; give the bus a moment
        for _ in range(50):
            if out.exists() and "terminated" in out.read_text():
                break
            time.sleep(0.2)
        spark.streams.removeListener(listener)

    recs = [json.loads(l) for l in out.read_text().splitlines()]
    events = [r["event"] for r in recs]
    assert "started" in events and "terminated" in events
    progress = [r for r in recs if r["event"] == "progress" and r["num_input_rows"] > 0]
    assert len(progress) >= 4  # one per input file at maxFilesPerTrigger=1
    total_rows = sum(r["num_input_rows"] for r in progress)
    assert total_rows == len(pdf)
    # lineage: every batch records its source offset range, and the
    # chain is gapless (end offset of batch k == start offset of k+1)
    batches = sorted(progress, key=lambda r: r["batch_id"])
    prev_end = None
    for r in batches:
        (s,) = r["sources"]
        assert s["start_offset"] is not None or r is batches[0]
        assert s["end_offset"] is not None
        assert s["num_input_rows"] > 0
        if prev_end is not None:
            assert s["start_offset"] == prev_end
        prev_end = s["end_offset"]
    # metrics: watermark + state-store figures present on agg batches
    assert any(r.get("watermark") for r in progress)
    assert any(
        so["num_rows_total"] > 0
        for r in progress for so in r["state_operators"]
    )


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming first-occurrence dedup with bounded state: a planted
    duplicate arriving inside the watermark span is dropped; the
    surviving sha set equals the batch dedup on the same rows; and
    content_sha state is keyed, not per-row (each sha survives exactly
    once)."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        streaming_exact_dedup,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(400)
    base = pd.Timestamp("2024-01-01")
    docs = docs.assign(ts=[base + pd.Timedelta(seconds=7 * i) for i in range(len(docs))])
    # plant duplicates shortly after their originals (inside watermark)
    dups = docs[docs.doc_id % 10 == 0].assign(
        doc_id=lambda d: d.doc_id + 1_000_000,
        ts=lambda d: d.ts + pd.Timedelta(seconds=3),
    )
    pdf = (
        pd.concat([docs, dups]).sort_values("ts").reset_index(drop=True)
        [["doc_id", "text", "ts"]]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet timestamp, not ns-int64
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(pdf, src, 4)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    deduped = streaming_exact_dedup(stream, ts="ts", watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT doc_id, content_sha FROM dedup_stream").collect()

    batch = streaming_exact_dedup(spark.createDataFrame(pdf), ts="ts")
    assert not spark.createDataFrame(pdf).isStreaming  # batch twin path
    want_shas = {r.content_sha for r in batch.select("content_sha").collect()}

    shas = [r.content_sha for r in got]
    assert len(shas) == len(set(shas)), "each content hash must survive once"
    assert set(shas) == want_shas
    # every planted duplicate was dropped in favor of SOME copy, and
    # the number of dropped rows equals the number of planted dups
    assert len(pdf) - len(got) == len(dups)


def test_streaming_job_dedup_col(spark, tmp_path):
    """StreamingJob(dedup_col='url'): crawl re-fetches (duplicate urls
    arriving within the watermark span) are dropped BEFORE the windowed
    aggregation, chained in the same query as the agg (one upstream
    watermark, two stateful operators). The aggs table over the
    duplicated stream equals the no-dedup job over the clean stream."""
    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    clean = pdf.drop_duplicates("url").reset_index(drop=True)

    clean_path = tmp_path / "clean"
    clean_path.mkdir()
    _write_chunks(clean, clean_path, 6)

    # duplicated stream: every file is immediately followed by a full
    # copy of itself (same rows, same warc_ts) — re-fetches landing
    # well inside the 30-minute dedup span
    dup_path = tmp_path / "dup"
    dup_path.mkdir()
    chunk = (len(clean) + 5) // 6
    idx = 0
    for i in range(6):
        part = clean.iloc[i * chunk : (i + 1) * chunk]
        if len(part) == 0:
            continue
        _write_chunks(part, dup_path, 1, start_idx=idx)
        _write_chunks(part, dup_path, 1, start_idx=idx + 1)
        idx += 2

    tail = TailConfig(mode="threshold", min_value=0, max_value=float("inf"))

    def run(path, work, dedup_col):
        job = StreamingJob(
            work_dir=str(tmp_path / work), cfg=CFG, tail=tail,
            size_s=300, slide_s=60, watermark="30 minutes",
            dedup_col=dedup_col,
        )
        stream = build_page_records(read_pages_stream(spark, str(path)), CFG)
        q = job.start_aggregate_query(stream)
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(job.aggs_dir)

    deduped = run(dup_path, "dedup_job", "url")
    baseline = run(clean_path, "clean_job", None)
    assert deduped.count() > 0
    assert _norm_rows(deduped) == _norm_rows(baseline)

    # and WITHOUT dedup the duplicated stream inflates the totals
    inflated = run(dup_path, "nodedup_job", None)
    assert _norm_rows(inflated) != _norm_rows(baseline)


def test_streaming_hstrees_matches_replay(spark, tmp_path):
    """Isolation-forest-style detector "held in the state store"
    (north_star): mode='hstrees' through applyInPandasWithState across
    micro-batches equals a pure-Python replay of the same finalized
    windows — score-for-score, flag-for-flag."""
    import pandas as pd

    pdf = generate_pages(PagesSpec(n_pages=2000)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 4)

    # workspace bound from the batch profile (production: historical)
    batch_records = build_page_records(
        spark.read.schema(pages_schema()).parquet(str(pages)), CFG
    )
    hi = (
        long_form_window_aggs(batch_records, CFG, 300, 60)
        .filter(F.col("dim_name") == "__total__")
        .agg(F.max("dim_sum"))
        .collect()[0][0]
        * 1.1
    )
    tail_cfg = TailConfig(
        mode="hstrees", hs_lo=0.0, hs_hi=hi, hs_window=16, hs_threshold=8.0
    )
    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=tail_cfg,
        size_s=300, slide_s=60,
    )
    stream = build_page_records(read_pages_stream(spark, str(pages)), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()

    alerts = spark.read.parquet(job.alerts_dir)
    assert alerts.count() > 0
    assert alerts.filter(F.col("is_outlier")).count() > 0

    tail = StreamingTail(tail_cfg)
    expected = []
    for f in sorted(os.listdir(job.aggs_dir)):
        if not f.endswith(".parquet"):
            continue
        chunk = pd.read_parquet(os.path.join(job.aggs_dir, f))
        if len(chunk) == 0:
            continue
        for ws, cur, rec, bd, hier in rows_to_windows(chunk):
            expected.extend(tail.process_window(ws, cur, rec, bd, hier))

    got = sorted(
        (r.seq, r.window_start_epoch, f"{r.score:.6f}", r.is_outlier)
        for r in alerts.collect()
    )
    want = sorted(
        (e["seq"], e["window_start_epoch"], f"{e['score']:.6f}", e["is_outlier"])
        for e in expected if e["row_type"] == "alert"
    )
    assert got == want


def test_checkpoint_resume_hstrees(spark, tmp_path):
    """Kill + restart with the isolation-forest-style detector: the
    pickled Half-Space-Trees state (tuple counter + both mass-count
    blocks) must survive the restart mid-reference-block — the resumed
    run's alerts equal one uninterrupted run, score-for-score."""
    pdf = generate_pages(PagesSpec(n_pages=2000)).sort_values("warc_ts")
    inc_path = tmp_path / "pages_inc"
    inc_path.mkdir(parents=True)
    _write_chunks(pdf.iloc[:1000], inc_path, 4, start_idx=0)

    batch_records = build_page_records(
        spark.read.schema(pages_schema()).parquet(str(inc_path)), CFG
    )
    hi = (
        long_form_window_aggs(batch_records, CFG, 300, 60)
        .filter(F.col("dim_name") == "__total__")
        .agg(F.max("dim_sum")).collect()[0][0] * 2.0
    )
    tail = TailConfig(
        mode="hstrees", hs_lo=0.0, hs_hi=hi, hs_window=16, hs_threshold=8.0
    )
    work = str(tmp_path / "job_inc")
    _run_job(spark, work, str(inc_path), tail)
    _write_chunks(pdf.iloc[1000:], inc_path, 4, start_idx=4)
    job = _run_job(spark, work, str(inc_path), tail)

    golden_work = str(tmp_path / "job_gold")
    all_path = tmp_path / "pages_all"
    all_path.mkdir(parents=True)
    _write_chunks(pdf, all_path, 8)
    gold = _run_job(spark, golden_work, str(all_path), tail)

    got = spark.read.parquet(job.alerts_dir)
    want = spark.read.parquet(gold.alerts_dir)
    assert want.count() > 0
    assert _norm_rows(got) == _norm_rows(want)


def test_streaming_job_pre_filter(spark, tmp_path):
    """StreamingJob(pre_filter=...) — the streaming quality gate (r5):
    a stateless record filter applied BEFORE dedup/watermark/
    aggregation. Job over the duplicated stream with pre_filter +
    url-dedup equals the no-dedup job over the clean stream filtered
    externally — proving the filter sits upstream of the stateful
    operators and composes with them."""
    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    clean = pdf.drop_duplicates("url").reset_index(drop=True)

    clean_path = tmp_path / "clean"
    clean_path.mkdir()
    _write_chunks(clean, clean_path, 6)

    dup_path = tmp_path / "dup"
    dup_path.mkdir()
    chunk = (len(clean) + 5) // 6
    idx = 0
    for i in range(6):
        part = clean.iloc[i * chunk : (i + 1) * chunk]
        if len(part) == 0:
            continue
        _write_chunks(part, dup_path, 1, start_idx=idx)
        _write_chunks(part, dup_path, 1, start_idx=idx + 1)
        idx += 2

    tail = TailConfig(mode="threshold", min_value=0, max_value=float("inf"))

    def run(path, work, dedup_col, pre_filter, external_filter=None):
        job = StreamingJob(
            work_dir=str(tmp_path / work), cfg=CFG, tail=tail,
            size_s=300, slide_s=60, watermark="30 minutes",
            dedup_col=dedup_col, pre_filter=pre_filter,
        )
        stream = build_page_records(read_pages_stream(spark, str(path)), CFG)
        if external_filter:
            stream = stream.filter(external_filter)
        q = job.start_aggregate_query(stream)
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(job.aggs_dir)

    gated = run(dup_path, "gated_job", "url", "value >= 200")
    baseline = run(clean_path, "ext_job", None, None, external_filter="value >= 200")
    unfiltered = run(clean_path, "nofilter_job", None, None)
    assert gated.count() > 0
    assert _norm_rows(gated) == _norm_rows(baseline)
    # and the gate actually removed records (totals differ)
    assert _norm_rows(unfiltered) != _norm_rows(baseline)


def test_run_streaming_cli_end_to_end(spark, tmp_path, monkeypatch):
    """The AD/RCA job through the real CLI: jobs/run_streaming.py
    `main()` with real argv (keyed z-score detector, hierarchical RCA,
    url dedup) over page files, one of which carries a re-fetch of a
    page from the file before it. Checks the glue the parity tests do
    not: argv parsing, the record pipeline the CLI builds and the two
    queries it starts. `aggs/` equals the batch aggregation over the
    deduplicated records; `alerts/` and `rca/` equal a replay of the
    committed `aggs/` parts through the tail `build_tail` makes from
    the same argv."""
    import importlib
    import sys
    import threading
    import time

    import pandas as pd

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs")
    )
    run_streaming = importlib.import_module("run_streaming")

    pdf = (
        generate_pages(PagesSpec(n_pages=2000))
        .sort_values("warc_ts")
        .drop_duplicates("url")
        .reset_index(drop=True)
    )
    chunk = (len(pdf) + 3) // 4
    parts = [pdf.iloc[i * chunk : (i + 1) * chunk] for i in range(4)]
    # a crawl re-fetch: the last page of file 0 arrives again, with a
    # longer body, at the head of file 1 (event time one second later,
    # well inside the watermark span)
    original = parts[0].tail(1)
    refetch = original.assign(
        warc_ts=(original["warc_ts"] + pd.Timedelta(seconds=1)).astype(
            original["warc_ts"].dtype
        ),
        text=original["text"] + " refetched body",
    )
    parts[1] = pd.concat([refetch, parts[1]])
    src = tmp_path / "pages"
    src.mkdir()
    for i, part in enumerate(parts):
        _write_chunks(part, src, 1, start_idx=i)
    work = str(tmp_path / "work")

    argv = [
        "--input", str(src),
        "--work", work,
        "--detector", "zscore",
        "--rca", "hierarchical",
        "--key", "lang",
        "--dedup-col", "url",
        "--ewma-alpha", "0.2",
        "--ewma-z", "1.0",
        "--watermark", "10 minutes",
        "--max-files-per-trigger", "1",
    ]
    # main() blocks on awaitAnyTermination, so it runs on a thread and
    # the test drains and stops its queries through spark.streams.
    # awaitAnyTermination re-raises the failure of any query an earlier
    # test left behind in this session until the manager is reset
    spark.streams.resetTerminated()
    monkeypatch.setattr(sys, "argv", ["run_streaming.py", *argv])
    t = threading.Thread(target=run_streaming.main, daemon=True)
    t.start()
    deadline = time.time() + 120
    live: set = set()
    while time.time() < deadline:
        live = {q.name for q in spark.streams.active}
        if {"aggregate", "detect"} <= live:
            break
        time.sleep(0.5)
    else:
        pytest.fail(f"streaming queries never started: {live}")
    by_name = {q.name: q for q in spark.streams.active}
    by_name["aggregate"].processAllAvailable()
    by_name["detect"].processAllAvailable()
    for q in spark.streams.active:
        q.stop()
    t.join(timeout=60)
    assert not t.is_alive()

    aggs_dir = os.path.join(work, "aggs")
    streamed = spark.read.parquet(aggs_dir)
    emitted = [
        r.window_start_epoch
        for r in streamed.select("window_start_epoch").distinct().collect()
    ]
    assert emitted

    def batch_aggs(frame):
        records = build_page_records(
            spark.createDataFrame(frame, schema=pages_schema()), CFG
        )
        return long_form_window_aggs(records, CFG, 300, 60, key="lang").filter(
            F.col("window_start_epoch").isin(emitted)
        )

    assert _norm_rows(streamed) == _norm_rows(batch_aggs(pdf))
    # without the dedup the re-fetch would have changed the sums
    assert _norm_rows(streamed) != _norm_rows(batch_aggs(pd.concat(parts)))

    tail_cfg = run_streaming.build_tail(run_streaming.parse_args(argv))
    tails: dict = {}
    expected = []
    for f in sorted(os.listdir(aggs_dir)):
        if not f.endswith(".parquet"):
            continue
        part = pd.read_parquet(os.path.join(aggs_dir, f))
        for key, sub in part.groupby("tail_key", sort=True):
            tail = tails.setdefault(key, StreamingTail(tail_cfg))
            for ws, cur, rec, bd, hier in rows_to_windows(sub):
                for row in tail.process_window(ws, cur, rec, bd, hier):
                    expected.append({"tail_key": key, **row})

    def norm(rows):
        return sorted(
            tuple(
                f"{v:.6f}" if isinstance(v, float) else str(v)
                for v in (r[c] for c in sorted(r) if c != "row_type")
            )
            for r in rows
        )

    for kind, table in (("alert", "alerts"), ("rca", "rca")):
        got = [r.asDict() for r in spark.read.parquet(os.path.join(work, table)).collect()]
        assert got, f"no {kind} rows"
        assert norm(got) == norm(e for e in expected if e["row_type"] == kind), kind



def test_streaming_decontaminate(spark, tmp_path):
    """Stream-side eval-overlap gate: the survivors of the streamed
    gate equal the batch decontaminate's clean set on the same rows,
    contaminated docs are dropped mid-stream (stateless, no watermark
    needed), and the batch twin of the same operator agrees."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        decontaminate,
        streaming_decontaminate,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(300)
    pdf = docs[["doc_id", "text"]].reset_index(drop=True)
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(pdf, src, 3)

    bench = spark.createDataFrame(pdf[pdf.doc_id % 25 == 0][["text"]])

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    gated = streaming_decontaminate(stream, bench, n=8)
    q = (
        gated.writeStream.format("memory").queryName("decon_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed_clean = {
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM decon_stream").collect()
    }

    batch_df = spark.createDataFrame(pdf)
    batch_clean = {
        r["doc_id"]
        for r in decontaminate(batch_df, bench, n=8)
        .filter("NOT contaminated")
        .collect()
    }
    assert streamed_clean == batch_clean
    # the gate actually fired: every %25 benchmark doc is dropped
    assert all(d % 25 != 0 for d in streamed_clean)
    assert len(streamed_clean) < len(pdf)
    # batch twin of the streaming operator agrees too
    twin_clean = {
        r["doc_id"] for r in streaming_decontaminate(batch_df, bench, n=8).collect()
    }
    assert twin_clean == batch_clean


def test_minhash_signature_expr_matches_batch(spark):
    """The streaming-safe expression-only signature must be
    bit-identical to the batch window/aggregation signature (it feeds
    the SAME band hashing, so one mismatched minhash silently changes
    candidate sets), and must yield NULL exactly where the batch
    version emits no row (docs with < n tokens)."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        minhash_signature_expr,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(50)
    rows = [(int(r.doc_id), r.text) for r in pdf.itertuples()] + [
        (900001, "two tokens"),          # < n=3 tokens -> no signature
        (900002, "exactly three tokens"),
        (900003, "  leading   and trailing  spaces  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(docs).collect()
    }
    expr = {
        r["doc_id"]: (list(r["sig"]) if r["sig"] is not None else None)
        for r in docs.select(
            "doc_id", minhash_signature_expr(F.col("text")).alias("sig")
        ).collect()
    }
    assert expr[900001] is None and 900001 not in batch
    for did, sig in batch.items():
        assert expr[did] == sig, did
    assert len(batch) == len(rows) - 1


def test_streaming_minhash_lsh_matches_batch(spark, tmp_path):
    """Streaming fuzzy-dedup candidate stage == its batch twin on a
    planted near-dup stream: near-copies (one appended word) and exact
    copies of fixture docs arrive later in event time; every band
    collision the batch self-join finds must be emitted by the
    stateful bucket operator with the same (earlier, later) ordering,
    and the planted copies must actually collide."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        streaming_minhash_lsh,
    )

    base = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(60)[
        ["doc_id", "text"]
    ].reset_index(drop=True)
    near = base[base.doc_id % 3 == 0].copy()
    near["doc_id"] = near["doc_id"] + 100000
    near["text"] = near["text"] + " appendedword"
    exact = base[base.doc_id % 7 == 0].copy()
    exact["doc_id"] = exact["doc_id"] + 200000
    pdf = pd.concat([base, near, exact], ignore_index=True)
    t0 = pd.Timestamp("2024-01-01")
    pdf["ts"] = (t0 + pd.to_timedelta(pdf.index * 60, unit="s")).astype(
        "datetime64[us]"
    )
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(pdf, src, 3)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_minhash_lsh(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("lsh_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        (r.doc_a, r.doc_b, r.band_idx, r.band_hash)
        for r in spark.sql(
            "SELECT doc_a, doc_b, band_idx, band_hash FROM lsh_stream"
        ).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.band_idx, r.band_hash)
        for r in streaming_minhash_lsh(spark.createDataFrame(pdf)).collect()
    }
    assert streamed == batch
    # the plant worked: every exact copy collides with its original in
    # ALL bands, and most near-copies collide in at least one band
    pair_set = {(a, b) for a, b, _, _ in streamed}
    exact_hits = sum(
        1 for d in exact.doc_id if (int(d) - 200000, int(d)) in pair_set
    )
    near_hits = sum(
        1 for d in near.doc_id if (int(d) - 100000, int(d)) in pair_set
    )
    assert exact_hits == len(exact)
    assert near_hits >= len(near) * 0.8
    assert all(a < 100000 or b > a for a, b, _, _ in streamed)


def test_streaming_minhash_lsh_out_of_order_redelivery_hotbucket(spark, tmp_path):
    """The three r6-ADVICE edge cases of the streaming LSH stage, on a
    corpus of identical-text docs (every pair collides in all bands):

    1. OUT-OF-ORDER arrival inside the watermark span — doc 11
       (ts 10:00) arrives AFTER doc 12 (ts 10:30); the emitted pair
       must still be oriented (11, 12) by event time, not by arrival.
    2. RE-DELIVERY — doc 12 arrives twice; no self-pair (a == b) and
       no duplicate pair rows may be emitted.
    3. HOT-BUCKET cap — with max_group=3 and 6 colliding docs, only
       the first 3 admitted per bucket pair up: 3 pairs per band, not
       C(6,2)=15, and the batch twin with the same cap agrees."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        streaming_minhash_lsh,
    )

    text = "the same boilerplate sentence repeated on every page here"
    t0 = pd.Timestamp("2024-01-01 10:00:00")

    def mk(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "ts"])
        pdf["text"] = text
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        return pdf[["doc_id", "text", "ts"]]

    # arrival chunks: doc 12 (later ts) first, then doc 11 (earlier
    # ts, still inside the 4h watermark), then doc 12 re-delivered
    # alongside docs 13..16 which saturate the cap
    c1 = mk([(12, t0 + pd.Timedelta("30 min"))])
    c2 = mk([(11, t0)])
    c3 = mk(
        [(12, t0 + pd.Timedelta("30 min"))]
        + [(13 + k, t0 + pd.Timedelta(f"{40 + k} min")) for k in range(4)]
    )
    src = tmp_path / "docs"
    src.mkdir()
    for i, c in enumerate([c1, c2, c3]):
        _write_chunks(c, src, 1, start_idx=i)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_minhash_lsh(stream, watermark="4 hours", max_group=3)
        .writeStream.format("memory")
        .queryName("lsh_edge")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql(
        "SELECT doc_a, doc_b, band_idx, band_hash, event_ts FROM lsh_edge"
    ).collect()

    # no self-pairs, no duplicate emissions
    assert all(r.doc_a != r.doc_b for r in out)
    keys = [(r.doc_a, r.doc_b, r.band_idx) for r in out]
    assert len(keys) == len(set(keys))
    pair_set = {(r.doc_a, r.doc_b) for r in out}
    # orientation by event time despite reversed arrival
    assert (11, 12) in pair_set and (12, 11) not in pair_set
    # the (11,12) pair's event_ts is the LATER doc's (doc 12, 10:30)
    ts_11_12 = {r.event_ts for r in out if (r.doc_a, r.doc_b) == (11, 12)}
    assert ts_11_12 == {t0 + pd.Timedelta("30 min")}
    # cap: admitted = first 3 by arrival (12, 11, 13); docs 14-16
    # never pair, so pairs per band = 3
    assert pair_set == {(11, 12), (11, 13), (12, 13)}
    # batch twin with the same cap agrees (arrival order == ts order
    # is not required for the capped SET here because admitted docs
    # {11,12,13} are also the first 3 by (ts, id))
    batch_pdf = pd.concat([c1, c2, c3], ignore_index=True).drop_duplicates()
    batch = {
        (r.doc_a, r.doc_b, r.band_idx, r.band_hash)
        for r in streaming_minhash_lsh(
            spark.createDataFrame(batch_pdf), max_group=3
        ).collect()
    }
    assert batch == {(r.doc_a, r.doc_b, r.band_idx, r.band_hash) for r in out}


def test_streaming_shard_manifest(spark, tmp_path):
    """shard_manifest runs UNCHANGED on a stream (complete mode): all
    its aggregates are incrementally mergeable and state is exactly
    n_shards rows. The live manifest after the last micro-batch must
    equal the batch manifest over the same rows — including the XOR
    membership checksum, whose commutativity is what makes the
    incremental fold order-independent across micro-batches."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        shard_manifest,
    )

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(300)[
        ["doc_id", "text"]
    ]
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(pdf, src, 3)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        shard_manifest(stream, n_shards=8)
        .writeStream.format("memory").queryName("shard_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.shard: (r.n_docs, r.n_tokens, r.total_chars,
                  r.min_order_key, r.max_order_key, r.ids_xor)
        for r in spark.sql("SELECT * FROM shard_stream").collect()
    }
    want = {
        r.shard: (r.n_docs, r.n_tokens, r.total_chars,
                  r.min_order_key, r.max_order_key, r.ids_xor)
        for r in shard_manifest(spark.createDataFrame(pdf), n_shards=8).collect()
    }
    assert got == want and sum(v[0] for v in got.values()) == 300


def test_streaming_incremental_lsh_matches_batch_and_incremental(spark, tmp_path):
    """Streaming fuzzy cross-snapshot tier (r6 VERDICT #5): planted
    near-dups of the CURATED corpus are caught in-stream via the
    stream-static band-bucket probe (side='old', zero state), planted
    in-stream near-dups via the LSH state (side='new'); the whole
    candidate table equals the batch twin; and every doc
    incremental_near_dups verifies as an exact-copy old-match on the
    SAME corpus appears among the streaming candidates."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        banded_signature_table,
        incremental_near_dups,
        streaming_incremental_lsh,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(80)[
        ["doc_id", "text"]
    ].reset_index(drop=True)
    old_pdf = docs.iloc[:40]
    fresh = docs.iloc[40:].copy()
    fresh["doc_id"] = fresh["doc_id"] + 100000
    xcopy = old_pdf[old_pdf.doc_id % 4 == 0].copy()      # exact old copies
    xcopy["doc_id"] = xcopy["doc_id"] + 200000
    xnear = old_pdf[old_pdf.doc_id % 4 == 1].copy()      # near old copies
    xnear["doc_id"] = xnear["doc_id"] + 300000
    xnear["text"] = xnear["text"] + " appendedword"
    innear = fresh.head(8).copy()                        # in-stream near-dups
    innear["doc_id"] = innear["doc_id"] + 400000
    innear["text"] = innear["text"] + " tailword"
    new_pdf = pd.concat([fresh, xcopy, xnear, innear], ignore_index=True)
    t0 = pd.Timestamp("2024-01-01")
    new_pdf["ts"] = (t0 + pd.to_timedelta(new_pdf.index * 30, unit="s")).astype(
        "datetime64[us]"
    )
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(new_pdf, src, 3)

    old = spark.createDataFrame(old_pdf)
    old_banded_dir = str(tmp_path / "old_banded")
    banded_signature_table(old).write.parquet(old_banded_dir)
    old_banded = spark.read.parquet(old_banded_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_incremental_lsh(stream, old_banded, watermark="4 hours")
        .writeStream.format("memory")
        .queryName("inc_lsh_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        (r.doc_a, r.doc_b, r.band_idx, r.side)
        for r in spark.sql(
            "SELECT doc_a, doc_b, band_idx, side FROM inc_lsh_stream"
        ).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.band_idx, r.side)
        for r in streaming_incremental_lsh(
            spark.createDataFrame(new_pdf), old_banded, watermark="4 hours"
        ).collect()
    }
    assert streamed == batch

    old_pairs = {(a, b) for a, b, _, s in streamed if s == "old"}
    new_pairs = {(a, b) for a, b, _, s in streamed if s == "new"}
    # every planted exact old-copy collides with its original
    for d in xcopy.doc_id:
        assert (int(d) - 200000, int(d)) in old_pairs
    # most near old-copies collide in at least one band
    hits = sum(1 for d in xnear.doc_id if (int(d) - 300000, int(d)) in old_pairs)
    assert hits >= len(xnear) * 0.8
    # in-stream near-dups pair through the stateful tier
    in_hits = sum(
        1 for d in innear.doc_id if (int(d) - 400000, int(d)) in new_pairs
    )
    assert in_hits >= len(innear) * 0.8

    # parity with the BATCH incremental operator on the same corpus:
    # every exact-copy doc it verifies as an old-match appears among
    # the streaming candidates
    inc = {
        r.doc_id: r.n_old_matches
        for r in incremental_near_dups(
            old, spark.createDataFrame(new_pdf[["doc_id", "text"]])
        ).collect()
    }
    for d in xcopy.doc_id:
        assert inc[int(d)] >= 1
        assert any(b == int(d) for _, b in old_pairs)


def test_streaming_incremental_lsh_checkpoint_resume(spark, tmp_path):
    """Kill/resume for the fuzzy cross-snapshot tier: both the
    stream-static probe (stateless) and the in-stream bucket state
    ride the checkpoint; the resumed candidate table equals one
    uninterrupted run, with no duplicates."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        banded_signature_table,
        streaming_incremental_lsh,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(60)[
        ["doc_id", "text"]
    ].reset_index(drop=True)
    old_pdf = docs.iloc[:30]
    new_pdf = docs.iloc[30:].copy()
    new_pdf["doc_id"] = new_pdf["doc_id"] + 100000
    # copies of OLD docs land in the SECOND half of the stream (after
    # the restart), plus an in-stream mirror whose original is in the
    # first half
    late = old_pdf.head(10).copy()
    late["doc_id"] = late["doc_id"] + 200000
    mirror = new_pdf.head(5).copy()
    mirror["doc_id"] = mirror["doc_id"] + 300000
    pdf = pd.concat([new_pdf, late, mirror], ignore_index=True)
    t0 = pd.Timestamp("2024-01-01")
    pdf["ts"] = (t0 + pd.to_timedelta(pdf.index * 30, unit="s")).astype(
        "datetime64[us]"
    )

    old_banded_dir = str(tmp_path / "old_banded")
    banded_signature_table(spark.createDataFrame(old_pdf)).write.parquet(
        old_banded_dir
    )

    def run(src_dir, out_dir, ckpt_dir):
        old_banded = spark.read.parquet(old_banded_dir)
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src_dir))
        )
        q = (
            streaming_incremental_lsh(stream, old_banded, watermark="4 hours")
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt_dir))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    inc = tmp_path / "inc_src"
    inc.mkdir()
    half = len(pdf) // 2
    _write_chunks(pdf.iloc[:half], inc, 2, start_idx=0)
    run(inc, tmp_path / "inc_out", tmp_path / "inc_ckpt")
    _write_chunks(pdf.iloc[half:], inc, 2, start_idx=2)
    run(inc, tmp_path / "inc_out", tmp_path / "inc_ckpt")

    alldir = tmp_path / "all_src"
    alldir.mkdir()
    _write_chunks(pdf, alldir, 4)
    run(alldir, tmp_path / "gold_out", tmp_path / "gold_ckpt")

    got = [
        (r.doc_a, r.doc_b, r.band_idx, r.side)
        for r in spark.read.parquet(str(tmp_path / "inc_out")).collect()
    ]
    want = {
        (r.doc_a, r.doc_b, r.band_idx, r.side)
        for r in spark.read.parquet(str(tmp_path / "gold_out")).collect()
    }
    assert len(got) == len(set(got))
    assert set(got) == want
    # the post-restart old-copies still probed the static table, and
    # the post-restart mirror still paired with its pre-restart
    # original through the resumed bucket state
    assert any(s == "old" and 200000 <= b < 400000 for _, b, _, s in got)
    assert any(
        s == "new" and b >= 400000 and a == b - 300000 for a, b, _, s in got
    )


def test_streaming_incremental_lsh_banding_mismatch_raises(spark, tmp_path):
    """r7 ADVICE: a banded_signature_table built with different LSH
    params used to silently emit ~zero side='old' candidates (band
    keys never match). The params are now stamped into band_hash's
    column metadata — which must survive the parquet round-trip —
    and both consumers raise at plan time on mismatch."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        banded_signature_table,
        incremental_near_dups,
        streaming_incremental_lsh,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i}") for i in range(10)],
        "doc_id long, text string",
    )
    old_dir = str(tmp_path / "old_banded16")
    banded_signature_table(docs, bands=16).write.parquet(old_dir)
    old_banded = spark.read.parquet(old_dir)
    meta = old_banded.schema["band_hash"].metadata
    assert meta["bands"] == 16 and meta["num_hashes"] == 64  # round-trip

    from datetime import datetime

    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta tok1", datetime(2024, 1, 1))],
        "doc_id long, text string, ts timestamp",
    )
    with pytest.raises(ValueError, match="different LSH"):
        streaming_incremental_lsh(new, old_banded)  # consumer bands=32
    with pytest.raises(ValueError, match="different LSH"):
        incremental_near_dups(docs, new.drop("ts"), old_banded=old_banded)
    # matching params pass the gate
    streaming_incremental_lsh(new, old_banded, bands=16)
    incremental_near_dups(docs, new.drop("ts"), bands=16, old_banded=old_banded)


def test_streaming_incremental_lsh_old_hot_bucket_capped(spark, tmp_path):
    """r7 VERDICT #2: the stream-static 'old' tier applies the same
    bucket-size cap as minhash_lsh_pairs — a boilerplate bucket in
    the curated corpus (here 30 identical docs) with max_group=10
    emits ZERO old-side candidates for a stream doc hashing into it,
    while an under-cap cluster (3 docs) still pairs fully; the batch
    twin produces the identical candidate set on the fixture."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        banded_signature_table,
        streaming_incremental_lsh,
    )

    hot = "the same boilerplate footer text repeated on every page"
    warm = "a rare licensing notice appearing on three curated pages"
    old_pdf = pd.DataFrame(
        {"doc_id": range(33), "text": [hot] * 30 + [warm] * 3}
    )
    old_dir = str(tmp_path / "old_banded")
    banded_signature_table(spark.createDataFrame(old_pdf)).write.parquet(old_dir)
    old_banded = spark.read.parquet(old_dir)

    new_pdf = pd.DataFrame(
        {
            "doc_id": [1000, 1001, 1002],
            "text": [hot, warm, "an unrelated fresh document body here"],
        }
    )
    t0 = pd.Timestamp("2024-01-01")
    new_pdf["ts"] = (t0 + pd.to_timedelta(new_pdf.index * 30, unit="s")).astype(
        "datetime64[us]"
    )
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(new_pdf, src, 1)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_incremental_lsh(
            stream, old_banded, watermark="4 hours", max_group=10
        )
        .writeStream.format("memory")
        .queryName("hot_bucket_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = [
        (r.doc_a, r.doc_b, r.band_idx, r.side)
        for r in spark.sql(
            "SELECT doc_a, doc_b, band_idx, side FROM hot_bucket_stream"
        ).collect()
    ]
    old_rows = [(a, b) for a, b, _, s in streamed if s == "old"]
    # hot bucket (30 > 10) dropped: zero candidates for the hot probe
    assert not any(b == 1000 for _, b in old_rows)
    # warm cluster (3 <= 10) pairs fully: 3 old docs x 32 bands
    warm_rows = [(a, b) for a, b in old_rows if b == 1001]
    assert len(warm_rows) == 3 * 32
    assert {a for a, _ in warm_rows} == {30, 31, 32}
    # the unrelated doc matches nothing
    assert not any(b == 1002 for _, b in old_rows)

    batch = [
        (r.doc_a, r.doc_b, r.band_idx, r.side)
        for r in streaming_incremental_lsh(
            spark.createDataFrame(new_pdf),
            old_banded,
            watermark="4 hours",
            max_group=10,
        ).collect()
    ]
    assert sorted(streamed) == sorted(batch)


def test_streaming_cross_snapshot_dedup(spark, tmp_path):
    """Stream-static anti-join dedup against the prior corpus: rows
    whose content already exists in the static OLD table never leave
    the stream (zero state — the static side re-evaluates per
    micro-batch), and within-stream duplicates still dedupe through
    the watermark state. Result equals the batch twin on the same
    rows."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        streaming_cross_snapshot_dedup,
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(200)
    old_pdf = docs.iloc[:80][["doc_id", "text"]]
    base = pd.Timestamp("2024-01-01")
    new_rows = pd.concat([
        docs.iloc[60:120],                   # 60..79 already curated -> dropped
        docs.iloc[100:110].assign(           # in-stream duplicates -> deduped
            doc_id=lambda d: d.doc_id + 1_000_000
        ),
    ])[["doc_id", "text"]].reset_index(drop=True)
    new_rows = new_rows.assign(
        ts=[base + pd.Timedelta(seconds=5 * i) for i in range(len(new_rows))]
    )
    new_rows["ts"] = new_rows["ts"].astype("datetime64[us]")
    src = tmp_path / "docs"
    src.mkdir()
    _write_chunks(new_rows, src, 3)

    old = spark.createDataFrame(old_pdf)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        streaming_cross_snapshot_dedup(stream, old, watermark="10 minutes")
        .writeStream.format("memory").queryName("xsnap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT content_sha FROM xsnap_stream").collect()
    shas = [r.content_sha for r in got]

    batch = streaming_cross_snapshot_dedup(spark.createDataFrame(new_rows), old)
    want = {r.content_sha for r in batch.select("content_sha").collect()}

    assert len(shas) == len(set(shas))
    assert set(shas) == want
    # every already-curated text (ids 60..79) was dropped; survivors
    # are the 40 fresh texts (80..119), each exactly once
    assert len(shas) == 40
