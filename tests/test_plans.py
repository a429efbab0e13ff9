"""Plan-shape regression tests: the scale assumptions must be visible
in the physical plan — column pruning reaches the parquet scan (never
read `html`/`text` when the metric is precomputed), small sides
broadcast, aggregations are partial+final, the hot paths stay in
whole-stage codegen."""

import __spark_entry__ as e
from online_anomaly_detection_root_cause_analysis_spark.plans import (
    explain_str,
    read_schema_columns,
)

SF_DIR = "/root/testdata/sf0.001"


def test_events_scan_prunes_columns(spark):
    df = e.q_sliding_window_sum(spark, SF_DIR)
    scans = read_schema_columns(df)
    assert scans, "expected a parquet scan"
    for cols in scans:
        # only ts + value needed; props/event json must not be read
        assert "props" not in cols
        assert "event_id" not in cols


def test_window_agg_is_partial_final(spark):
    df = e.q_sliding_window_sum(spark, SF_DIR)
    plan = explain_str(df)
    # the long-form window aggregation is one partial + final
    # HashAggregate pair around its one shuffle (map-side combine),
    # with no Python in the plan
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_breakdown_stays_jvm_side(spark):
    df = e.q_dimension_breakdown(spark, SF_DIR)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # no pandas UDF either
    assert plan.count("HashAggregate") >= 2


def test_pages_metric_path_never_reads_html(spark, tmp_path):
    from online_anomaly_detection_root_cause_analysis_spark.config import (
        web_pages_config,
    )
    from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
        PagesSpec,
        write_pages,
        read_pages,
    )
    from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
        build_page_records,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )

    path = str(tmp_path / "pages")
    write_pages(spark, path, PagesSpec(n_pages=500), partitions=2)
    cfg = web_pages_config()
    # default path uses the materialized text column: the binary html
    # column must be pruned out of the scan entirely (the single
    # biggest I/O lever at web scale, SURVEY.md §4.1)
    records = build_page_records(read_pages(spark, path), cfg)
    aggs = long_form_window_aggs(records, cfg, 300, 60, None)
    for cols in read_schema_columns(aggs):
        assert "html" not in cols


def test_dedup_hot_path_no_python(spark):
    df = e.q_minhash_lsh(spark, SF_DIR)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_text_features_stay_jvm_side(spark):
    """language_id + fingerprints are pure column math since round 2
    (VERDICT r1 'What's wrong' #1) — no Python of any kind in the
    plan."""
    for q in (e.q_language_id, e.q_fingerprints, e.q_text_stats):
        plan = explain_str(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_near_duplicates_candidates_not_force_broadcast(spark):
    """VERDICT r2 #3: the candidate side of near_duplicates carries NO
    mandatory broadcast hint — at tested scales AQE still picks a
    broadcast join from runtime stats, but at 10^12 docs the candidate
    pair set can exceed driver memory (band buckets are capped at 1000
    EACH, not in total) and the optimizer must be free to shuffle-join
    it. Everything stays JVM-side."""
    df = e.q_near_duplicates(spark, SF_DIR)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, "no join hint may be forced"
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_r4_queries_plan_shape(spark):
    """The summarizer gate's and the threshold/contributor queries'
    only Python is the single fused tail (formatted explain lists each
    node twice: tree + detail section)."""
    for q in (
        e.q_macrobase_summaries_single,
        e.q_threshold_alerts,
        e.q_simple_contributors,
        e.q_hierarchical_contributors,
        e.q_hierarchical_contributors_cooc,
    ):
        plan = explain_str(q(spark, SF_DIR))
        assert plan.count("FlatMapGroupsInPandas (") == 1, q.__name__
        assert "BatchEvalPython" not in plan, q.__name__
        assert "ArrowEvalPython" not in plan, q.__name__


def test_r5_queries_plan_shape(spark):
    """Plan hygiene for the round-5 queries: the text-pipeline
    operators are pure JVM column plans (no Python node in any form);
    repetition shows partial+final aggregation (map-side combine
    before its one shuffle); quality filter, sampling, and
    PII redaction are pure map-side (no Exchange at all); the pairs
    gate's dominant-value filter is pushed into a WindowGroupLimit
    (top-1 pruned map-side BEFORE the shuffle)."""
    for q in (
        e.q_repetition_ratios,
        e.q_quality_filter,
        e.q_stratified_sample,
        e.q_curation_pipeline,
        e.q_pii_redaction,
    ):
        plan = explain_str(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, q.__name__
        assert "ArrowEvalPython" not in plan, q.__name__
        assert "FlatMapGroupsInPandas" not in plan, q.__name__

    rep = explain_str(e.q_repetition_ratios(spark, SF_DIR))
    assert rep.count("HashAggregate") >= 2  # partial + final gram counts

    for q in (e.q_quality_filter, e.q_stratified_sample, e.q_pii_redaction):
        plan = explain_str(q(spark, SF_DIR))
        assert "Exchange" not in plan, f"{q.__name__} should be map-side only"

    pairs = explain_str(e.q_macrobase_summaries_pairs(spark, SF_DIR))
    assert "WindowGroupLimit" in pairs
    assert pairs.count("FlatMapGroupsInPandas (") == 1


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark n-gram side is bounded (MBs of eval data even at
    a 100-TB corpus) and must broadcast: the contamination probe is a
    map-side BroadcastHashJoin on the exploded corpus grams — no
    corpus-wide shuffle for the match — and the whole plan stays JVM."""
    df = e.q_decontamination(spark, SF_DIR)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # rollup keeps map-side partial aggregation
    assert plan.count("HashAggregate") >= 2


def test_url_host_stats_stays_jvm_with_partial_agg(spark):
    """URL canonicalization is pure JVM regexp column math; the host
    rollup's aggregates are all algebraic so the plan must show
    partial+final HashAggregate around ONE exchange (map-side combine
    absorbs host-key skew before the shuffle)."""
    df = e.q_url_host_stats(spark, SF_DIR)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_line_dedup_stays_jvm_partial_agg(spark):
    """Line-level dedup is pure JVM: posexplode + df count with
    map-side partials, line-key-co-partitioned filter join, one doc_id
    reassembly shuffle whose ordering comes from array_sort on carried
    (pos, line) structs — no window function, no Python node."""
    df = e.q_line_dedup(spark, SF_DIR)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Window" not in plan  # reassembly must not be a window sort
    assert plan.count("HashAggregate") >= 2


def test_blocklist_filter_broadcast_anti_join(spark):
    """The blocklist gate must be a broadcast LEFT ANTI join: the
    small host dimension ships to executors and the page-table filter
    is map-side — no Exchange on the page side, no Python."""
    df = e.q_blocklist_filter(spark, SF_DIR)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan
    # page side must not shuffle: only the broadcast exchange appears
    import re
    non_broadcast_exchanges = [
        m for m in re.findall(r"Exchange \w+", plan)
        if "SinglePartition" not in m and "hashpartitioning" in m
    ]
    assert not non_broadcast_exchanges, plan


def test_duplicate_spans_plan_shape(spark):
    """Substring-dedup audit stays JVM with exactly the intended
    shuffles: gram counts have map-side partials before their
    exchange, and the single doc_id exchange feeds BOTH window
    functions AND both downstream groupBys (island spans + per-doc
    rollup) with no re-partitioning between them."""
    df = e.q_duplicate_spans(spark, SF_DIR)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("HashAggregate") >= 6  # partial+final x (cnt, spans, rollup)
    assert plan.count("Window (") == 2  # lag + running sum, no third
    # windows AND the island/doc rollups share ONE doc_id exchange:
    # the only hash shuffles are the gram count and that doc_id
    # exchange (everything else broadcasts at this scale)
    import re

    shuffles = re.findall(r"^\(\d+\) Exchange$", plan, re.MULTILINE)
    assert len(shuffles) == 2, plan


def test_incremental_near_dups_plan_shape(spark):
    """Cross-snapshot dedup must never expand pairs cartesian-wise:
    candidates come only from band-bucket equi-joins, verification
    only touches candidate ids, and nothing drops into Python."""
    df = e.q_incremental_near_dups(spark, SF_DIR)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
