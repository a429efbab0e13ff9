"""End-to-end tests over the Common-Crawl-style pages input
(BASELINE.json input_hint): extraction byte-identity, the dimension
hierarchy, and the planted (lang, host) anomaly surfacing as the top
root cause through threshold detection + RCA in the streaming tail
(make_batch_tail)."""

import pytest
from pyspark.sql import functions as F

from online_anomaly_detection_root_cause_analysis_spark.config import (
    web_pages_config,
    web_pages_parent_value,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
    PagesSpec,
    generate_pages,
    pages_schema,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
    build_page_records,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
    long_form_window_aggs,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    TOTAL_DIM,
    TailConfig,
    make_batch_tail,
)

CFG = web_pages_config()


def _threshold_tail(recs, **rca):
    """Threshold detection + RCA through the streaming tail over
    300 s / 60 s sliding windows, alerting above the p95 window total."""
    aggs = long_form_window_aggs(recs, CFG, 300, 60)
    p95 = (
        aggs.filter(F.col("dim_name") == TOTAL_DIM)
        .agg(F.expr("percentile(dim_sum, 0.95)"))
        .first()[0]
    )
    tail = TailConfig(
        mode="threshold", min_value=0, max_value=float(p95),
        summary_size=CFG.summary_size, **rca,
    )
    return make_batch_tail(aggs, tail)


@pytest.fixture(scope="module")
def pages_df(spark):
    pdf = generate_pages(PagesSpec(n_pages=4000))
    return spark.createDataFrame(pdf, schema=pages_schema()).cache()


def test_extract_text_byte_identical_per_url(spark, pages_df):
    """input_hint invariant: extract_text(html) is byte-identical to
    the materialized text column for every url, and re-running the
    extraction produces identical bytes (pure function)."""
    from online_anomaly_detection_root_cause_analysis_spark.functions.text import (
        extract_text,
    )

    both = pages_df.select(
        "url",
        (extract_text(F.col("html")) == F.col("text")).alias("same"),
        (extract_text(F.col("html")) == extract_text(F.col("html"))).alias("stable"),
    )
    assert both.filter(~F.col("same")).count() == 0
    assert both.filter(~F.col("stable")).count() == 0


def test_parent_value_twin_matches_column_form(spark, pages_df):
    """ADVICE r2: config.web_pages_parent_value must mirror the column
    derivations in url_dimension_cols for every host the generator can
    emit. Assert the multi-label-host invariant (the twin's stated
    precondition) and value-level agreement host->domain->tld."""
    from online_anomaly_detection_root_cause_analysis_spark.config import (
        web_pages_parent_value,
    )

    rows = (
        build_page_records(pages_df, CFG)
        .select("url_host", "url_domain", "url_tld")
        .distinct()
        .collect()
    )
    assert rows
    for r in rows:
        assert r.url_host.count(".") >= 2, f"single/two-label host {r.url_host}"
        assert web_pages_parent_value("url_host", r.url_host) == r.url_domain
        assert web_pages_parent_value("url_domain", r.url_domain) == r.url_tld
    # the unrepresentable single-label-host case fails loudly, never
    # silently diverges from the column form
    with pytest.raises(ValueError):
        web_pages_parent_value("url_domain", "")


def test_url_hierarchy_dimensions(spark, pages_df):
    recs = build_page_records(pages_df, CFG)
    row = recs.filter(F.col("url_host") == "h7.site7.uk").first()
    assert row is not None
    assert row.url_domain == "site7.uk"
    assert row.url_tld == "uk"
    # config levels follow the parent chain
    assert CFG.level("url_tld") == 1
    assert CFG.level("url_domain") == 2
    assert CFG.level("url_host") == 3
    assert CFG.level("lang") == 1


def test_planted_anomaly_is_top_root_cause(spark, pages_df):
    """The anomaly span drives (el, h7.site*.*) volume 8x: the alert
    windows must be the span windows and hierarchical RCA must rank
    lang=el / host h7.* as the top contributors in their groups."""
    out = _threshold_tail(
        build_page_records(pages_df, CFG),
        rca_mode="hierarchical",
        parent_of=dict(CFG.hierarchy_pairs()),
        parent_value_fn=web_pages_parent_value,
    ).collect()
    alerts = [r for r in out if r.row_type == "alert"]
    assert len(alerts) > 0

    rca = [r for r in out if r.row_type == "rca"]
    assert rca
    # top content-group contributor of rank 1 rows should be lang=el
    content_top = [r for r in rca if r.dim_group == "content" and r.rank == 1]
    assert content_top
    el_share = sum(1 for r in content_top if r.dim_value == "el") / len(content_top)
    assert el_share >= 0.8, {r.dim_value for r in content_top}
    # traffic group: the balanced hierarchical cost attributes the
    # change to the TOP of the planted lineage (children that merely
    # follow their parent's ratio aggregate upward — ThirdEye
    # BalancedCostFunction semantics), so rank 1 is url_tld=uk, with
    # site7.uk / h7.site7.uk trailing in the same group
    traffic_top = [r for r in rca if r.dim_group == "traffic" and r.rank == 1]
    assert traffic_top
    # 'uk' dominates rank 1 (a few post-span windows alert on the
    # rebound, where the background tld wins)
    uk_share = sum(1 for r in traffic_top if r.dim_value == "uk") / len(traffic_top)
    assert uk_share >= 0.8, {r.dim_value for r in traffic_top}
    lineage = {"uk", "site7.uk", "h7.site7.uk"}
    in_lineage = [r for r in rca if r.dim_group == "traffic" and r.dim_value in lineage]
    # children of the lineage surface alongside the tld in most windows
    assert len(in_lineage) > len(traffic_top)


def test_simple_rca_on_pages(spark, pages_df):
    rca = (
        _threshold_tail(build_page_records(pages_df, CFG), rca_mode="simple")
        .filter(F.col("row_type") == "rca")
        .collect()
    )
    assert rca
    top_by_anomaly = {}
    for r in rca:
        if r.rank == 1:
            top_by_anomaly[r.window_start_epoch] = (r.dim_name, r.dim_value)
    # the planted lineage (el / uk / site7.uk / h7.site7.uk) dominates
    # rank-1 contributors
    lineage = {"el", "uk", "site7.uk", "h7.site7.uk"}
    hits = sum(1 for (_, value) in top_by_anomaly.values() if value in lineage)
    assert hits / len(top_by_anomaly) >= 0.8
