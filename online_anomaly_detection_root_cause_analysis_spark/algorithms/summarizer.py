"""ExponentiallyDecayingEmergingItemsets: MacroBase RCA summarizer.

Port of root_cause_analysis/ExponentiallyDecayingEmergingItemsets.scala
:19-417 — the largest reference operator. Per anomaly event: encode the
record's (dim name, value) set to ints, mark it in outlier/inlier AMC
heavy-hitter sketches + streaming FP-trees; every
`summary_update_period + 1` tuples decay both AMCs and rebuild the
FP-trees restricted to currently-interesting items; every
`summarization_time + 1` tuples emit itemset explanations ranked by
(num_records desc, itemset size desc).

Quirks kept (SURVEY.md §7.4):
- updateModels' risk-ratio filter result is discarded — every item
  above support becomes "interesting" (:223-241);
- the pre-emit `sortBy(-ratioToInliers).take(k)` result is discarded —
  all itemsets are emitted in final-sort order (:167-172);
- one `interesting_items` dict is passed to BOTH pattern trees
  (shared by reference, see fptree.py docstring).

Deviation: missing inlier counts read as 0.0 in getSingleItemItemsets
(the reference would NPE-unbox a null there, :298 — unreachable in its
tests); emission stamps are the deterministic tuple sequence number,
not wall-clock `now()` (SURVEY.md §7.4.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .amc import AmortizedMaintenanceCounter
from .encoder import IntegerEncoder
from .fptree import StreamingFPGrowth
from .models import (
    AggregatedRecordsWBaseline,
    AnomalyEvent,
    DimensionSummary,
    ItemsetWithCount,
    RCAResult,
)
from .riskratio import compute_risk_ratio


@dataclass
class SummarizerSpec:
    """EWStreamingSummarizerSpec.scala:3-14."""

    summary_update_period: int
    decay_rate: float
    outlier_item_summary_size: int
    inlier_item_summary_size: int
    min_oi_ratio: float
    min_support: float
    attributes: list[str]
    attribute_combinations: bool
    summary_generation_period: int


@dataclass
class ExponentiallyDecayingEmergingItemsets:
    inlier_summary_size: int
    outlier_summary_size: int
    min_support_outlier: float
    min_ratio: float
    exponential_decay_rate: float
    attribute_dimension: int
    combinations_enabled: bool
    summary_update_period: int
    summarization_time: int
    encoder: IntegerEncoder = field(default_factory=IntegerEncoder)

    tuple_count: int = 0
    num_inliers: float = 0.0
    num_outliers: float = 0.0

    def __post_init__(self) -> None:
        self.outlier_count_summary = AmortizedMaintenanceCounter(self.outlier_summary_size)
        self.inlier_count_summary = AmortizedMaintenanceCounter(self.inlier_summary_size)
        self.outlier_pattern_summary = StreamingFPGrowth(self.min_support_outlier)
        self.inlier_pattern_summary = StreamingFPGrowth(0.0)

    @classmethod
    def from_spec(cls, spec: SummarizerSpec, encoder: IntegerEncoder | None = None):
        # wiring mirrors EWStreamingSummarizer.scala:7-17
        kwargs = {}
        if encoder is not None:
            kwargs["encoder"] = encoder
        return cls(
            inlier_summary_size=spec.inlier_item_summary_size,
            outlier_summary_size=spec.outlier_item_summary_size,
            min_support_outlier=spec.min_support,
            min_ratio=spec.min_oi_ratio,
            exponential_decay_rate=spec.decay_rate,
            attribute_dimension=len(spec.attributes),
            combinations_enabled=spec.attribute_combinations,
            summary_update_period=spec.summary_update_period,
            summarization_time=spec.summary_generation_period,
            **kwargs,
        )

    # --- per-event processing (processElement, :110-205) -------------------
    def process(self, event: AnomalyEvent) -> list[RCAResult]:
        self.tuple_count += 1
        out: list[RCAResult] = []

        if self.tuple_count % (self.summary_update_period + 1) == 0:
            self._mark_period()

        if self.tuple_count % (self.summarization_time + 1) == 0:
            # the reference's ratio-sorted take() is computed and
            # discarded (:169-171); all itemsets are emitted
            for result in self.get_itemsets():
                result.detected_at = self.tuple_count
                out.append(result)

        if event.is_outlier:
            self._mark_outlier(event.record)
        else:
            self._mark_inlier(event.record)
        return out

    # --- model maintenance (:214-255) ---------------------------------------
    def _update_models(self, do_decay: bool) -> None:
        if not self.combinations_enabled or self.attribute_dimension == 1:
            return
        outlier_counts = self.outlier_count_summary.get_counts()
        support_required = int(
            self.outlier_count_summary.get_total_count() * self.min_support_outlier
        )
        interesting: dict[int, float] = {}
        for item, count in outlier_counts.items():
            if count < support_required:
                continue
            # NOTE: the reference computes an inlier risk-ratio filter
            # here and ignores its outcome (:230-238) — all items above
            # support are kept
            interesting[item] = count
        decay = self.exponential_decay_rate if do_decay else 0.0
        # one dict shared by both trees, as in the reference (:243-246)
        self.outlier_pattern_summary.decay_and_reset_frequent_items(interesting, decay)
        self.inlier_pattern_summary.decay_and_reset_frequent_items(interesting, decay)

    def _mark_period(self) -> None:
        self.outlier_count_summary.multiply_all_counts(1 - self.exponential_decay_rate)
        self.inlier_count_summary.multiply_all_counts(1 - self.exponential_decay_rate)
        self._update_models(do_decay=True)

    # --- event marking (:257-283) --------------------------------------------
    def _integer_attributes(self, record: AggregatedRecordsWBaseline) -> list[int]:
        return [
            self.encoder.get_integer_encoding(dim)
            for dim in record.current_dimensions_breakdown.keys()
        ]

    def _mark_outlier(self, record: AggregatedRecordsWBaseline) -> None:
        self.num_outliers += 1
        attributes = self._integer_attributes(record)
        self.outlier_count_summary.observe_all(attributes)
        if not self.combinations_enabled or self.attribute_dimension > 1:
            self.outlier_pattern_summary.insert_transaction_false_negative(set(attributes))

    def _mark_inlier(self, record: AggregatedRecordsWBaseline) -> None:
        self.num_inliers += 1
        attributes = self._integer_attributes(record)
        self.inlier_count_summary.observe_all(attributes)
        if not self.combinations_enabled or self.attribute_dimension > 1:
            self.inlier_pattern_summary.insert_transaction_false_negative(set(attributes))

    # --- summary emission (:285-417) ------------------------------------------
    def _single_item_itemsets(self) -> list[RCAResult]:
        support_required = (
            self.outlier_count_summary.get_total_count() * self.min_support_outlier
        )
        ret: list[RCAResult] = []
        inlier_counts = self.inlier_count_summary.get_counts()
        outlier_counts = self.outlier_count_summary.get_counts()
        for item, count in list(outlier_counts.items()):
            if count < support_required:
                continue
            ratio = compute_risk_ratio(
                inlier_counts.get(item, 0.0),
                count,
                self.inlier_count_summary.get_total_count(),
                self.outlier_count_summary.get_total_count(),
            ).get_corrected_risk_ratio()
            if ratio > self.min_ratio:
                dimension = self.encoder.get_attribute(item)
                ret.append(
                    RCAResult(
                        related_anomaly_id=None,
                        detected_at=self.tuple_count,
                        current_total=0.0,
                        baseline_total=0.0,
                        support=count / self.outlier_count_summary.get_total_count(),
                        num_records=count,
                        ratio_to_inliers=ratio,
                        dimension_group="all",
                        dimension_summaries=[
                            DimensionSummary(dimension, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
                        ],
                    )
                )
        return ret

    def get_itemsets(self) -> list[RCAResult]:
        ret = self._single_item_itemsets()
        if not self.combinations_enabled or self.attribute_dimension == 1:
            return ret

        iwc = self.outlier_pattern_summary.get_itemsets()
        iwc.sort(key=lambda x: (-x.count, -len(x.items)))

        ratio_sets_to_check: list[ItemsetWithCount] = []
        prev_set: frozenset[int] | None = None
        prev_count = -1.0
        for i in iwc:
            if i.count == prev_count and prev_set is not None and i.items <= prev_set:
                continue  # duplicate subset of an equal-count superset (:345-350)
            prev_count = i.count
            prev_set = i.items
            if len(i.items) != 1:
                ratio_sets_to_check.append(i)

        matching_inlier_counts = self.inlier_pattern_summary.get_counts(ratio_sets_to_check)
        assert len(matching_inlier_counts) == len(ratio_sets_to_check)
        for ic, oc in zip(matching_inlier_counts, ratio_sets_to_check):
            ratio = compute_risk_ratio(
                ic.count,
                oc.count,
                self.inlier_count_summary.get_total_count(),
                self.outlier_count_summary.get_total_count(),
            ).get_corrected_risk_ratio()
            if ratio >= self.min_ratio:
                summaries = [
                    DimensionSummary(
                        self.encoder.get_attribute(item), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0
                    )
                    for item in sorted(oc.items)
                ]
                ret.append(
                    RCAResult(
                        related_anomaly_id=None,
                        detected_at=self.tuple_count,
                        current_total=0.0,
                        baseline_total=0.0,
                        support=oc.count / self.outlier_count_summary.get_total_count(),
                        num_records=oc.count,
                        ratio_to_inliers=ratio,
                        dimension_group="all",
                        dimension_summaries=summaries,
                    )
                )

        ret.sort(key=lambda x: (-x.num_records, -len(x.dimension_summaries)))
        return ret

