"""Property/fuzz tests (hypothesis) for the scalar code every record
passes through: the stats replays, the half-space-trees update and the
streaming LSH bucket function. A scalar that raises on one odd input
kills a whole Spark stage, so the invariant under fuzz is "never raise,
return a sane value".
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from online_anomaly_detection_root_cause_analysis_spark.algorithms.hstrees import (
    HalfSpaceTrees,
)
from online_anomaly_detection_root_cause_analysis_spark.algorithms.stats import (
    compute_contribution,
    contribution_change_percentage,
    contribution_to_overall_change_percentage,
    hierarchical_cost,
    value_change_percentage,
)

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@settings(max_examples=300, deadline=None)
@given(b=finite, c=finite, bt=finite, ct=finite)
def test_stats_scalars_never_raise(b, c, bt, ct):
    """The Scala-Double replays must absorb every zero-denominator /
    sign combination like IEEE doubles do, never raise like Python
    division does."""
    for strict in (False, True):
        contribution_to_overall_change_percentage(b, c, bt, ct, strict_parity=strict)
    value_change_percentage(b, c)
    contribution_change_percentage(b, c, bt, ct)
    compute_contribution(b, c, bt, ct)
    hierarchical_cost(b, c, 1.0 if bt == 0 else c / bt if bt else 1.0, 0.5)


@settings(max_examples=100, deadline=None)
@given(
    xs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=1, max_size=200
    )
)
def test_hstrees_update_total(xs):
    """Any [0,1] stream: scores only after the first block, always
    non-negative, bounded by trees * window."""
    hs = HalfSpaceTrees(n_trees=4, depth=4, window=16, threshold=2.0, seed=7)
    for i, x in enumerate(xs, start=1):
        score, flag = hs.update(x)
        if i <= 16:
            assert score is None and not flag
        elif score is not None:
            assert 0 <= score <= 4 * 16


# ---------------------------------------------------------------- LSH bucket fn


class _FakeLSHState:
    """Minimal applyInPandasWithState GroupState stand-in for driving
    _make_lsh_bucket_fn without Spark."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self._wm_ms = 0
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


@settings(max_examples=200, deadline=None)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=12),   # doc_id (re-deliveries likely)
                st.integers(min_value=0, max_value=3600), # ts offset seconds
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    ),
    max_group=st.integers(min_value=1, max_value=5),
    ttl_min=st.integers(min_value=5, max_value=120),
)
def test_lsh_bucket_fn_model(batches, max_group, ttl_min):
    """Property fuzz of the streaming LSH bucket operator (the r6
    ADVICE hot-bucket/orientation/re-delivery fixes) against an
    independent model, across arbitrary arrival orders, duplicate
    deliveries, tiny caps, and an advancing watermark:

    - pairs are oriented by (event_ts, doc_id), never arrival order;
    - no self-pairs, no duplicate (a, b) emissions over the run;
    - at most max_group docs admitted per bucket at any time;
    - emitted event_ts is the LATER doc's timestamp;
    - state ids stay unique and within the cap; expired entries
      (t + ttl < watermark) are pruned."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        _make_lsh_bucket_fn,
    )

    t0 = pd.Timestamp("2024-01-01")
    ttl_ms = ttl_min * 60 * 1000
    fn = _make_lsh_bucket_fn(ttl_ms, max_group)
    state = _FakeLSHState()

    # independent model state. NOTE two legitimate behaviors the
    # model must reproduce (not forbid): a re-delivered id is skipped
    # against the CURRENT state, so an id whose entry was pruned
    # re-admits (possibly with a different ts) and its pairs RE-EMIT
    # — the documented dropDuplicatesWithinWatermark contract, fuzzy
    # edition.
    live: list[tuple[int, int]] = []  # (doc_id, ts_us)
    expected_emits: list[tuple[int, int, int]] = []  # (a, b, event_ts_us)
    got_rows = []
    wm_ms = 0
    max_seen_ms = 0

    for batch in batches:
        rows = [
            (did, t0 + pd.Timedelta(seconds=off)) for did, off in batch
        ]
        pdf = pd.DataFrame(
            {"doc_id": [r[0] for r in rows], "event_ts": [r[1] for r in rows]}
        )
        state._wm_ms = wm_ms
        out = list(fn((3, 77), iter([pdf]), state))
        for df in out:
            got_rows.extend(df.itertuples(index=False))

        # model: same-batch processing order (ts, id); prune AFTER
        news = sorted(
            ((did, int(ts.value // 1000)) for did, ts in rows),
            key=lambda x: (x[1], x[0]),
        )
        for did, t_us in news:
            if any(d == did for d, _ in live):
                continue
            if len(live) >= max_group:
                continue
            for pid, pt in live:
                if (pt, pid) <= (t_us, did):
                    expected_emits.append((pid, did, t_us))
                else:
                    expected_emits.append((did, pid, pt))
            live.append((did, t_us))
        if wm_ms > 0:
            live = [(d, t) for d, t in live if t + ttl_ms * 1000 >= wm_ms * 1000]
        if live:
            max_seen_ms = max(max_seen_ms, max(t // 1000 for _, t in live))
        # watermark jumps to the max admitted event time — aggressive,
        # forcing the pruning and re-admission paths
        wm_ms = max_seen_ms

    got = sorted(
        (r.doc_a, r.doc_b, int(r.event_ts.value // 1000)) for r in got_rows
    )
    # 1. no self-pairs
    assert all(a != b for a, b, _ in got)
    # 2. exact (pair, event_ts) MULTISET match with the model —
    #    covers orientation, the later-doc event_ts contract, cap
    #    admission, re-delivery skip, and prune/re-admit re-emission
    assert got == sorted(expected_emits)
    # 3. state bounded: unique ids, within the cap
    if state.exists:
        ids = list(state.get[0])
        assert len(ids) == len(set(ids)) <= max_group
