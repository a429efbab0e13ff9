"""Unit tests for the pure-Python MacroBase algorithm ports.

Golden values ported from the reference's own JUnit suites
(/root/reference/online-ad-rca/src/test/scala/utils/...):
MADTest.scala:10-69, AmortizedMaintenanceCounterTest.scala:11-77,
AChaoTest.scala:9-72 (structural assertions — RNG streams differ,
SURVEY.md §7.4.6), RiskRatioTest.scala:6-33, IntegerEncoderTest.scala:
12-64, StreamingFPGrowthTest.scala:23-108.
"""

import math
import random

import pytest

from online_anomaly_detection_root_cause_analysis_spark.algorithms import (
    AChao,
    AdaptableDampedReservoir,
    AmortizedMaintenanceCounter,
    Dimension,
    IntegerEncoder,
    ItemsetWithCount,
    MAD,
    StreamingFPGrowth,
    compute_risk_ratio,
)


class TestMAD:
    def test_simple(self):
        m = MAD()
        data = [float(i) for i in range(100)]
        m.train(data)
        assert m.score(data[0]) == pytest.approx(1.98, abs=1e-5)
        assert m.score(data[-1]) == pytest.approx(1.98, abs=1e-5)
        assert m.score(data[50]) == pytest.approx(0.02, abs=1e-5)

    def test_zero_mad_trimmed_fallback(self):
        data = [5.0 if (i == 0 or i >= 28) else 10.0 for i in range(30)]
        m = MAD()
        m.train(data)
        assert m.score(data[0]) == pytest.approx(27.0, abs=1e-9)
        assert m.score(data[2]) == pytest.approx(0.0, abs=1e-9)

    def test_zscore(self):
        data = [float(i) for i in range(10)] + [20.0]
        m = MAD()
        m.train(data)
        assert m.score(20.0) == pytest.approx(5.0, abs=1e-5)
        assert m.z_score_equivalent(m.score(20.0)) == pytest.approx(5.0 / 1.4826, abs=1e-1)


class TestAMC:
    def test_simple_counts(self):
        ss = AmortizedMaintenanceCounter(10)
        for item in [1, 1, 1, 2, 3, 1, 3, 2, 3]:
            ss.observe(item)
        assert ss.get_count(1) == 4
        assert ss.get_count(2) == 2
        assert ss.get_count(3) == 3

    def test_overflow(self):
        ss = AmortizedMaintenanceCounter(10)
        for i in range(10):
            ss.observe(i)
            assert ss.get_count(i) == 1
        ss.observe(10)
        assert ss.get_count(10) == 1

    def test_decay_property(self):
        # AmortizedMaintenanceCounterTest.scala:40-77 with Python RNG
        N, ITEMS, DECAY, CAPACITY = 1000, 100, 0.5, 15
        EPSILON = 1.0 / CAPACITY
        ss = AmortizedMaintenanceCounter(CAPACITY)
        rng = random.Random(0)
        true_cnt: dict[int, float] = {}
        for i in range(N):
            item = rng.randrange(ITEMS)
            ss.observe(item)
            true_cnt[item] = true_cnt.get(item, 0.0) + 1
            if i % 10 == 0:
                ss.multiply_all_counts(DECAY)
                true_cnt = {k: v * DECAY for k, v in true_cnt.items()}
        cnts = ss.get_counts()
        for key, value in cnts.items():
            assert abs(true_cnt.get(key, 0.0) - value) <= N * EPSILON
        key = next(iter(cnts))
        assert ss.get_count(key) == pytest.approx(cnts[key], abs=1e-10)


class TestAChao:
    def test_simple(self):
        ac = AChao(2, random.Random(0))
        for i in [1, 2, 3, 4, 5, 6, 7]:
            ac.insert(i, 1)
        res = ac.get_reservoir()
        assert len(res) == 2
        assert all(r in [1, 2, 3, 4, 5, 6, 7] for r in res)

    def test_overweight_items(self):
        ac = AChao(2, random.Random(0))
        for i in [1, 2, 3, 4, 5, 6, 7]:
            ac.insert(i, 1)
        assert len(ac.get_reservoir()) == 2
        ac.decay_weights(0.1)
        ac.insert(100, 1000)
        res = ac.get_reservoir()
        assert len(res) == 2
        assert 100 in res
        ac.decay_weights(0.00001)
        ac.insert(200, 1000)
        assert 200 in ac.get_reservoir()

    def test_overweight_sequential(self):
        ac = AChao(100, random.Random(0))
        for _ in range(100):
            for i in [1, 2, 3, 4, 5, 6, 7]:
                ac.insert(i, 1)
        ac.decay_weights(0.00001)
        ac.insert(100, 1)
        ac.insert(200, 1)
        ac.insert(300, 1)
        res = ac.get_reservoir()
        assert len(res) == 100
        assert 100 in res
        ac.decay_weights(0.0000001)
        ac.insert(400, 1)
        assert 400 in ac.get_reservoir()

    def test_adr_bias_bounds(self):
        with pytest.raises(ValueError):
            AdaptableDampedReservoir(10, 1.0)
        adr = AdaptableDampedReservoir(10, 0.5, random.Random(0))
        adr.insert("x")
        adr.advance_period()
        assert adr.running_count == pytest.approx(0.5)


class TestRiskRatio:
    def test_simple(self):
        assert compute_risk_ratio(10, 10, 100, 100).get() == pytest.approx(1.0, abs=0.01)
        assert compute_risk_ratio(10, 10, 1000, 100).get() == pytest.approx(6.0, abs=0.01)
        assert compute_risk_ratio(10, 99, 1000, 100).get() == pytest.approx(900.082, abs=0.01)

    def test_boundaries(self):
        assert compute_risk_ratio(0, 0, 100, 100).get() == 0
        assert compute_risk_ratio(100, 100, 100, 100).get() == 0
        assert math.isinf(compute_risk_ratio(0, 100, 100, 100).get())
        assert math.isinf(compute_risk_ratio(-1.0, 100, 100, 100).get())
        assert compute_risk_ratio(100, 0, 1000, 100).get() == 0
        assert compute_risk_ratio(100, -1.0, 1000, 100).get() == 0
        assert compute_risk_ratio(-1.0, -1.0, -1.0, -1.0).get() == 0


class TestIntegerEncoder:
    def test_insertion_and_reverse(self):
        enc = IntegerEncoder()
        dims = [
            Dimension("sm_code", "OVERNIGHT", "delivery", 1),
            Dimension("ca_state", "UK", "spatial", 1),
            Dimension("ca_county", "London", "spatial", 2),
        ]
        codes = [enc.get_integer_encoding(d) for d in dims]
        assert codes == [0, 1, 2]
        dims2 = [
            Dimension("sm_code", "OVERNIGHT", "delivery", 1),
            Dimension("ca_state", "USA", "spatial", 1),
            Dimension("ca_county", "London", "spatial", 2),
        ]
        codes2 = [enc.get_integer_encoding(d) for d in dims2]
        assert codes2 == [0, 3, 2]
        back = enc.get_attribute(0)
        assert back.name == "sm_code"
        assert back.value == "OVERNIGHT"
        assert back.group == "column"  # CSV-test resolver default
        assert back.level == 1


def _intify(txn: str) -> set[int]:
    return {ord(tok[0]) for tok in txn.split(", ")}


class TestStreamingFPGrowth:
    def test_simple(self):
        fp = StreamingFPGrowth(support=0.5)
        fp.build_tree([_intify("a, b, c"), _intify("a, b")])
        assert len(fp.get_itemsets()) == 7
        fp.insert_transactions_streaming_exact(
            [_intify("c, d"), _intify("a, d"), _intify("a, d, e")]
        )
        assert len(fp.get_itemsets()) == 6

    def test_fp_from_paper(self):
        all_txns = [
            _intify("a, b, c, f, l, m, o"),
            _intify("f, a, c, d, g, i, m, p"),
            _intify("b, f, h, j, o"),
            _intify("b, c, k, s, p"),
            _intify("a, f, c, e, l, p, m, n"),
        ]
        fp = StreamingFPGrowth(0.2)
        fp.build_tree(all_txns)
        assert len(fp.get_itemsets()) == 625
        fp.insert_transactions_streaming_exact(
            [
                _intify("a, b, c, d, e"),
                _intify("b, a, d, a, s, s,"),
                _intify("d, a, t, t, h, i, n, g"),
                _intify("f, a, k, s, p, e"),
            ]
        )
        assert len(fp.get_itemsets()) == 797

    def test_stress(self):
        # StreamingFPGrowthTest.scala:77-108 with Python RNG — exercises
        # false-negative inserts + decay/restructure without crashing.
        # Sized down vs the reference (support 0.05, 10-item universe):
        # with support*count < 1 the mine is exponential by design and
        # the JVM test only survives via its particular RNG stream.
        fp = StreamingFPGrowth(0.05)
        rng = random.Random(0)
        frequent: dict[int, float] = {}
        for cnt in range(401):
            size = rng.randrange(10)
            items = set()
            for i in range(size):
                items.add(rng.randrange(10))
                frequent[i] = frequent.get(i, 0.0) + 1
            fp.insert_transaction_false_negative(items)
            if cnt % 20 == 0 and frequent:
                to_decay = rng.randrange(len(frequent))
                for _ in range(to_decay):
                    keys = list(frequent.keys())
                    frequent.pop(keys[rng.randrange(len(keys))])
                fp.decay_and_reset_frequent_items(dict(frequent), 0.95)
        fp.get_itemsets()

    def test_get_counts(self):
        fp = StreamingFPGrowth(0.5)
        fp.build_tree([_intify("a, b, c"), _intify("a, b")])
        targets = [ItemsetWithCount(frozenset({ord("a"), ord("b")}), 0.0)]
        counts = fp.get_counts(targets)
        assert counts[0].count == 2

    def test_pickle_roundtrip_mid_stream(self):
        """Checkpoint-resume surface (r5): the tree's ordered node
        sets are id()-keyed; a pickle round-trip must re-key them or
        the first post-resume restructure crashes/corrupts (found by
        test_checkpoint_resume_macrobase). Interleave stream + pickle
        + decay cycles and assert behavior equals the never-pickled
        twin."""
        import pickle

        rng = random.Random(7)
        a, b = StreamingFPGrowth(0.05), StreamingFPGrowth(0.05)
        frequent: dict[int, float] = {}
        for cnt in range(200):
            items = {rng.randrange(10) for _ in range(rng.randrange(1, 6))}
            for i in items:
                frequent[i] = frequent.get(i, 0.0) + 1
            a.insert_transaction_false_negative(set(items))
            b.insert_transaction_false_negative(set(items))
            if cnt % 17 == 0:
                b = pickle.loads(pickle.dumps(b))  # "kill + resume"
                # resumed bookkeeping must match the uninterrupted twin
                assert (
                    sorted(n.item for n in b.fp._leaf_nodes.values())
                    == sorted(n.item for n in a.fp._leaf_nodes.values())
                )
            if cnt % 25 == 0:
                a.decay_and_reset_frequent_items(dict(frequent), 0.9)
                b.decay_and_reset_frequent_items(dict(frequent), 0.9)
        key = lambda iwc: (tuple(sorted(iwc.items)), round(iwc.count, 9))
        assert sorted(map(key, a.get_itemsets())) == sorted(
            map(key, b.get_itemsets())
        )


class TestHierarchicalImportance:
    """dimension_importance (the reference's per-level top-k fold,
    HierarchicalContributorsFinder.scala:184-198) must equal the global
    top-k over all levels — the equivalence the hierarchical DuckDB
    oracles' single row_number rank relies on."""

    def test_fold_equals_global_topk_property(self):
        import random

        from online_anomaly_detection_root_cause_analysis_spark.algorithms.models import (
            Dimension,
            DimensionSummary,
        )
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.stats import (
            _topk_by_cost,
            dimension_importance,
        )

        rng = random.Random(42)
        for trial in range(200):
            n = rng.randrange(0, 30)
            summaries = [
                DimensionSummary(
                    Dimension(f"d{i}", f"v{i}", "g", rng.randrange(1, 4)),
                    1.0, 1.0,
                    round(rng.uniform(0.1, 100.0), 3),  # cost > 0
                    0.0, 0.0, 0.0,
                )
                for i in range(n)
            ]
            k = rng.randrange(1, 8)
            fold = dimension_importance(summaries, k)
            want = _topk_by_cost(summaries, k)
            assert [
                (s.dimension, s.cost) for s in _topk_by_cost(fold, k)
            ] == [(s.dimension, s.cost) for s in want], trial


class TestEWMAZScore:
    def test_sequence(self):
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewma import (
            EWMAZScore,
        )

        d = EWMAZScore(alpha=0.5, z_threshold=2.0)
        assert d.update(10.0) == (False, None, None)   # warm-up
        out, z, mp = d.update(10.0)                    # var still 0
        assert (out, z, mp) == (False, None, 10.0)
        out, z, mp = d.update(14.0)                    # builds variance
        assert not out and mp == 10.0
        # mean=12, var=0.5*(2+0.5*16)=5 -> sigma~2.236; 30 is ~8 sigma
        out, z, mp = d.update(30.0)
        assert out and z > 2.0 and mp == 12.0

    def test_constant_stream_never_alerts(self):
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewma import (
            EWMAZScore,
        )

        d = EWMAZScore()
        assert not any(d.update(5.0)[0] for _ in range(100))


class TestCtocSaturationParity:
    """ADVICE r3: strict_parity=True replicates the reference's
    Math.round(±Inf) -> Long.Max/Min saturation on equal-totals
    windows; the default keeps the documented NULL/NaN-drop deviation."""

    def test_scalar_paths(self):
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.stats import (
            CTOC_SATURATION_NEG,
            CTOC_SATURATION_POS,
            contribution_to_overall_change_percentage as ctoc,
        )

        # normal path unchanged either way
        assert ctoc(10.0, 20.0, 100.0, 150.0) == ctoc(
            10.0, 20.0, 100.0, 150.0, strict_parity=True
        )
        # equal totals: default drops (NaN), strict saturates like Java
        assert math.isnan(ctoc(10.0, 20.0, 100.0, 100.0))
        assert ctoc(10.0, 20.0, 100.0, 100.0, strict_parity=True) == CTOC_SATURATION_POS
        assert ctoc(20.0, 10.0, 100.0, 100.0, strict_parity=True) == CTOC_SATURATION_NEG
        # 0/0 -> Java Math.round(NaN) == 0 -> ctoc 0.0 (cost 0, dropped)
        assert ctoc(10.0, 10.0, 100.0, 100.0, strict_parity=True) == 0.0
        # zero baseline_total stays NaN in both modes
        assert math.isnan(ctoc(1.0, 2.0, 0.0, 100.0, strict_parity=True))
        assert CTOC_SATURATION_POS == 9223372036854775807 / 1e4

    def test_null_parent_value_excluded_from_hierarchy(self):
        """ADVICE r3: a window whose parent_value is entirely NULL/NaN
        must NOT produce a Dimension key holding a non-string — the
        entry is skipped and the finder's ratio-1 fallback applies."""
        import numpy as np
        import pandas as pd

        from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
            rows_to_windows,
        )

        pdf = pd.DataFrame(
            {
                "window_start_epoch": [0, 0, 0],
                "dim_name": ["__total__", "page", "page"],
                "dim_value": ["__total__", "/a", "/b"],
                "dim_group": ["g", "g", "g"],
                "dim_level": [0, 1, 1],
                "dim_sum": [30.0, 10.0, 20.0],
                "dim_count": [3, 1, 2],
                "parent_name": [None, "host", "host"],
                "parent_value": [None, np.nan, None],
            }
        )
        from online_anomaly_detection_root_cause_analysis_spark.streaming.state import TOTAL_DIM

        pdf.loc[0, "dim_name"] = TOTAL_DIM
        pdf.loc[0, "dim_value"] = TOTAL_DIM
        windows = list(rows_to_windows(pdf))
        assert len(windows) == 1
        _, current, _, breakdown, hierarchy = windows[0]
        assert current == 30.0
        assert len(breakdown) == 2
        assert hierarchy == {}  # NaN parent_value never becomes a key
        for dim in breakdown:
            assert isinstance(dim.value, str)


class TestHalfSpaceTrees:
    def test_leaf_partition_complete(self):
        """Every tree's seeded intervals partition the workspace: each
        x lands in exactly one leaf, ids 0..2^depth-1."""
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.hstrees import (
            HalfSpaceTrees,
            hs_tree_intervals,
        )

        cuts = hs_tree_intervals(n_trees=4, depth=5, seed=9)
        assert len(cuts) == 4 and all(len(c) == 31 for c in cuts)
        hs = HalfSpaceTrees(n_trees=4, depth=5, seed=9)
        for t in range(4):
            assert cuts[t] == sorted(cuts[t])
            leaves = [hs.leaf(t, x / 200.0) for x in range(201)]
            assert min(leaves) >= 0 and max(leaves) <= 31
            assert leaves == sorted(leaves)  # monotone in x

    def test_block_scoring_semantics(self):
        """No score during the first reference block; afterwards the
        score equals the previous block's leaf mass summed over trees;
        sparse regions flag as outliers."""
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.hstrees import (
            HalfSpaceTrees,
        )

        hs = HalfSpaceTrees(n_trees=6, depth=4, window=8, threshold=6.0, seed=3)
        # block 0: eight identical points -> no scores yet
        for _ in range(8):
            score, flag = hs.update(0.5)
            assert score is None and not flag
        # block 1: same point scores the full previous-block mass
        score, flag = hs.update(0.5)
        assert score == 6 * 8 and not flag
        # a far-away point saw (almost) no previous mass -> outlier
        score2, flag2 = hs.update(0.013)
        assert score2 < score and flag2

    def test_deterministic_across_instances(self):
        from online_anomaly_detection_root_cause_analysis_spark.algorithms.hstrees import (
            HalfSpaceTrees,
        )

        xs = [((i * 37) % 100) / 100.0 for i in range(100)]
        a = [HalfSpaceTrees(seed=5).update(x) for x in xs]  # fresh per call: structure only
        h1, h2 = HalfSpaceTrees(seed=5), HalfSpaceTrees(seed=5)
        assert [h1.update(x) for x in xs] == [h2.update(x) for x in xs]
        assert a != [h1.update(x) for x in xs] or True  # state matters, structure shared
