"""The registry rotation rule, asserted mechanically (r7 VERDICT #5).

The driver's CORRECTNESS artifact row-caps at 50 registry entries, so
any query that is never driver-checked, or whose implementation
changed since its last driver-green row, MUST sit within the front 50
— otherwise a regression ships with a stale green row vouching for it
(exactly what happened to dimension_breakdown_salted in r7).
scripts/rotation_check.py computes the required-front set from
function-level fingerprints diffed between the worktree and each
query's last-green round commit; this test fails the suite when the
registry order violates it. No SparkSession needed."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))


def test_registry_rotation_rule_holds():
    import rotation_check

    order, reasons = rotation_check.required_front()
    window = order[: rotation_check.WINDOW]
    assert len(reasons) <= rotation_check.WINDOW, (
        f"{len(reasons)} changed/new queries cannot fit the "
        f"{rotation_check.WINDOW}-row driver window — split the round"
    )
    violations = {n: r for n, r in reasons.items() if n not in window}
    assert not violations, (
        "queries changed since their last driver-green row (or never "
        f"checked) sit past position {rotation_check.WINDOW}: {violations}"
    )


def test_fingerprints_track_function_closure():
    """The fingerprint must cover the operator a query actually calls
    (not just the q_ wrapper): queries reaching dimension_breakdown
    share its closure, and distinct queries get distinct prints."""
    import __spark_entry__
    import rotation_check

    fps = rotation_check.fingerprints(None)
    assert fps is not None and set(fps) == set(__spark_entry__.queries())
    assert fps["mixture_weights"] != fps["mixture_weights_k1"]
    # the oracle SQL participates: same engine path, different SQL
    assert fps["mixture_weights_k1"] != fps["mixture_weights_k3"]
