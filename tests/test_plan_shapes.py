"""The plan-shape ledger: every registered query's physical plan shape
(``testing.plan_shape``: exchanges by partitioning, broadcasts, sorts,
hash aggregates, joins by strategy, Python-eval nodes, eager-checkpoint
leaves, C6 hits) is recorded in ``plan_shapes.json`` and recomputed
here. Any difference fails: an added or missing query, or one changed
count. A change that moves a plan on purpose regenerates the ledger
and shows the new counts in its diff.

The ledger is rebuilt at its own ``sf_dir``, whatever
``SPARK_GRAFT_TEST_SF_DIR`` says: shapes depend on scale (AQE and the
broadcast threshold read table sizes), so a ledger is only comparable
at the scale it was taken."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from audit_sweep import _ledger, query_shapes  # noqa: E402


def _shape_diffs(ledger: dict, current: dict) -> list[str]:
    diffs = []
    for name in sorted(set(ledger) | set(current)):
        if name not in current:
            diffs.append(f"{name}: in the ledger, not in the registry")
        elif name not in ledger:
            diffs.append(f"{name}: registered, not in the ledger")
        else:
            was, now = ledger[name], current[name]
            diffs += [
                f"{name}: {key} ledger={was.get(key, 0)} current={now.get(key, 0)}"
                for key in sorted(set(was) | set(now))
                if was.get(key, 0) != now.get(key, 0)
            ]
    return diffs


def test_plan_shapes_match_ledger(spark):
    ledger = _ledger()
    diffs = _shape_diffs(ledger["queries"], query_shapes(spark, ledger["sf_dir"]))
    assert not diffs, (
        f"{len(diffs)} plan-shape difference(s) from tests/plan_shapes.json:\n  "
        + "\n  ".join(diffs)
        + f"\nIf intended, regenerate: python tools/audit_sweep.py shapes {ledger['sf_dir']}"
    )
