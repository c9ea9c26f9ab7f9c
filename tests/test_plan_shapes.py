"""Registry-wide physical-plan-shape regression pin: every gate's plan
features must match the committed PLAN_SHAPES.json snapshot (generated
by scripts/plan_snapshot.py). A failure here means a code change ALTERED
a gate's physical strategy — added an exchange, swapped a join strategy,
lost a WindowGroupLimit. If the change is intentional, re-run the
snapshot script and commit the diff WITH the change so the plan shift is
documented where it happened; if not, you just caught a plan regression
the named pins (test_plans*.py) don't cover.

Also enforces one global invariant directly: no gate may ever plan a
CartesianProduct. (BroadcastNestedLoopJoin counts are pinned per-gate by
the shape equality — 13 gates legitimately carry the constant-folded
1-row scalar-dim form, e.g. TPC-H q11/q22 scalar subqueries and the
corpus-N dims; a NEW one appearing in any other gate fails its shape.)
"""

from __future__ import annotations

import json
import os

import pytest

import brontes_spark.plans  # noqa: F401  (populate REGISTRY)
from brontes_spark.plans.registry import REGISTRY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

with open(os.path.join(ROOT, "PLAN_SHAPES.json")) as f:
    SNAPSHOT: dict[str, dict] = json.load(f)

SPECS = {n: s.build for n, s in REGISTRY.items()}


def _shape(spark, name):
    from scripts.plan_snapshot import shape_of

    return shape_of(SPECS[name](spark, SF))


def test_snapshot_covers_every_gate():
    assert set(SNAPSHOT) == set(SPECS), (
        "PLAN_SHAPES.json out of date: re-run scripts/plan_snapshot.py"
    )
    assert not any("ERROR" in v for v in SNAPSHOT.values())


@pytest.mark.parametrize("name", sorted(SPECS))
def test_plan_shape_unchanged(spark, name):
    got = _shape(spark, name)
    want = SNAPSHOT[name]
    assert got == want, (
        f"{name}: plan shape drifted {want} -> {got}; if intentional, "
        "re-run scripts/plan_snapshot.py and commit the diff"
    )
    assert got.get("cartesian", 0) == 0, name
