"""Snapshot the physical-plan SHAPE of every registered gate.

The named plan pins (tests/test_plans*.py) guard the gates whose shape IS
the story; this snapshot guards everything else: a refactor that silently
turns a broadcast join into a sort-merge join, adds an exchange, or
drops a WindowGroupLimit in ANY gate shows up as a diff against
PLAN_SHAPES.json (tests/test_plan_shapes.py replays the comparison).
Re-run this script when a shape change is INTENTIONAL and commit the new
snapshot with the change — the diff then documents the regression or the
improvement in the same commit that caused it.

Features are substring counts over the simple-mode plan at sf0.001 —
coarse on purpose: stable across cosmetic plan-text churn, sharp enough
to catch a join-strategy or shuffle-count regression.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_SHAPES.json",
)

FEATURES = {
    "x_hash": "Exchange hashpartitioning",
    "x_single": "Exchange SinglePartition",
    "x_range": "Exchange rangepartitioning",
    "smj": "SortMergeJoin",
    "bhj": "BroadcastHashJoin",
    "shj": "ShuffledHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "generate": "Generate",
    "expand": "Expand",
    "wgl": "WindowGroupLimit",
    "take_ordered": "TakeOrderedAndProject",
    "window": "Window",
    "scan_parquet": "Scan parquet",
}


def shape_of(df) -> dict[str, int]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )
    return {k: plan.count(v) for k, v in FEATURES.items() if plan.count(v)}


def main() -> None:
    from brontes_spark.plans.registry import REGISTRY
    from brontes_spark.session import get_spark

    import brontes_spark.plans  # noqa: F401  (populate REGISTRY)

    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    shapes: dict[str, dict[str, int]] = {}
    specs = {n: s.build for n, s in REGISTRY.items()}
    for name in sorted(specs):
        try:
            shapes[name] = shape_of(specs[name](spark, SF))
        except Exception as exc:  # noqa: BLE001 — record, don't die
            shapes[name] = {"ERROR": 1, "_msg": str(exc)[:120]}
            print(f"ERROR {name}: {exc}", file=sys.stderr)
    with open(OUT, "w") as f:
        json.dump(shapes, f, indent=1, sort_keys=True)
    n_err = sum(1 for v in shapes.values() if "ERROR" in v)
    print(f"wrote {OUT}: {len(shapes)} gates, {n_err} errors")
    spark.stop()


if __name__ == "__main__":
    main()
