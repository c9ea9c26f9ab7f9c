"""Physical-plan pins for the round-10 staged operators: the shapes each
docstring claims must be the shapes Catalyst picks — the single shared
exchange in concentration, the map-side WindowGroupLimit cap in the
co-occurrence projection, the cache-pinned wedge join in link
prediction, and hash joins (never nested loops) in the Kendall pair
explode. (The no-cartesian sweep over the ml_eval gates lives in
test_plans_r8.py's parametrized check.)"""

from __future__ import annotations

import re

from brontes_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].build(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def _n_shuffles(plan: str) -> int:
    return len(
        {
            m.group(1)
            for line in plan.splitlines()
            for m in [re.match(r"\((\d+)\) Exchange$", line.strip())]
            if m
        }
    )


def test_concentration_single_exchange_no_join(spark):
    """o29: the rank window and the group aggregate must share ONE
    hashpartitioning exchange (the x18/x19 discipline); the metric math
    is a projection, so no join anywhere."""
    plan = _plan(spark, "o29_concentration")
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan


def test_cooccur_caps_map_side_before_pair_join(spark):
    """ev_item_cooccur: the per-user cap must run as WindowGroupLimit
    with a Partial (map-side) phase BEFORE the shuffle — each task ships
    at most cap rows per user — and the pair generator stays an
    equi-join."""
    plan = _plan(spark, "ev_item_cooccur", "simple")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_kendall_pairs_are_hash_joins(spark):
    """x30: the per-key pair explode and the count join must plan as
    hash equi-joins on the key; the formatted plan shows no nested loop
    and at most 3 exchanges (seq window / n aggregate / result join)."""
    plan = _plan(spark, "x30_kendall_tau")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert _n_shuffles(plan) <= 3


def test_linkpred_cache_pins_shared_relations(spark):
    """g16: deg and adj are cache-pinned (the g8 triangle discipline) —
    uncached, every output branch re-ran the canonical distinct
    (measured 17 exchanges; pinned, 8). InMemoryTableScans must appear
    for the shared relations and the exchange budget must hold."""
    plan = _plan(spark, "g16_linkpred")
    assert "InMemoryTableScan" in plan
    assert _n_shuffles(plan) <= 8
    assert "CartesianProduct" not in plan
