"""Physical-plan quality gates — the 100 TB discipline checks (SURVEY.md §4).

These tests pin the OPTIMIZER behavior, not results: filters must reach the
parquet scan, scans must prune columns, dimension joins must broadcast,
global top-k must plan as TakeOrderedAndProject (never a single-partition
window), the hot aggregations must sit inside WholeStageCodegen, and no
testdata-backed query may degenerate into a CartesianProduct. A regression
in any of these is invisible at sf0.01 correctness but catastrophic at
cluster scale — exactly the class of bug a results-only gate can't catch.
"""

from __future__ import annotations

import pytest

from brontes_spark.plans import registry

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = registry.REGISTRY[name].build(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def test_scan_pushdown_and_column_pruning(spark):
    plan = _plan(spark, "t1_filter_project")
    assert "PushedFilters:" in plan
    # the shipdate/discount/quantity predicates must reach the scan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # projection needs 6 columns; the scan must not read the rest
    schema_part = plan.split("ReadSchema")[1][:400]
    assert "l_returnflag" not in schema_part
    assert "l_tax" not in schema_part


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan
    plan3 = _plan(spark, "q3_top_urgent")
    assert "BroadcastHashJoin" in plan3


def test_topk_plans_as_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "q3_top_urgent")


def test_hot_aggregation_in_codegen(spark):
    from .conftest import codegen_session

    # the test session runs interpreted (conftest), where the codegen
    # explain mode reports "Found 0 WholeStageCodegen subtrees"; restore
    # the production engine, and execute first: AQE collapses codegen
    # stages only as it plans each query stage
    with codegen_session(spark):
        df = registry.REGISTRY["q1_pricing_summary"].build(spark, SF)
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "codegen"
        )
    assert "WholeStageCodegen" in plan
    assert "Found 0 WholeStageCodegen" not in plan
    assert "HashAggregate" in _plan(spark, "q1_pricing_summary")


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in _plan(spark, "t8_exists_semijoin", "extended")
    assert "LeftAnti" in _plan(spark, "t6_anti_join", "extended")


@pytest.mark.parametrize(
    "name",
    [
        n
        for n in registry.REGISTRY
        # fixture-backed MEV/univ3 queries execute at build time (cached
        # composer); the testdata-backed set is the scan-plan surface
        if not n.startswith(("mev_", "g4_", "g5_"))
    ],
)
def test_no_cartesian_product(spark, name):
    """A CartesianProduct anywhere is a scale bug; intentional 1-row scalar
    cross joins must come through broadcast (BroadcastNestedLoopJoin)."""
    plan = _plan(spark, name, "simple")
    assert "CartesianProduct" not in plan


def _n_shuffles(plan: str) -> int:
    """Distinct shuffle Exchange nodes in a formatted plan (broadcast and
    reused exchanges excluded)."""
    import re

    return len(
        {
            m.group(1)
            for line in plan.splitlines()
            for m in [re.match(r"\((\d+)\) Exchange$", line.strip())]
            if m
        }
    )


def test_lsh_sign_join_no_corpus_shuffle(spark):
    """The planes x dim sign table must broadcast; the only shuffle allowed
    is the per-id signature groupBy (a corpus-derived sign dim would add a
    full-table Exchange before the join — the r2 scale bug)."""
    plan = _plan(spark, "ann_lsh_buckets")
    assert "BroadcastExchange" in plan
    assert _n_shuffles(plan) == 1


def test_cosine_topk_shuffle_budget(spark):
    """Brute-force cosine pairs via broadcast + in-row array dots: exactly
    the explicit parallelism repartition and the final top-k window may
    shuffle — a pos-join/groupBy formulation would add x dim-row exchanges."""
    plan = _plan(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert _n_shuffles(plan) == 2


def test_decay_vwap_rides_the_unweighted_shuffles(spark):
    """The X4/X6 decay-weight option must not add exchanges: the quantized
    weight is a per-row projection folded into the existing per-step /
    taken-set aggregations, so weighted and unweighted plans shuffle
    identically (and neither touches Python)."""
    for weighted, plain in (
        ("x4_decay_vwap", "x4_expanding_vwap"),
        ("x6_decay_vwap", "x6_optimistic_vwap"),
    ):
        pw = _plan(spark, weighted)
        pp = _plan(spark, plain)
        assert pw.count("Exchange") == pp.count("Exchange"), weighted
        assert "Python" not in pw, weighted


def test_expanding_vwap_runs_the_range_join_once(spark):
    """X4: running sums over the per-step rows give the cutoff step and its
    window's sums in one row, so each input is scanned once and no join
    goes back on anchor_id. A cutoff aggregate joined back to the steps
    reads the per-step subtree twice, and Spark plans the range join, both
    scans and the step aggregate twice."""
    import re

    for name in ("x4_expanding_vwap", "x4_decay_vwap"):
        plan = _plan(spark, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, name
        keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
        assert keys, name
        assert not any("anchor_id" in k for k in keys), (name, keys)


def test_funnel_single_shuffle(spark):
    """x9_funnel_stages: the sorted-fold formulation pays exactly ONE
    exchange (the user_id groupBy) — the 3-join textbook shape would pay
    three full-stream shuffles plus joins."""
    plan = _plan(spark, "x9_funnel_stages")
    assert _n_shuffles(plan) == 1
    assert "Join" not in plan


def test_retention_one_scan_two_exchanges(spark):
    """x10_retention_cohorts: one parquet scan (no second-branch rescan),
    the up-front user_id repartition serving both the (user, day) distinct
    and the cohort-min window, plus only the final (cohort, offset) agg
    exchange."""
    import re

    plan = _plan(spark, "x10_retention_cohorts")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert _n_shuffles(plan) == 2
    assert "Join" not in plan


def test_chunk_windows_zero_shuffle(spark):
    """txt_chunk_windows: chunking is pure per-row column math — chunk rows
    must leave the scan partition with NO exchange and NO Python."""
    plan = _plan(spark, "txt_chunk_windows")
    assert _n_shuffles(plan) == 0
    assert "Python" not in plan


def test_semantic_dedup_broadcasts_centroids(spark):
    """dedup_semantic: the K-row centroid dim rides BroadcastExchange; no
    cartesian product anywhere. (The dropped-id set is deliberately NOT
    broadcast-hinted — it is O(N) at real drop rates; see the OOM rationale
    in operators/similarity.py — so this test asserts nothing about it.)"""
    plan = _plan(spark, "dedup_semantic")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
