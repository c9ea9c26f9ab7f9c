"""Physical-plan pins for the round-8 operator families: the shapes each
docstring claims must actually be the shapes Catalyst picks at the test
scale — broadcast where promised, no cartesian products anywhere, bounded
top-k, single-Expand multi-distinct, codegen where claimed."""

from __future__ import annotations

import pytest

from brontes_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"

#: gates whose ONLY nested-loop joins are constant-folded 1-row scalar
#: dims (value = the max number of such folds in the SIMPLE-mode plan;
#: formatted mode prints every node twice — tree + details)
SCALAR_DIM_GATES = {
    "ml_ndcg": 1,  # 1-row (n_scored, ndcg_sum) stats dim onto n_queries
    "txt_bm25_topk": 2,  # (N) x (L) corpus dims
    "txt_pmi_cooccur": 1,  # corpus pair total T
    "corpus_temperature_mix": 1,  # sqrt-weight total
    "o16_benford": 1,  # total-count dim N
    "txt_chi2_features": 1,  # corpus doc total N
    "txt_nb_train": 2,  # vocab V and doc-total N dims
    "o20_skew_profile": 1,  # 1-row summary broadcast onto the hot list
    "o18_assoc_rules": 1,  # basket total N
    "x27_quantile_normalize": 1,  # pooled row total N
    # cex_dex's per-exchange legs fan anchors out against the exchange
    # LIST — a <=15-row broadcast dim (db/cex/exchanges.rs has 15
    # variants), exactly the bounded-dim class this allowance exists
    # for; the ONE logical dim join prints 4x because the legs sub-DAG
    # is consumed by both the revenue and the gas aggregate and the
    # simple-mode tree repeats shared subtrees
    "i8_cex_dex_markout": 4,
    # r10-staged stats gates: 1-row aggregate dims broadcast onto the
    # output row (the o16/o18 class)
    "o28_chi2_independence": 2,  # corpus-total N dim + chi2 scalar
    "ml_mrr_eval": 1,  # mrr-stats scalar onto the n_queries row
    "ml_kappa": 1,  # 1-row pe_num dim onto the 1-row totals
}


#: the evaluation gates of plans/ml_eval.py, the last ones added to the
#: registry; every older gate's nested-loop joins are pinned by
#: tests/test_plan_shapes.py
ML_EVAL_GATES = sorted(
    n for n, s in REGISTRY.items()
    if s.build.__module__ == "brontes_spark.plans.ml_eval"
)


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].build(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


@pytest.mark.parametrize("name", ML_EVAL_GATES)
def test_no_cartesian_product_in_any_staged_gate(spark, name):
    plan = _plan(spark, name, mode="simple")
    assert "CartesianProduct" not in plan, name
    if name in SCALAR_DIM_GATES:
        # these gates join a 1-ROW aggregate dim (corpus N/L, pair total)
        # on a literal key which Catalyst constant-folds away, leaving a
        # 1-row-build BroadcastNestedLoopJoin — semantically a scalar
        # broadcast, the plan you'd want; the ban below is for DATA-sized
        # nested loops, so pin the count instead of the absence
        assert plan.count("BroadcastNestedLoopJoin") <= SCALAR_DIM_GATES[name], name
        return
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_bm25_broadcasts_queries_and_bounds_topk(spark):
    plan = _plan(spark, "txt_bm25_topk", mode="simple")
    # the query-term join is a real broadcast hash join; top-k bounded
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # rank<=k bounded map-side
    # the only nested-loop joins are the constant-folded 1-row dims
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_psl_rules_dim_broadcasts(spark):
    plan = _plan(spark, "txt_url_psl_domain")
    assert plan.count("BroadcastHashJoin") >= 2  # exact + wildcard rule joins


def test_interval_join_is_plain_hash_shuffle_join(spark):
    plan = _plan(spark, "x16_interval_join")
    # bucket banding turns the inequality join into an equi-join: some
    # hash join on the (user_id, bucket) key, never a nested loop
    assert "Join" in plan and "NestedLoop" not in plan


def test_table_profile_union_of_pruned_scans(spark):
    plan = _plan(spark, "o9_table_profile", mode="simple")
    # the union formulation: one pruned single-column scan per profiled
    # column, NO Expand anywhere (measured 13x over the one-scan Expand
    # form at sf0.1 — see operators/profile.py)
    assert "Expand" not in plan
    assert plan.count("Scan parquet") == 4  # one per profiled column
    # every scan must prune to its single column (ReadSchema shows it)
    plan_f = _plan(spark, "o9_table_profile")
    assert plan_f.count("ReadSchema") == 4


def test_zorder_is_pure_codegen_projection(spark):
    from .conftest import codegen_session

    # the default test session runs interpreted (conftest); this pin is
    # specifically about the codegen span, so restore the production engine
    with codegen_session(spark):
        plan = _plan(spark, "o8_zorder_index")
    assert "Exchange" not in plan  # a projection: zero shuffles
    # formatted mode marks whole-stage-codegen nodes with '*'
    assert "* Project" in plan


def test_script_profile_zero_shuffle(spark):
    plan = _plan(spark, "txt_script_profile")
    assert "Exchange" not in plan


def test_gopher_rules_zero_shuffle(spark):
    plan = _plan(spark, "txt_gopher_rules")
    assert "Exchange" not in plan


def test_hll_partial_aggregates_map_side(spark):
    plan = _plan(spark, "sketch_hll_distinct", mode="simple")
    # register build and estimate both partial-aggregate before shuffling
    assert plan.count("partial_") >= 1 or "HashAggregate" in plan


def test_salted_join_no_broadcast_of_fact(spark):
    plan = _plan(spark, "x17_salted_join")
    # correctness shape only: the (key, salt) equi-join plans as a join,
    # the salt explode stays a Generate, nothing degenerates to a loop
    assert "Generate explode" in plan or "Generate" in plan
    assert "NestedLoop" not in plan


def test_triangles_all_equi_joins(spark):
    plan = _plan(spark, "g8_triangle_count", mode="simple")
    # wedge generation + closing are HASH equi-joins (the apex equality
    # is the join key; the rank inequality rides as a join FILTER, never
    # promotes to a nested loop) — at test scale AQE broadcasts them all,
    # at cluster scale the same plan shuffles on the equi-keys
    assert plan.count("HashJoin") >= 3  # degree x2, wedge, closing
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the oriented edge relation is cache-pinned and read three times
    # (both wedge sides + the closing probe); explain reprints the
    # relation under each scan, so pin the scan count
    assert plan.count("InMemoryTableScan") == 3


def test_pmi_single_explode_then_windows(spark):
    plan = _plan(spark, "txt_pmi_cooccur", mode="simple")
    # ONE generator for pair explosion (flattened array of all offsets,
    # not one explode per offset) and no self-join anywhere; the cached
    # pair relation's lineage prints once more inside its
    # InMemoryRelation definition, hence <= 2 occurrences
    assert 1 <= plan.count("Generate") <= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_snm_is_one_window_no_self_join(spark):
    plan = _plan(spark, "dedup_snm_pairs", mode="simple")
    # the whole candidate generator is ONE partitioned window over ONE
    # exchange; the oracle's rank self-join shape must NOT appear
    assert plan.count("Window") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


# ------------------------------------------------------- r8 fourth wave


def test_twap_single_exchange(spark):
    # lead window and per-key aggregate share ONE hashpartitioning: the
    # operator keeps the key's original attribute through the agg so
    # Catalyst reuses the window exchange (aliasing first costs a shuffle)
    plan = _plan(spark, "x18_twap", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_markov_exchanges_bounded(spark):
    # user_id window + (from,to) count agg + prob window over the bounded
    # aggregate — never more; the naive consecutive-rank self-join would
    # add a fourth data-sized exchange plus a join
    plan = _plan(spark, "ev_markov_transitions", mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Join" not in plan


def test_stratified_sample_bounds_shuffle_with_wgl(spark):
    # rank<=n must run map-side BEFORE the exchange (Partial) and again
    # after (Final): each task ships at most n rows per stratum
    plan = _plan(spark, "sample_stratified_n", mode="simple")
    assert plan.count("WindowGroupLimit") == 2
    assert "Partial" in plan


def test_skyline_global_sweep_is_champion_sized(spark):
    # the only SinglePartition exchange feeds the final sweep, whose input
    # is the per-x champion relation — both data-sized stages are hash
    # aggregates, and nothing joins
    plan = _plan(spark, "o11_skyline", mode="simple")
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan


def test_bpe_pair_stats_two_exchanges_and_bounded_topk(spark):
    # vocab count agg + pair count agg; the top-40 is TakeOrdered, never a
    # global sort
    plan = _plan(spark, "txt_bpe_pair_stats", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "TakeOrderedAndProject" in plan


def test_ols_single_exchange(spark):
    # re-base window + sum aggregate share the key exchange (the twap
    # discipline); the decimal cross-products are pure projections
    plan = _plan(spark, "x19_ols_trend", mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_attribution_is_banded_equi_join(spark):
    # the pair generator must inherit the interval join's equi-join shape
    # (bucket-banded hash join), never the oracle's inequality self-join
    plan = _plan(spark, "ev_attribution_linear", mode="simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Generate explode" in plan  # bucket banding
