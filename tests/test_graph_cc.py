"""G3 connectivity: connected components (operators/graph_cc) on both of
its paths, driver-side union-find and the prune→rundown→abandon verify flow
(pricing/graph.verify_pairs; reference graphs/subgraph.rs:380-440)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from brontes_spark.operators import graph_cc
from brontes_spark.operators.graph_cc import connected_components
from brontes_spark.pricing.graph import TokenGraph, verify_pairs


def _both_paths(monkeypatch, edges, **kw):
    """The rows and schema of the driver path, then of the propagation
    path (forced with a zero edge bound)."""
    out = []
    for bound in (graph_cc.DRIVER_EDGES, 0):
        monkeypatch.setattr(graph_cc, "DRIVER_EDGES", bound)
        cc = connected_components(edges, **kw)
        out.append((sorted(map(tuple, cc.collect())), cc.schema.simpleString()))
    return out


def test_connected_components_chain_and_singletons(spark):
    # chain 1-2-3-4, pair 10-11, isolated 20 (via vertices)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    verts = spark.createDataFrame([(20,), (1,)], "src long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_converges_on_long_chain(spark, monkeypatch):
    # 40-node chain: pointer jumping must converge well inside max_iter
    monkeypatch.setattr(graph_cc, "DRIVER_EDGES", 0)
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iter=12).collect()
    }
    assert set(got.values()) == {0} and len(got) == n + 1


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_both_paths_agree_on_random_graphs(spark, monkeypatch, seed):
    rnd = random.Random(seed)
    rows = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(45)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in range(0, 80, 3)], "src long")
    for kw in ({}, {"vertices": verts}):
        driver, propagated = _both_paths(monkeypatch, edges, **kw)
        assert driver == propagated


def test_both_paths_agree_on_a_long_chain(spark, monkeypatch):
    edges = spark.createDataFrame([(i + 1, i) for i in range(40)], "src long, dst long")
    driver, propagated = _both_paths(monkeypatch, edges)
    assert driver == propagated
    assert driver[0] == [(i, 0) for i in range(41)]


def test_null_ids_are_not_nodes(spark, monkeypatch):
    """Duplicate edges and a self-loop label as usual; a null end is no
    node, and the other end of its edge is a node of its own."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (7, 7), (9, 8), (9, 8)],
        "src long, dst long",
    )
    verts = spark.createDataFrame([(1,), (None,), (20,), (4,)], "src long")
    driver, propagated = _both_paths(monkeypatch, edges)
    assert driver == propagated
    assert driver[0] == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (7, 7), (8, 8), (9, 8)]
    driver, propagated = _both_paths(monkeypatch, edges, vertices=verts)
    assert driver == propagated
    assert (20, 20) in driver[0] and len(driver[0]) == 9


def test_both_paths_agree_on_string_ids(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("é", "z"), ("y", "z"), ("q", None)],
        "id_a string, id_b string",
    )
    verts = spark.createDataFrame([("a",), ("m",), ("y",)], "id_a string")
    driver, propagated = _both_paths(monkeypatch, edges, src="id_a", dst="id_b", vertices=verts)
    assert driver == propagated
    assert driver[0] == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("m", "m"), ("q", "q"),
        ("y", "y"), ("z", "y"), ("é", "y"),
    ]
    assert driver[1] == "struct<node:string,component:string>"


def test_driver_path_runs_at_most_two_jobs(spark, tmp_path):
    """A 100-edge graph is read and labelled on the driver in one action;
    the propagation rounds would run dozens of jobs."""
    path = str(tmp_path / "edges")
    spark.range(100).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).write.parquet(path)
    edges = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("graph_cc_driver_path", "connected_components, 100 edges")
    try:
        rows = connected_components(edges).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("graph_cc_driver_path")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(map(tuple, rows)) == [(i, 0) for i in range(101)]
    assert len(jobs) <= 2


def test_token_graph_components_union_find():
    g = TokenGraph(
        [("p1", "a", "b", 1.0), ("p2", "b", "c", 1.0), ("p3", "x", "y", 1.0)]
    )
    comp = g.components()
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert g.connected("a", "c") and not g.connected("a", "y")


def test_verify_pairs_prune_rundown_abandon(spark):
    pools = spark.createDataFrame(
        [
            ("p1", "usdc", "weth", 50_000.0),   # survives $15k prune
            ("p2", "weth", "tok1", 10_000.0),   # only in the $7.5k rundown
            ("p3", "tok2", "tok3", 1_000.0),    # below both floors
        ],
        "pool string, token0 string, token1 string, liquidity_usd double",
    )
    got = verify_pairs(
        pools, [("usdc", "weth"), ("usdc", "tok1"), ("usdc", "tok2")]
    )
    assert got == {
        ("usdc", "weth"): "verified",
        ("usdc", "tok1"): "rundown",
        ("usdc", "tok2"): "abandon",
    }
