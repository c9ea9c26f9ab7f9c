"""Sink tests: the partitioned writes round-trip with partition pruning, and
searcher stats agree between the full recompute and the incremental
block-grain upsert."""

from __future__ import annotations

import tempfile
from decimal import Decimal

from pyspark.sql import functions as F

from brontes_spark.sources.fixtures import load_fixtures
from brontes_spark.sources.sinks import searcher_stats, write_partitioned


def test_write_partitioned_and_prune(spark):
    tables = load_fixtures(spark)
    with tempfile.TemporaryDirectory() as tmp:
        write_partitioned(tables["tx_info"], f"{tmp}/tx_info")
        back = spark.read.parquet(f"{tmp}/tx_info")
        assert back.count() == tables["tx_info"].count()
        assert "block_bucket=0" in str(
            back.filter(F.col("block_number") == 100).explain(extended=False) or ""
        ) or back.filter(F.col("block_number") == 100).count() == 4


def test_searcher_stats_recompute(spark):
    rows = [
        (100, ["a"], "0xs1", None, "sandwich", Decimal(88), Decimal(90), Decimal(2)),
        (101, ["b"], "0xs1", None, "atomic_arb:triangle", Decimal(49), Decimal(50), Decimal(1)),
        (102, ["c"], "0xs2", None, "jit", Decimal(4), Decimal(6), Decimal(2)),
    ]
    from brontes_spark.schemas import BUNDLES_SCHEMA

    bundles = spark.createDataFrame(rows, BUNDLES_SCHEMA)
    stats = {r["eoa"]: r.asDict() for r in searcher_stats(bundles).collect()}
    assert stats["0xs1"]["n_bundles"] == 2
    assert stats["0xs1"]["total_profit_usd"] == Decimal(137)
    assert stats["0xs1"]["bundle_counts"] == {"sandwich": 1, "atomic_arb": 1}
    assert stats["0xs2"]["bundle_counts"] == {"jit": 1}


def test_searcher_stats_incremental_upsert(spark):
    """S10 tip mode (processors/mev.rs:111-148): two consecutive micro-batches
    merge into block-grain stats; a replayed batch changes nothing
    (idempotent); the rollup equals the full-recompute batch path."""
    from brontes_spark.schemas import BUNDLES_SCHEMA
    from brontes_spark.sources.sinks import (
        searcher_block_stats,
        searcher_stats_rollup,
        upsert_searcher_block_stats,
    )

    batch1 = spark.createDataFrame(
        [
            (100, ["a"], "0xs1", None, "sandwich", Decimal(88), Decimal(90), Decimal(2)),
            (101, ["b"], "0xs1", None, "atomic_arb:triangle", Decimal(49), Decimal(50), Decimal(1)),
        ],
        BUNDLES_SCHEMA,
    )
    batch2 = spark.createDataFrame(
        [
            (102, ["c"], "0xs2", None, "jit", Decimal(4), Decimal(6), Decimal(2)),
            (102, ["d"], "0xs1", None, "jit", Decimal(10), Decimal(11), Decimal(1)),
        ],
        BUNDLES_SCHEMA,
    )
    state = searcher_block_stats(batch1)
    state = upsert_searcher_block_stats(state, batch2)
    rolled = {r["eoa"]: r.asDict() for r in searcher_stats_rollup(state).collect()}
    assert rolled["0xs1"]["n_bundles"] == 3
    assert rolled["0xs1"]["total_profit_usd"] == Decimal(147)
    assert rolled["0xs1"]["bundle_counts"] == {"atomic_arb": 1, "jit": 1, "sandwich": 1}
    assert rolled["0xs2"]["bundle_counts"] == {"jit": 1}

    # replaying batch2 (at-least-once delivery) must be a no-op
    replayed = upsert_searcher_block_stats(state, batch2)
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, state.collect()))

    # the incremental rollup must equal the batch-path full recompute
    full = {r["eoa"]: r.asDict()
            for r in searcher_stats(batch1.unionByName(batch2)).collect()}
    assert rolled == full
