"""JIT-liquidity inspector — reference I10 (SURVEY.md §2.7):
`mev_inspectors/jit/jit_liquidity.rs:62-816`.

Shape: same-actor (frontrun mint, backrun burn) on the SAME pool with victim
swaps on that pool strictly between (possible_jit_set, jit_liquidity.rs:464).
PnL: mint/burn/collect deltas of the searcher set minus gas of both txs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .accounting import build_ledger, bundle_pnl


def jit_bundles(
    actions: DataFrame,
    tx_info: DataFrame,
    dex_prices: DataFrame,
    block_info: DataFrame,
    ledger: DataFrame | None = None,
) -> DataFrame:
    mbc = actions.filter(F.col("action_type").isin("mint", "burn")).select(
        "block_number", "tx_hash", "tx_index", "action_type",
        F.col("mint_burn_collect.pool").alias("pool"),
    ).distinct()
    actors = tx_info.withColumn("actor", F.coalesce("mev_contract", "eoa"))
    tagged = mbc.join(actors.select("tx_hash", "actor", "eoa", "mev_contract"), "tx_hash")

    mints = tagged.filter(F.col("action_type") == "mint").select(
        "block_number", "pool", "actor", "eoa", "mev_contract",
        F.col("tx_hash").alias("front_hash"), F.col("tx_index").alias("front_index"),
    )
    burns = tagged.filter(F.col("action_type") == "burn").select(
        F.col("block_number").alias("b_block"), F.col("pool").alias("b_pool"),
        F.col("actor").alias("b_actor"),
        F.col("tx_hash").alias("back_hash"), F.col("tx_index").alias("back_index"),
    )
    cand = mints.join(
        burns,
        (F.col("b_block") == F.col("block_number"))
        & (F.col("b_pool") == F.col("pool"))
        & (F.col("b_actor") == F.col("actor"))
        & (F.col("back_index") > F.col("front_index")),
    )
    # earliest burn after each mint (bounded recursion analog of the
    # reference's shrink loop: one pair per mint)
    w = W.partitionBy("block_number", "pool", "actor", "front_hash").orderBy("back_index")
    cand = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    victims = actions.filter(F.col("action_type").isin("swap", "swap_with_fee")).select(
        F.col("block_number").alias("v_block"),
        F.col("tx_hash").alias("v_hash"),
        F.col("tx_index").alias("v_index"),
        F.col("swap.pool").alias("v_pool"),
    )
    per_pool = (
        cand.join(
            victims,
            (F.col("v_block") == F.col("block_number"))
            & (F.col("v_pool") == F.col("pool"))
            & (F.col("v_index") > F.col("front_index"))
            & (F.col("v_index") < F.col("back_index")),
        )
        .groupBy(
            "block_number", "pool", "actor", "eoa", "mev_contract",
            "front_hash", "back_hash",
        )
        .agg(F.collect_set("v_hash").alias("pool_victims"))
    )
    # ONE bundle per (front, back) tx pair: a multi-pool mint/burn pair is a
    # single JIT whose victim set unions across its pools (the reference
    # builds one bundle per possible-jit pair, jit_liquidity.rs:62-120) —
    # keeping per-pool rows here would double-count the pair's deltas/gas
    # downstream and emit duplicate bundles.
    with_victims = (
        per_pool.groupBy(
            "block_number", "actor", "eoa", "mev_contract",
            "front_hash", "back_hash",
        )
        .agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("pool_victims")))
            ).alias("victim_hashes")
        )
        # non-empty, and ≤20 victims total (jit_liquidity.rs:599; the ≤10
        # victim-SET cap at :568 is per multi-frontrun chain — our one-pair
        # candidates have exactly one set, so the 20-victim cap binds)
        .filter(
            (F.size("victim_hashes") > 0) & (F.size("victim_hashes") <= 20)
        )
    )

    if ledger is None:
        ledger = build_ledger(actions, tx_info, dex_prices, block_info)
    return (
        bundle_pnl(
            with_victims, ledger, ["block_number", "actor", "front_hash", "back_hash"],
            F.array("front_hash", "back_hash"),
            F.array_compact(F.array("eoa", "mev_contract", "actor")),
        )
        .filter(F.col("revenue_usd").isNotNull())
        .select(
            "block_number",
            F.concat(
                F.array("front_hash"), F.col("victim_hashes"), F.array("back_hash")
            ).alias("tx_hashes"),
            "eoa",
            "mev_contract",
            F.lit("jit").alias("mev_type"),
            "profit_usd",
            "revenue_usd",
            "gas_usd",
        )
    )
