"""Liquidation inspector — reference I12 (SURVEY.md §2.7):
`mev_inspectors/liquidations.rs:39-168`: txs containing liquidation actions;
revenue = USD(seized collateral) − USD(covered debt); profit = revenue − gas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .accounting import build_ledger, bundle_pnl


def liquidation_bundles(
    actions: DataFrame,
    tx_info: DataFrame,
    dex_prices: DataFrame,
    block_info: DataFrame,
    ledger: DataFrame | None = None,
) -> DataFrame:
    # ONE bundle per tx (the reference emits one per TxInfo,
    # liquidations.rs:56-76): a tx with liquidation actions by several
    # liquidator addresses must not fan out into per-liquidator bundles
    # each charged the tx's full gas. Revenue accrues to the tx's searcher
    # address set (eoa + mev_contract — collect_address_set_for_accounting).
    if ledger is None:
        ledger = build_ledger(actions, tx_info, dex_prices, block_info)
    liq_txs = ledger.select("block_number", "tx_hash", "eoa", "mev_contract").join(
        actions.filter(F.col("action_type") == "liquidation").select("tx_hash"),
        "tx_hash",
        "left_semi",
    )
    return (
        bundle_pnl(
            liq_txs, ledger, ["tx_hash"],
            F.array("tx_hash"), F.array_compact(F.array("eoa", "mev_contract")),
        )
        .filter(F.col("revenue_usd").isNotNull())
        .select(
            "block_number",
            F.array("tx_hash").alias("tx_hashes"),
            "eoa",
            "mev_contract",
            F.lit("liquidation").alias("mev_type"),
            "profit_usd",
            "revenue_usd",
            "gas_usd",
        )
    )
