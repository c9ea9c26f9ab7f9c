"""Liquidation inspector — reference I12 (SURVEY.md §2.7):
`mev_inspectors/liquidations.rs:39-168`: txs containing liquidation actions;
revenue = USD(seized collateral) − USD(covered debt); profit = revenue − gas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .accounting import ledger_bundles


def liquidation_bundles(actions: DataFrame, ledger: DataFrame) -> DataFrame:
    # ONE bundle per tx (the reference emits one per TxInfo,
    # liquidations.rs:56-76): a tx with liquidation actions by several
    # liquidator addresses must not fan out into per-liquidator bundles
    # each charged the tx's full gas. Revenue accrues to the tx's searcher
    # address set (eoa + mev_contract — collect_address_set_for_accounting):
    # the ledger row's `searcher_usd`.
    liq_txs = actions.filter(F.col("action_type") == "liquidation").select("tx_hash")
    return ledger_bundles(ledger.join(liq_txs, "tx_hash", "left_semi"), "liquidation")
