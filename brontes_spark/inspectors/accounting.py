"""Shared inspector accounting — the A-operators of SURVEY.md §2.4:

  A1/A2  action → ±(address, token, amount) deltas with coverage dedup
         (normalized_actions/accounting.rs:19-57; swap deltas
         swaps.rs:106-117; transfer deltas transfer.rs:31-40)
  A3     USD valuation via per-tx-index DEX price join
         (mev_inspectors/shared_utils.rs:59-119 usd_delta_by_address)
  A5     bundle PnL over a searcher address set
         (shared_utils.rs get_bundle_accounting / build_bundle_header)
  A6     gas accounting (tree/root.rs:362-380 gas_paid + coinbase)

Spark shape: A1/A2 are one scan of `actions`. A window on `tx_hash`
collects the tx's swap legs; a transfer is covered when a field-wise
`exists` finds the swap leg it duplicates; every other action becomes one
delta array chosen by `action_type`, and one `explode` yields the rows.
A3 is one equi-join against `dex_prices` (every tx index is priced in our
model, so no as-of needed — operators/asof.py provides it where price grids
are sparse). `tx_ledger` folds the USD deltas and the gas rows into one row
per tx in one join and one aggregate; the composer caches it once. Its
`searcher_usd` prices a one-tx bundle (liquidations, atomic_arb, I13) off
its row; `bundle_pnl` is for bundles that span txs (sandwich, jit).

Decimal typing: every delta amount is decimal(38,18), the amount type, so
no step rounds it (functions/decimals.py). Two products of this typing
rule stay visible: Spark types `amount + fee` at scale 17 (two
decimal(38,18) operands leave 21 integer digits), so a transfer's paying
leg keeps 17 fractional digits, and A3's `amount * price_usd` at scale 6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

WEI = 10**18
AMOUNT = "decimal(38,18)"


def _delta(address: Column, token: Column, amount: Column) -> Column:
    return F.struct(
        address.alias("address"), token.alias("token"), amount.cast(AMOUNT).alias("amount")
    )


def _covered(transfer: Column, legs: Column) -> Column:
    """True when a swap of the same tx already accounts for this transfer
    (ActionCmp::is_same_coverage, normalized_actions/comparison.rs:312+):
    the in-leg (from→pool of token_in/amount_in) or the out-leg
    (pool→recipient of token_out/amount_out). Compared field by field, so a
    null field matches nothing: a whole-struct `=` or `array_contains`
    would treat two nulls as equal."""

    def same(leg: Column) -> Column:
        t = transfer
        in_leg = (
            (t["from"] == leg["from"]) & (t["to"] == leg["pool"])
            & (t["token"] == leg["token_in"]) & (t["amount"] == leg["amount_in"])
        )
        out_leg = (
            (t["from"] == leg["pool"]) & (t["to"] == leg["recipient"])
            & (t["token"] == leg["token_out"]) & (t["amount"] == leg["amount_out"])
        )
        return in_leg | out_leg

    return F.coalesce(F.exists(legs, same), F.lit(False))


def action_deltas(actions: DataFrame) -> DataFrame:
    """(block_number, tx_hash, tx_index, address, token, amount) signed rows."""
    kind = F.col("action_type")
    is_swap = kind.isin("swap", "swap_with_fee")
    legs = F.collect_list(F.when(is_swap, F.col("swap"))).over(W.partitionBy("tx_hash"))
    # swap_with_fee keeps the (fee-adjusted) swap struct — same deltas
    s, t, lq = F.col("swap"), F.col("transfer"), F.col("liquidation")
    swap = F.array(
        _delta(s["from"], s["token_in"], -s["amount_in"]),
        _delta(s["recipient"], s["token_out"], s["amount_out"]),
    )
    transfer = F.array(
        _delta(t["from"], t["token"], -(t["amount"] + t["fee"])),
        _delta(t["to"], t["token"], t["amount"]),
    )
    # mint: `from` pays tokens in, the POOL receives them; burn/collect: the
    # POOL pays out, `recipient` receives (falling back to `from` when the
    # decoder saw no distinct recipient) — both sides booked, exactly the
    # reference's per-variant impls (liquidity.rs:34-88 apply_delta pairs)
    m = F.col("mint_burn_collect")
    mint = kind == "mint"
    holder = F.when(mint, m["from"]).otherwise(F.coalesce(m["recipient"], m["from"]))
    mbc = F.flatten(F.transform(
        F.arrays_zip(m["tokens"].alias("token"), m["amounts"].alias("amt")),
        lambda z: F.array(
            _delta(holder, z["token"], F.when(mint, -z["amt"]).otherwise(z["amt"])),
            _delta(m["pool"], z["token"], F.when(mint, z["amt"]).otherwise(-z["amt"])),
        ),
    ))
    liquidation = F.array(
        _delta(lq["liquidator"], lq["collateral_asset"], lq["liquidated_collateral"]),
        _delta(lq["liquidator"], lq["debt_asset"], -lq["covered_debt"]),
    )
    entries = (
        F.when(is_swap, swap)
        .when((kind == "transfer") & ~_covered(t, F.col("__legs")), transfer)
        .when(kind.isin("mint", "burn", "collect"), mbc)
        .when(kind == "liquidation", liquidation)
    )
    return (
        actions.withColumn("__legs", legs)
        .select("block_number", "tx_hash", "tx_index", F.explode(entries).alias("d"))
        .select("block_number", "tx_hash", "tx_index", "d.address", "d.token", "d.amount")
        .filter(F.col("address").isNotNull())
    )


def usd_deltas(deltas: DataFrame, dex_prices: DataFrame) -> DataFrame:
    """A3: value deltas at the planted per-tx-index price."""
    return (
        deltas.join(
            dex_prices.select(
                "block_number", F.col("tx_idx").alias("tx_index"), "token", "price_usd"
            ),
            ["block_number", "tx_index", "token"],
        )
        .withColumn("usd", (F.col("amount") * F.col("price_usd")).cast(AMOUNT))
    )


def gas_usd(tx_info: DataFrame, block_info: DataFrame) -> DataFrame:
    """A6: per-tx gas cost in USD (gas_paid = used*price + coinbase bribe),
    with the tx's searcher pair and flags."""
    eth_paid = (
        (F.col("gas_used") * F.col("effective_gas_price")).cast("decimal(38,0)")
        / F.lit(WEI).cast("decimal(19,0)")
    ).cast(AMOUNT) + F.coalesce(F.col("coinbase_transfer"), F.lit(0).cast(AMOUNT))
    return tx_info.join(
        F.broadcast(block_info.select("block_number", "eth_price")), "block_number"
    ).select(
        "block_number",
        "tx_hash",
        "tx_index",
        "eoa",
        "mev_contract",
        (eth_paid * F.col("eth_price")).cast(AMOUNT).alias("gas_usd"),
        "priority_fee",
        "is_private",
        "coinbase_transfer",
    )


def tx_ledger(deltas: DataFrame, gas: DataFrame) -> DataFrame:
    """One row per tx: its `gas` row plus `deltas`, the tx's (address, usd)
    entries from `usd_deltas` (empty when it booked none), and
    `searcher_usd`, the `SUM` of those booked to its own eoa or mev_contract
    (null when none is), exact at the amount scale: an `aggregate` lambda's
    `+` would round to scale 17."""
    own = (F.col("address") == F.col("eoa")) | (F.col("address") == F.col("mev_contract"))
    # sort-merge, as adaptive execution re-plans it anyway: the deltas come
    # partitioned on tx_hash by the coverage window, so only the gas rows
    # shuffle and the aggregate needs no exchange of its own
    entries = deltas.select("tx_hash", "address", "usd").hint("merge")
    # one gas row per tx: a repeated tx_info row would join each delta once
    # per copy; the dedupe shares the join's tx_hash exchange
    return (
        gas.dropDuplicates(["tx_hash"])
        .join(entries, "tx_hash", "left")
        .groupBy(*gas.columns)
        .agg(
            # a tx with no deltas joins one all-null row, which collects nothing
            F.collect_list(F.when(F.col("address").isNotNull(), F.struct("address", "usd")))
            .alias("deltas"),
            F.sum(F.when(own, F.col("usd"))).alias("searcher_usd"),
        )
    )


def ledger_bundles(rows: DataFrame, mev_type: str) -> DataFrame:
    """One `mev_type` bundle per ledger row of `rows` that books to its own
    searcher pair: revenue is its `searcher_usd`, profit revenue − gas."""
    return rows.filter(F.col("searcher_usd").isNotNull()).select(
        "block_number",
        F.array("tx_hash").alias("tx_hashes"),
        "eoa",
        "mev_contract",
        F.lit(mev_type).alias("mev_type"),
        (F.col("searcher_usd") - F.col("gas_usd")).cast(AMOUNT).alias("profit_usd"),
        F.col("searcher_usd").alias("revenue_usd"),
        "gas_usd",
    )


def build_ledger(
    actions: DataFrame, tx_info: DataFrame, dex_prices: DataFrame, block_info: DataFrame
) -> DataFrame:
    """`tx_ledger` of A1–A3 and A6 over the inspector tables."""
    return tx_ledger(usd_deltas(action_deltas(actions), dex_prices), gas_usd(tx_info, block_info))


def bundle_pnl(
    bundles: DataFrame, ledger: DataFrame, key: list[str], txs: Column, searchers: Column
) -> DataFrame:
    """A5: each bundle of `bundles` (one row per `key`) with the gas of its
    `txs` and, as revenue, the USD deltas those txs book to any address of
    `searchers`. Both columns are evaluated on the bundle row.

    Adds `revenue_usd`, `gas_usd` and `profit_usd` = revenue − gas. A bundle
    none of whose txs is in the ledger is dropped; one whose txs book no
    delta to the searcher set keeps a null revenue and profit, which the
    caller drops or zeroes."""
    rest = [c for c in bundles.columns if c not in key]
    # the tx's gas rides as one more entry, so a single explode carries both
    entries = F.concat(
        F.array(F.struct(F.col("__gas").alias("gas"), F.lit(None).cast(AMOUNT).alias("usd"))),
        F.transform(
            F.filter("__deltas", lambda d: F.array_contains(F.col("__set"), d["address"])),
            lambda d: F.struct(F.lit(None).cast(AMOUNT).alias("gas"), d["usd"].alias("usd")),
        ),
    )
    per_tx = bundles.select("*", searchers.alias("__set"), F.explode(txs).alias("__tx")).join(
        ledger.select(
            F.col("tx_hash").alias("__tx"),
            F.col("gas_usd").alias("__gas"),
            F.col("deltas").alias("__deltas"),
        ),
        "__tx",
    )
    return (
        per_tx.select(*key, *rest, F.explode(entries).alias("e"))
        .groupBy(*key)
        .agg(
            *[F.first(c).alias(c) for c in rest],
            F.sum("e.usd").alias("revenue_usd"),
            F.sum("e.gas").alias("gas_usd"),
        )
        .withColumn("profit_usd", (F.col("revenue_usd") - F.col("gas_usd")).cast(AMOUNT))
    )
