"""CEX-DEX markout inspector — reference I8 (SURVEY.md §2.7):
`mev_inspectors/cex_dex/markout/cex_dex_markout.rs:105-745`, priced with the
X4 expanding-window VWAP (operators/vwap.py ↔ time_window_vwam.rs:94-520).

Per DEX swap selling token T for the quote asset: the CEX markout price of
T is the VWAP of CEX trades in the expanding window around the block
timestamp, grown until trade volume covers the swap's volume. Markout
revenue follows the reference profit classifier (cex_dex_markout.rs:433-485):
the swap sells T on the DEX for amount_out quote units; buying amount_in of
T back on the CEX costs amount_in·vwap(T) quote units, so the whole-swap PnL
accrues in quote units and converts to USD once:
revenue = (amount_out − amount_in·vwap(T)) · price(quote→USD).
Positive exactly when the DEX sale price beats the CEX benchmark. Anchors
are per-SWAP (tx_hash|trace_idx) and all of a tx's swap legs aggregate into
ONE bundle with gas charged once, per the reference's per-TxInfo build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.vwap import expanding_vwap
from ..operators.windows import keep_largest

PRE_STEP_US = 1_000_000
POST_STEP_US = 1_000_000
MAX_STEPS = 5


def _quote_swaps(
    actions: DataFrame, block_info: DataFrame, quote_token: str
) -> tuple[DataFrame, DataFrame]:
    """The swaps selling a token for `quote_token`, and the same swaps with
    their block's timestamp (the CEX lookup reads only the second, so the
    legs it prices re-join the first without a second block_info join)."""
    swaps = actions.filter(
        F.col("action_type").isin("swap", "swap_with_fee") & (F.col("swap.token_out") == quote_token)
    ).select(
        "block_number", "tx_hash", "tx_index", "trace_idx",
        F.col("swap.token_in").alias("token_in"),
        F.col("swap.amount_in").alias("amount_in"),
        F.col("swap.amount_out").alias("amount_out"),
    )
    ts = F.broadcast(block_info.select("block_number", "block_timestamp"))
    return swaps, swaps.join(ts, "block_number")


def _tx_bundles(
    legs: DataFrame,
    dex_prices: DataFrame,
    ledger: DataFrame,
    quote_token: str,
    mev_type: str,
    pick=lambda priced: priced,
) -> DataFrame:
    """One `mev_type` bundle per tx with positive revenue, from `legs`:
    the `_quote_swaps` swaps, each with a CEX price `cex_price`. `pick` selects
    among the priced legs before they sum per tx. Only the gas columns of
    `ledger` are read, so `gas_usd` rows serve as well as the ledger."""
    # whole-swap PnL accrues in quote-token units, then converts to USD once
    # at the quote asset's per-tx-index price (the reference values the
    # markout via the quote asset's USD price; converting only the DEX side
    # would skew revenue by the quote/USD rate for non-pegged quotes)
    qprices = dex_prices.filter(F.col("token") == quote_token).select(
        F.col("block_number").alias("d_block"),
        F.col("tx_idx").alias("d_idx"),
        F.col("price_usd").alias("quote_price"),
    )
    priced = legs.join(
        qprices,
        (F.col("d_block") == F.col("block_number")) & (F.col("d_idx") == F.col("tx_index")),
    ).withColumn(
        "revenue_usd",
        (
            (F.col("amount_out") - F.col("amount_in") * F.col("cex_price"))
            * F.col("quote_price")
        ).cast("decimal(38,18)"),
    )
    # ONE bundle per tx: the reference aggregates all the tx's swap legs
    # into a single bundle (it builds per-TxInfo), gas charged once
    per_tx = pick(priced).groupBy("block_number", "tx_hash").agg(
        F.sum("revenue_usd").cast("decimal(38,18)").alias("revenue_usd")
    )
    return (
        per_tx.join(ledger.select("tx_hash", "eoa", "mev_contract", "gas_usd"), "tx_hash")
        .withColumn("profit_usd", (F.col("revenue_usd") - F.col("gas_usd")).cast("decimal(38,18)"))
        .filter(F.col("revenue_usd") > 0)
        .select(
            "block_number",
            F.array("tx_hash").alias("tx_hashes"),
            "eoa",
            "mev_contract",
            F.lit(mev_type).alias("mev_type"),
            "profit_usd",
            "revenue_usd",
            F.col("gas_usd").cast("decimal(38,18)").alias("gas_usd"),
        )
    )


def cex_dex_quotes_bundles(
    actions: DataFrame,
    dex_prices: DataFrame,
    block_info: DataFrame,
    cex_quotes: DataFrame,
    ledger: DataFrame,
    quote_token: str = "0xusd",
    exchange: str = "binance",
) -> DataFrame:
    """I9 (mev_inspectors/cex_dex/quotes/cex_dex.rs): the quotes variant —
    instantaneous mid quote (X1 as-of lookup) instead of the trade-window
    VWAP. Deliberately subordinate to the markout variant in the composer's
    precedence table, mirroring the reference's preference."""
    from ..operators.cex_quotes import quote_at

    swaps, timed = _quote_swaps(actions, block_info, quote_token)
    # target identity = the SWAP (tx_hash|trace_idx), never the tx alone: a
    # tx with two swaps would otherwise cross-join each swap to the other
    # swap's quote when re-attaching by tx_hash
    targets = timed.select(
        F.concat_ws("|", "tx_hash", "trace_idx").alias("target_id"),
        F.col("token_in").alias("base_token"),
        F.lit(quote_token).alias("quote_token"),
        (F.col("block_timestamp") * F.lit(1_000_000)).cast("long").alias("ts"),
    )
    quoted = quote_at(targets, cex_quotes, exchange, max_time_diff_us=2_000_000).select(
        F.split(F.col("target_id"), "\\|")[0].alias("tx_hash"),
        F.split(F.col("target_id"), "\\|")[1].cast("long").alias("trace_idx"),
        F.col("mid_price").cast("decimal(38,18)").alias("cex_price"),
    ).filter(F.col("cex_price").isNotNull())
    return _tx_bundles(
        swaps.join(quoted, ["tx_hash", "trace_idx"]), dex_prices, ledger, quote_token,
        "cex_dex_quotes",
    )


#: pricing-sanity spread cap (max_arb_delta, cex_dex_markout.rs:709-731):
#: an implied CEX/DEX value ratio beyond base_diff=3 is bad pricing data,
#: not an arb. The reference relaxes the cap for labelled cex-dex searchers
#: (to up to 10×) — the base cap is applied here; labelled relaxation is a
#: documented divergence (our tx_info carries no per-type searcher labels).
MAX_ARB_DELTA = 3


def cex_dex_bundles(
    actions: DataFrame,
    dex_prices: DataFrame,
    block_info: DataFrame,
    cex_trades: DataFrame,
    ledger: DataFrame,
    quote_token: str = "0xusd",
) -> DataFrame:
    """I8: per swap, the GLOBAL (all-exchange) expanding-window VWAP and one
    leg per exchange (process_global_vwam / process_per_exchange,
    cex_dex_markout.rs:305-420) all price the markout; the most profitable
    leg wins (the reference sorts per-exchange pnl and merges with global,
    :619-630). Fixtures with one exchange collapse both legs to the same
    number, keeping the golden values closed-form."""
    swaps, timed = _quote_swaps(actions, block_info, quote_token)
    # anchor identity = the SWAP (tx_hash|trace_idx), never the tx alone: a
    # tx with two swaps would merge both swaps' ticks into one cumulative
    # window (corrupting the volume cutoff) and then cross-join each swap to
    # the other's VWAP on re-attach
    anchors = timed.select(
        F.concat_ws("|", "tx_hash", "trace_idx").alias("anchor_id"),
        F.col("token_in").alias("key"),
        (F.col("block_timestamp") * F.lit(1_000_000)).cast("long").alias("anchor_ts"),
        F.col("amount_in").alias("required_vol"),
    )
    # every leg rides one `expanding_vwap` call, whose plan runs the range
    # join once (the trade scans and the leg cross join too): each trade ticks
    # the global leg and its own exchange's leg, keyed per (leg, token),
    # and each anchor is keyed once per leg. The "ex:" prefix keeps an
    # exchange's leg id apart from "global".
    trades = cex_trades.filter(F.col("quote_token") == quote_token).withColumn(
        "leg", F.explode(F.array(F.lit("global"), F.concat(F.lit("ex:"), "exchange")))
    )
    leg_anchors = anchors.join(F.broadcast(trades.select("leg").distinct())).select(
        F.concat_ws("|", "anchor_id", "leg").alias("anchor_id"),
        F.concat_ws("|", "leg", "key").alias("key"),
        "anchor_ts", "required_vol",
    )
    leg_ticks = trades.select(
        F.concat_ws("|", "leg", "base_token").alias("key"),
        F.col("timestamp").alias("tick_ts"),
        F.col("price"),
        F.col("amount").alias("vol"),
        F.col("timestamp").alias("tick_id"),
    )
    vwap = expanding_vwap(
        leg_anchors, leg_ticks, PRE_STEP_US, POST_STEP_US, MAX_STEPS
    ).select(
        F.split(F.col("anchor_id"), "\\|")[0].alias("tx_hash"),
        F.split(F.col("anchor_id"), "\\|")[1].cast("long").alias("trace_idx"),
        F.col("vwap").cast("decimal(38,18)").alias("cex_price"),
        F.split(F.col("anchor_id"), "\\|")[2].alias("leg"),
    )
    return _tx_bundles(
        swaps.join(vwap, ["tx_hash", "trace_idx"]), dex_prices, ledger, quote_token,
        "cex_dex", pick=_best_guarded_leg,
    )


def _best_guarded_leg(legs: DataFrame) -> DataFrame:
    """The markout's best leg per swap, among the legs that pass the
    max_arb_delta guard."""
    # max_arb_delta guard: CEX-implied cost vs DEX proceeds within 3×
    # (both sides in quote units — same-unit comparison)
    cex_val = F.col("amount_in") * F.col("cex_price")
    dex_val = F.col("amount_out").cast("decimal(38,18)")
    guarded = legs.filter(F.least(cex_val, dex_val) * MAX_ARB_DELTA >= F.greatest(cex_val, dex_val))
    # best leg per SWAP; ties prefer the global leg then lexicographic
    return keep_largest(
        guarded.withColumn(
            "__leg_rank", F.when(F.col("leg") == "global", F.lit("0")).otherwise(F.col("leg"))
        ),
        ["tx_hash", "trace_idx"],
        F.col("revenue_usd"),
        "__leg_rank",
    )
