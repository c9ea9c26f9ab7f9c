"""Atomic-arbitrage inspector — reference I6/I7 (SURVEY.md §2.7):
`mev_inspectors/atomic_arb.rs:107-447`.

I6 — per tx, order its swaps by trace_idx and classify the sequence
(`is_possible_arb` atomic_arb.rs:316-341, `identify_arb_sequence`
atomic_arb.rs:397-424):

  * Triangle    — consecutive swaps chain token_out → token_in and the
                  sequence returns to its starting token
  * CrossPair   — returns to start but the chain breaks once (the break
                  position is the `jump_index`)
  * Stablecoin  — open-ended but endpoints (or, for 2-swap closes, the
                  jump legs) are the same stable class (USD/EURO/GOLD —
                  atomic_arb.rs:425-435 is_stable_pair)
  * LongTail    — anything else

I7 — validation heuristics (atomic_arb.rs:169-232, 341-397):

  * profit is zeroed when DEX pricing is unavailable for the tx's legs or
    when it reaches the ±$15M sanity caps — INCLUSIVE bounds, per the
    reference's `>= MAX_PROFIT || <= MIN_PROFIT` (atomic_arb.rs:173)
  * `requirement_multiplier` = 1 with DEX pricing, 2 without
  * Triangle:   profitable ∨ history ≥ 20×mult ∨ labelled ∨
                (coinbase-bribe ∧ private)
  * CrossPair:  profitable ∨ stable-jump ∨ history ≥ 20×mult ∨ labelled ∨
                private ∨ coinbase-bribe
  * Stablecoin: profitable ∨ history ≥ 20×mult ∨ labelled ∨ private ∨
                coinbase-bribe
  * LongTail:   (history ≥ 100×mult ∨ labelled ∨ (private ∧ coinbase) ∨
                has mev_contract) ∧ (profitable ∨ no-dex-price)

"history" is the searcher's prior atomic-arb bundle count
(`is_searcher_of_type_with_count_threshold`, checked for both eoa and
mev_contract); "labelled" is an explicit atomic_arb label on the searcher
dim (`is_labelled_searcher_of_type`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .accounting import build_ledger, bundle_pnl

MAX_PROFIT_USD = 15_000_000   # mev_inspectors/mod.rs:12
MIN_PROFIT_USD = -15_000_000  # mev_inspectors/mod.rs:13

# Stable classes by symbol (constants.rs USD_STABLES/EURO_STABLES/
# GOLD_STABLES — symbol-keyed here because this engine's token ids are
# symbolic).
USD_STABLES = [
    "USD", "USDT", "USDC", "DAI", "BUSD", "TUSD", "FRAX", "LUSD", "USDE",
    "GUSD", "USDP", "SUSD", "MIM", "USDD", "CRVUSD", "PYUSD", "FDUSD",
]
EURO_STABLES = ["EURS", "EURT", "AGEUR", "EURE", "CEUR", "EUROC"]
GOLD_STABLES = ["PAXG", "XAUT"]


def _stable_class(tok: Column) -> Column:
    up = F.upper(tok)
    return (
        F.when(up.isin(USD_STABLES), "usd")
        .when(up.isin(EURO_STABLES), "euro")
        .when(up.isin(GOLD_STABLES), "gold")
    )


def _is_stable_pair(a: Column, b: Column) -> Column:
    ca, cb = _stable_class(a), _stable_class(b)
    return ca.isNotNull() & (ca == cb)


def _classify_seq() -> Column:
    """arb_kind over the collected `seq` array (struct trace_idx, token_in,
    token_out, pool) — column form of is_possible_arb +
    identify_arb_sequence."""
    n = F.size("seq")
    first, last = F.element_at("seq", 1), F.element_at("seq", -1)
    closes = first["token_in"] == last["token_out"]
    # breaks[i] true ⇔ chain broken entering swap i+1 (0 = none)
    breaks = F.zip_with(
        F.slice("seq", 1, n - 1),
        F.slice("seq", 2, n - 1),
        lambda a, b: a["token_out"] != b["token_in"],
    )
    jump = F.array_position(breaks, F.lit(True))
    chained = jump == 0
    # the jump legs for is_stable_arb (atomic_arb.rs:384-396):
    # swaps[jump-1].token_out / swaps[jump].token_in (0-based reference
    # indexing; element_at is 1-based so jump / jump+1)
    stable_jump = _is_stable_pair(
        F.element_at("seq", jump.cast("int"))["token_out"],
        F.element_at("seq", (jump + 1).cast("int"))["token_in"],
    )
    two = (
        F.when(closes & chained, "triangle")
        .when(closes & stable_jump, "stablecoin")
        .when(closes, "cross_pair")
        .when(_is_stable_pair(first["token_in"], last["token_out"]), "stablecoin")
        .otherwise("long_tail")
    )
    many = (
        F.when(
            ~closes,
            F.when(
                _is_stable_pair(first["token_in"], last["token_out"]), "stablecoin"
            ).otherwise("long_tail"),
        )
        .when(chained, "triangle")
        .otherwise("cross_pair")
    )
    kind = F.when(n == 2, two).otherwise(many)
    return F.struct(
        kind.alias("arb_kind"),
        F.when(kind == "cross_pair", stable_jump).otherwise(F.lit(False)).alias(
            "stable_jump"
        ),
    )


def _tx_has_dex_price(swaps: DataFrame, dex_prices: DataFrame) -> DataFrame:
    """Per-tx boolean: every swap leg token is priced at this block
    (the column analog of shared_utils.rs:546-653 valid_pricing feeding
    `has_dex_price` at atomic_arb.rs:135-149)."""
    # priced AT THIS TX'S INDEX, not merely somewhere in the block:
    # usd_deltas joins on (block, tx_index, token), so a token priced only
    # at another index contributes NO delta — block-level matching would
    # mark the tx priced while its revenue silently dropped those legs
    legs = swaps.select(
        "block_number", "tx_hash", "tx_index",
        F.explode(F.array("token_in", "token_out")).alias("token"),
    ).distinct()
    priced = dex_prices.select(
        "block_number", F.col("tx_idx").alias("tx_index"), "token"
    ).distinct()
    return (
        legs.join(priced, ["block_number", "tx_index", "token"], "left_semi")
        .groupBy("tx_hash")
        .agg(F.count("*").alias("__n_priced"))
        .join(
            legs.groupBy("tx_hash").agg(F.count("*").alias("__n_legs")),
            "tx_hash",
        )
        .select(
            "tx_hash", (F.col("__n_priced") == F.col("__n_legs")).alias("has_dex_price")
        )
    )


def atomic_arb_bundles(
    actions: DataFrame,
    tx_info: DataFrame,
    dex_prices: DataFrame,
    block_info: DataFrame,
    searcher_info: DataFrame,
    ledger: DataFrame | None = None,
) -> DataFrame:
    swaps = actions.filter(F.col("action_type").isin("swap", "swap_with_fee")).select(
        "block_number", "tx_hash", "tx_index", "trace_idx", F.col("swap.*")
    )
    seqs = (
        swaps.groupBy("block_number", "tx_hash", "tx_index")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("trace_idx", "token_in", "token_out", "pool"))
            ).alias("seq")
        )
        .filter(F.size("seq") >= 2)
    )
    cls = _classify_seq()
    classified = seqs.select(
        "block_number",
        "tx_hash",
        "tx_index",
        cls["arb_kind"].alias("arb_kind"),
        cls["stable_jump"].alias("stable_jump"),
        F.size("seq").alias("n_swaps"),
    )

    # searcher-history dim, joined for both eoa and mev_contract
    # (TxInfo::is_searcher_of_type_with_count_threshold checks both sides)
    cnt = (
        F.coalesce(F.element_at(F.col("bundle_counts"), "atomic_arb"), F.lit(0))
        if "bundle_counts" in searcher_info.columns
        else F.lit(0)
    )
    hist = searcher_info.select(
        "address",
        F.array_contains(F.coalesce("mev_types", F.array()), "atomic_arb").alias("__lbl"),
        cnt.alias("__cnt"),
    )
    h_eoa = F.broadcast(
        hist.select(
            F.col("address").alias("eoa"),
            F.col("__lbl").alias("__lbl_e"),
            F.col("__cnt").alias("__cnt_e"),
        )
    )
    h_ctr = F.broadcast(
        hist.select(
            F.col("address").alias("mev_contract"),
            F.col("__lbl").alias("__lbl_c"),
            F.col("__cnt").alias("__cnt_c"),
        )
    )

    if ledger is None:
        ledger = build_ledger(actions, tx_info, dex_prices, block_info)
    priced_tx = _tx_has_dex_price(swaps, dex_prices)
    flags = tx_info.select("tx_hash", "eoa", "mev_contract", "is_private", "coinbase_transfer")

    # searcher revenue = net USD delta of the tx's own eoa/contract
    # addresses; a tx that books none to them has revenue 0
    out = (
        bundle_pnl(
            classified.join(flags, "tx_hash"), ledger, ["tx_hash"],
            F.array("tx_hash"), F.array_compact(F.array("eoa", "mev_contract")),
        )
        .join(priced_tx, "tx_hash", "left")
        .join(h_eoa, "eoa", "left")
        .join(h_ctr, "mev_contract", "left")
        .withColumn("revenue_usd", F.coalesce("revenue_usd", F.lit(0).cast("decimal(38,18)")))
        .withColumn("__raw_profit", (F.col("revenue_usd") - F.col("gas_usd")).cast("decimal(38,18)"))
        .withColumn("has_dex_price", F.coalesce("has_dex_price", F.lit(False)))
    )

    capped = (F.col("__raw_profit") >= MAX_PROFIT_USD) | (
        F.col("__raw_profit") <= MIN_PROFIT_USD
    )
    out = (
        out.withColumn("has_dex_price", F.col("has_dex_price") & ~capped)
        .withColumn(
            "profit_usd",
            F.when(F.col("has_dex_price"), F.col("__raw_profit"))
            .otherwise(F.lit(0))
            .cast("decimal(38,18)"),
        )
    )

    profitable = F.col("profit_usd") > 0
    labelled = F.coalesce("__lbl_e", F.lit(False)) | F.coalesce("__lbl_c", F.lit(False))
    hist_count = F.greatest(
        F.coalesce("__cnt_e", F.lit(0)), F.coalesce("__cnt_c", F.lit(0))
    )
    mult = F.when(F.col("has_dex_price"), 1).otherwise(2)
    private = F.coalesce("is_private", F.lit(False))
    bribed = F.coalesce(F.col("coinbase_transfer") > 0, F.lit(False))

    tri_ok = profitable | (hist_count >= 20 * mult) | labelled | (bribed & private)
    cross_ok = (
        profitable
        | F.col("stable_jump")
        | (hist_count >= 20 * mult)
        | labelled
        | private
        | bribed
    )
    stable_ok = profitable | (hist_count >= 20 * mult) | labelled | private | bribed
    lt_gate = (
        (hist_count >= 100 * mult)
        | labelled
        | (private & bribed)
        | F.col("mev_contract").isNotNull()
    )
    lt_ok = lt_gate & (profitable | ~F.col("has_dex_price"))

    valid = out.filter(
        F.when(F.col("arb_kind") == "triangle", tri_ok)
        .when(F.col("arb_kind") == "cross_pair", cross_ok)
        .when(F.col("arb_kind") == "stablecoin", stable_ok)
        .otherwise(lt_ok)
    )
    return valid.select(
        "block_number",
        F.array("tx_hash").alias("tx_hashes"),
        "eoa",
        "mev_contract",
        F.concat(F.lit("atomic_arb:"), F.col("arb_kind")).alias("mev_type"),
        "profit_usd",
        "revenue_usd",
        "gas_usd",
    )
