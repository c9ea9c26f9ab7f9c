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

I6 runs as ONE pass per block, like the reference's walk over a block's tx
list (run per block by composer/mod.rs:71-120): `tx_info`, and the swap
actions together with the DEX price keys, cogroup on `block_number`, and
`block_arbs` walks each block in plain Python. It sorts each tx's swaps by
trace_idx, classifies the sequence (`classify_seq`) and decides
`has_dex_price`. A null token matches nothing, as in the accounting's
coverage rule: a null endpoint does not close the sequence, and a null
link breaks the chain. I7 stays in Spark columns, after the PnL.

Scale: one shuffle of `tx_info` and of the swaps plus price keys on
`block_number`. The walk sorts each tx's swaps once, so its cost per
block is bounded by block size at any range length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .accounting import AMOUNT

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
_STABLE_CLASS = {
    sym: cls
    for cls, syms in (("usd", USD_STABLES), ("euro", EURO_STABLES), ("gold", GOLD_STABLES))
    for sym in syms
}

#: one row per tx with ≥2 swaps
ARB_SCHEMA = (
    "block_number long, tx_hash string, eoa string, mev_contract string, "
    "arb_kind string, stable_jump boolean, has_dex_price boolean"
)
_ARB_COLS = [f.split()[0] for f in ARB_SCHEMA.split(", ")]


def _stable_class(tok: str | None) -> str | None:
    return _STABLE_CLASS.get(tok.upper()) if tok is not None else None


def _is_stable_pair(a: str | None, b: str | None) -> bool:
    """is_stable_pair (atomic_arb.rs:425-435); a null token has no class."""
    ca = _stable_class(a)
    return ca is not None and ca == _stable_class(b)


def classify_seq(seq: list[tuple]) -> tuple[str, bool]:
    """(arb_kind, stable_jump) of a tx's swaps `seq`, (token_in, token_out)
    pairs in trace order (≥2): is_possible_arb + identify_arb_sequence. A
    null token matches nothing, so a null endpoint does not close the
    sequence and a null link breaks the chain."""
    first_in, last_out = seq[0][0], seq[-1][1]
    closes = first_in is not None and first_in == last_out
    # the first swap that does not take in what the swap before it gave
    # out (0 = chained)
    jump = next(
        (k for k in range(1, len(seq)) if seq[k - 1][1] is None or seq[k - 1][1] != seq[k][0]),
        0,
    )
    # the jump legs for is_stable_arb (atomic_arb.rs:384-396)
    stable_jump = jump > 0 and _is_stable_pair(seq[jump - 1][1], seq[jump][0])
    if not closes:
        kind = "stablecoin" if _is_stable_pair(first_in, last_out) else "long_tail"
    elif not jump:
        kind = "triangle"
    elif len(seq) == 2 and stable_jump:
        kind = "stablecoin"
    else:
        kind = "cross_pair"
    return kind, kind == "cross_pair" and stable_jump


def _nulls_first(row: tuple) -> tuple:
    return tuple((v is not None, v) for v in row)


def block_arbs(txs: pd.DataFrame, legs: pd.DataFrame) -> pd.DataFrame:
    """I6 over ONE block. `txs`: the block's tx_info rows (block_number,
    tx_index, tx_hash, eoa, mev_contract); `legs`: its swap actions
    (tx_hash, tx_index, trace_idx, pool, token_in, token_out, priced =
    null) and its DEX price keys (tx_index, priced = the token). Returns
    one ARB_SCHEMA row per tx in `txs` with ≥2 swaps. Row order of either
    input does not matter."""
    if txs.empty or legs.empty:
        return pd.DataFrame(columns=_ARB_COLS)
    bn = int(txs["block_number"].iloc[0])
    who = {
        h: (e, c)
        for h, e, c in txs[["tx_hash", "eoa", "mev_contract"]].itertuples(index=False, name=None)
    }
    priced, swaps = set(), {}
    for h, i, t, pool, tin, tout, p in legs[
        ["tx_hash", "tx_index", "trace_idx", "pool", "token_in", "token_out", "priced"]
    ].itertuples(index=False, name=None):
        if p is not None:
            priced.add((int(i), p))
        elif h in who:
            swaps.setdefault((h, int(i)), []).append((t, tin, tout, pool))

    out = []
    for (h, i), seq in sorted(swaps.items()):
        if len(seq) < 2:
            continue
        seq.sort(key=_nulls_first)  # sort_array order: trace_idx, then the rest
        kind, stable_jump = classify_seq([(tin, tout) for _, tin, tout, _ in seq])
        # priced AT THIS TX'S INDEX, not merely somewhere in the block: the
        # ledger values deltas at (block, tx_index, token), so a token
        # priced only at another index contributes NO delta
        # (shared_utils.rs:546-653 valid_pricing → atomic_arb.rs:135-149)
        tokens = {tok for _, tin, tout, _ in seq for tok in (tin, tout)}
        has_price = all(tok is not None and (i, tok) in priced for tok in tokens)
        out.append((bn, h, *who[h], kind, stable_jump, has_price))
    return pd.DataFrame(out, columns=_ARB_COLS)


def atomic_arb_bundles(
    actions: DataFrame,
    tx_info: DataFrame,
    dex_prices: DataFrame,
    searcher_info: DataFrame,
    ledger: DataFrame,
) -> DataFrame:
    swaps = actions.filter(F.col("action_type").isin("swap", "swap_with_fee")).select(
        "block_number", "tx_hash", "tx_index", "trace_idx",
        "swap.pool", "swap.token_in", "swap.token_out",
    )
    priced = dex_prices.select(
        "block_number", F.col("tx_idx").alias("tx_index"), F.col("token").alias("priced")
    )
    classified = (
        tx_info.select("block_number", "tx_index", "tx_hash", "eoa", "mev_contract")
        .groupBy("block_number")
        .cogroup(swaps.unionByName(priced, allowMissingColumns=True).groupBy("block_number"))
        .applyInPandas(block_arbs, ARB_SCHEMA)
    )

    # searcher-history dim, joined for both eoa and mev_contract
    # (TxInfo::is_searcher_of_type_with_count_threshold checks both sides).
    # An address may repeat (`db insert` appends rows): it is labelled if
    # any of its rows is, with its largest count. The dim is broadcast
    # whole anyway, so it groups in one partition, without a shuffle.
    cnt = (
        F.coalesce(F.element_at(F.col("bundle_counts"), "atomic_arb"), F.lit(0))
        if "bundle_counts" in searcher_info.columns
        else F.lit(0)
    )
    hist = searcher_info.coalesce(1).groupBy("address").agg(
        F.max(F.array_contains(F.coalesce("mev_types", F.array()), "atomic_arb")).alias("__lbl"),
        F.max(cnt).alias("__cnt"),
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

    # searcher revenue = net USD delta of the tx's own eoa/contract
    # addresses, off its ledger row; a tx that books none to them has
    # revenue 0
    out = (
        classified.join(
            ledger.select(
                "tx_hash", "gas_usd", "searcher_usd", "is_private", "coinbase_transfer"
            ),
            "tx_hash",
        )
        .join(h_eoa, "eoa", "left")
        .join(h_ctr, "mev_contract", "left")
        .withColumn("revenue_usd", F.coalesce("searcher_usd", F.lit(0).cast(AMOUNT)))
        .withColumn("__raw_profit", (F.col("revenue_usd") - F.col("gas_usd")).cast(AMOUNT))
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
            .cast(AMOUNT),
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
