"""JIT-liquidity inspector — reference I10 (SURVEY.md §2.7):
`mev_inspectors/jit/jit_liquidity.rs:62-816`.

Shape: same-actor (frontrun mint, backrun burn) on the SAME pool with victim
swaps on that pool strictly between (possible_jit_set, jit_liquidity.rs:464).
PnL: mint/burn/collect deltas of the searcher set minus gas of both txs.

Candidates come from ONE pass per block, like the reference's walk over a
block's tx list (run per block by composer/mod.rs:71-120): `tx_info` and
the block's mint, burn and swap actions cogroup on `block_number`, and
`block_jits` walks each block in plain Python:

  * the actor of a tx is its mev_contract, else its eoa; a mint or burn
    whose tx is not in `tx_info`, or whose pool or actor is null, never
    pairs
  * each mint pairs with the same actor's EARLIEST later burn on the same
    pool (the bounded analog of the reference's shrink loop: one pair per
    mint and pool); a mint and a burn in one tx never pair
  * the pair's victims on a pool are the swaps on that pool strictly
    between the two txs; a pair formed on several pools is ONE bundle
    whose victims union across those pools (the reference builds one
    bundle per possible-jit pair, jit_liquidity.rs:62-120)
  * 1-20 victims: the 20-victim cap of jit_liquidity.rs:599 (the ≤10
    victim-SET cap at :568 is per multi-frontrun chain; a one-pair
    candidate has exactly one set, so the 20-victim cap binds)

Scale: one shuffle of `tx_info` and the actions on `block_number`. The walk
scans the actor's burns and the pool's swaps once per mint, so its cost per
block is bounded by the square of the block's size at any range length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .accounting import bundle_pnl

MAX_VICTIMS = 20

#: one row per (mint tx, burn tx) pair with 1-MAX_VICTIMS victims
PAIR_SCHEMA = (
    "block_number long, actor string, front_hash string, back_hash string, "
    "eoa string, mev_contract string, victim_hashes array<string>"
)
_PAIR_COLS = [f.split()[0] for f in PAIR_SCHEMA.split(", ")]


def block_jits(txs: pd.DataFrame, acts: pd.DataFrame) -> pd.DataFrame:
    """I10 candidates over ONE block. `txs`: the block's tx_info rows
    (block_number, tx_index, tx_hash, eoa, mev_contract); `acts`: its mint,
    burn and swap actions (tx_hash, tx_index, action_type, pool). Returns
    one PAIR_SCHEMA row per (mint tx, burn tx) pair. Row order of either
    input does not matter."""
    if txs.empty or acts.empty:
        return pd.DataFrame(columns=_PAIR_COLS)
    bn = int(txs["block_number"].iloc[0])
    who = {
        h: (e, c, c if c is not None else e)
        for h, e, c in txs[["tx_hash", "eoa", "mev_contract"]].itertuples(index=False, name=None)
    }
    mints, burns, swaps = [], {}, {}
    for h, i, kind, pool in set(
        acts[["tx_hash", "tx_index", "action_type", "pool"]].itertuples(index=False, name=None)
    ):
        if pool is None:
            continue
        if kind in ("swap", "swap_with_fee"):
            swaps.setdefault(pool, []).append((int(i), h))
        elif h in who and who[h][2] is not None:
            if kind == "mint":
                mints.append((pool, who[h][2], int(i), h))
            else:
                burns.setdefault((pool, who[h][2]), []).append((int(i), h))

    victims: dict[tuple, set] = {}
    for pool, actor, i, front in mints:
        later = [(j, b) for j, b in burns.get((pool, actor), ()) if j > i]
        if not later:
            continue
        k, back = min(later)
        hit = {v for j, v in swaps.get(pool, ()) if i < j < k}
        if hit:
            victims.setdefault((actor, front, back), set()).update(hit)
    out = [
        (bn, actor, front, back, who[front][0], who[front][1], sorted(hs))
        for (actor, front, back), hs in sorted(victims.items())
        if len(hs) <= MAX_VICTIMS
    ]
    return pd.DataFrame(out, columns=_PAIR_COLS)


def jit_bundles(actions: DataFrame, tx_info: DataFrame, ledger: DataFrame) -> DataFrame:
    is_swap = F.col("action_type").isin("swap", "swap_with_fee")
    acts = actions.filter(is_swap | F.col("action_type").isin("mint", "burn")).select(
        "block_number", "tx_hash", "tx_index", "action_type",
        F.when(is_swap, F.col("swap.pool")).otherwise(F.col("mint_burn_collect.pool")).alias("pool"),
    )
    pairs = (
        tx_info.select("block_number", "tx_index", "tx_hash", "eoa", "mev_contract")
        .groupBy("block_number")
        .cogroup(acts.groupBy("block_number"))
        .applyInPandas(block_jits, PAIR_SCHEMA)
    )

    return (
        bundle_pnl(
            pairs, ledger, ["block_number", "actor", "front_hash", "back_hash"],
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
