"""Sandwich inspector — reference I1-I5 (SURVEY.md §2.7):
`mev_inspectors/sandwich/mod.rs`.

I1-I4 run as ONE pass per block, like the reference's walk over a block's
tx list (run per block by composer/mod.rs:71-120): `tx_info` and the swap
actions cogroup on `block_number`, and `block_sandwiches` walks each
block's txs in plain Python. Blocks hold ~10² txs, so every group is small.

Candidate generation (I1, mod.rs:1014-1135): within a block, the ordered tx
chain of each repeated actor forms possible sandwiches — TWO scans, one
keyed by duplicate EOA and one by duplicate mev contract (the reference's
get_possible_sandwich_duplicate_senders / _duplicate_contracts), with
identical chains deduplicated to the contract-scan one. Chains with
multiple frontruns are the "Big Mac" shape. A chain's txs may carry
DIFFERENT eoa/mev_contract values (e.g. one contract driven by several
EOAs): attribution uses the first searcher tx's identity, like the
reference's bundle header.

Gap partitioning (I2, mod.rs:902-953): a chain splits wherever two
consecutive searcher txs have NO tx of any kind between them — each
victim-backed segment is an independent candidate.

Bounded shrink (I4, mod.rs:447-555): when a segment fails validation, the
reference recurses ≤6 times dropping head/tail txs. We validate every
head/tail trim with head+tail ≤ MAX_SHRINK and keep the widest passing one
(ties: the smaller back tx hash) — the same search space.

Pool-overlap validation (I3, mod.rs:556-740): the backrun must reverse a
pool/direction some frontrun swapped; ≥50% of swapping victims must swap a
frontrun pool in the frontrun direction; and ≥1 victim must FULLY overlap —
same pool + front direction AND opposite to the backrun
(verify_sandwich_victims' low_priority/high_priority split).

PnL (I5, mod.rs:168-446), in Spark columns: searcher address-set USD deltas
across the segment's searcher txs minus their gas. The set spans every
chain tx's eoa + mev_contract. Documented divergence: the
reference additionally folds in sibling-searcher addresses from its
searcher db and zeroes profit behind a MAX_PRICE_DIFF(0.995) price-
reliability guard — our tx_info/dex_prices model carries neither signal,
so both are out of scope (the A4 valid_pricing filter is the engine's
price-sanity mechanism).

Scale: one shuffle of `tx_info` and the swaps on `block_number`. The walk
validates ≤28 trims per segment, each in time linear in the block's txs,
so its cost per block is bounded by block size at any range length.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from collections import namedtuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .accounting import bundle_pnl

MAX_SHRINK = 6

#: one row per candidate segment's best validated trim
BEST_SCHEMA = (
    "block_number long, actor string, segment long, eoa string, "
    "mev_contract string, mev_type string, tx_hashes array<string>, "
    "searcher_txs array<string>, searcher_set array<string>"
)
_BEST_COLS = [f.split()[0] for f in BEST_SCHEMA.split(", ")]

_Tx = namedtuple("_Tx", "index hash eoa mev_contract")


def _segments(chain: list[_Tx], order: list[int]):
    """I2: split an actor's block-ordered chain wherever two consecutive
    txs have no block tx (swapping or not) between them."""
    seg = [chain[0]]
    for prev, tx in zip(chain, chain[1:]):
        if bisect_left(order, tx.index) == bisect_right(order, prev.index):
            yield seg
            seg = []
        seg.append(tx)
    yield seg


def _victims(sub, legs, block, order):
    """I3 for one trim: its victims (index, hash) in block order if it
    validates, else None. Victims are every block tx strictly inside the
    trim, minus the trim's own txs; the overlap ratio counts the swapping
    ones. `legs[h]` lists tx h's swaps as (pool, token_in, token_out)."""
    fronts = [leg for tx in sub[:-1] for leg in legs[tx.hash]]
    backs = legs[sub[-1].hash]
    front_dirs = {leg for leg in fronts if None not in leg}
    if not any((p, o, i) in front_dirs for p, i, o in backs):
        return None
    front_pools = {(p, i) for p, i, _ in fronts if p is not None and i is not None}
    back_opp = {(p, o) for p, _, o in backs if p is not None and o is not None}
    own = {tx.hash for tx in sub}
    lo, hi = bisect_right(order, sub[0].index), bisect_left(order, sub[-1].index)
    victims = [v for v in block[lo:hi] if v[1] not in own]
    swapping = {h for _, h in victims if h in legs}
    hit = {h for h in swapping if any((p, i) in front_pools for p, i, _ in legs[h])}
    full = any(
        (p, i) in front_pools and (p, i) in back_opp
        for h in hit for p, i, _ in legs[h]
    )
    if full and 2 * len(hit) >= len(swapping):
        return victims
    return None


def _best_trim(seg, legs, block, order):
    """I4: the widest head/tail trim (head + tail ≤ MAX_SHRINK) that
    validates, ties to the smaller back tx hash, with its victims; None
    when no trim validates."""
    n = len(seg)
    trims = [
        seg[h:n - t]
        for h in range(MAX_SHRINK + 1) for t in range(MAX_SHRINK + 1 - h)
        if n - h - t >= 2
    ]
    checked = ((sub, _victims(sub, legs, block, order)) for sub in trims)
    return min(
        ((sub, v) for sub, v in checked if v is not None),
        key=lambda sv: (-len(sv[0]), sv[0][-1].hash),
        default=None,
    )


def block_sandwiches(txs: pd.DataFrame, swaps: pd.DataFrame) -> pd.DataFrame:
    """I1-I4 over ONE block. `txs`: the block's tx_info rows (block_number,
    tx_index, tx_hash, eoa, mev_contract); `swaps`: its swap actions
    (tx_hash, pool, token_in, token_out). Returns one BEST_SCHEMA row per
    candidate segment whose best trim validates. Row order of either input
    does not matter."""
    if txs.empty or swaps.empty:
        return pd.DataFrame(columns=_BEST_COLS)
    bn = int(txs["block_number"].iloc[0])
    legs: dict[str, list[tuple]] = {}
    for h, *leg in set(
        swaps[["tx_hash", "pool", "token_in", "token_out"]].itertuples(index=False, name=None)
    ):
        legs.setdefault(h, []).append(tuple(leg))
    rows = sorted(
        {_Tx(int(i), h, e, c) for i, h, e, c in txs[
            ["tx_index", "tx_hash", "eoa", "mev_contract"]
        ].itertuples(index=False, name=None)},
        key=lambda tx: (tx.index, tx.hash),
    )
    block = sorted({(tx.index, tx.hash) for tx in rows})
    order = [i for i, _ in block]

    out, seen = [], set()
    for actor_col in ("mev_contract", "eoa"):  # contract scan wins identical chains
        chains: dict[str, list[_Tx]] = {}
        for tx in rows:
            actor = getattr(tx, actor_col)
            if actor is not None and tx.hash in legs:
                chains.setdefault(actor, []).append(tx)
        for actor, chain in chains.items():
            for segment, seg in enumerate(_segments(chain, order)):
                hashes = tuple(tx.hash for tx in seg)
                if len(seg) < 2 or hashes in seen:
                    continue
                seen.add(hashes)
                best = _best_trim(seg, legs, block, order)
                if best is None:
                    continue
                sub, victims = best
                out.append((
                    bn, actor, segment, sub[0].eoa, sub[0].mev_contract,
                    "sandwich:big_mac" if len(sub) > 2 else "sandwich",
                    # block order: a Big Mac's victims sit between its frontruns
                    [h for _, h in sorted([(tx.index, tx.hash) for tx in sub] + victims)],
                    [tx.hash for tx in sub],
                    sorted({a for tx in sub for a in (tx.eoa, tx.mev_contract) if a is not None}),
                ))
    return pd.DataFrame(out, columns=_BEST_COLS)


def sandwich_bundles(actions: DataFrame, tx_info: DataFrame, ledger: DataFrame) -> DataFrame:
    swaps = actions.filter(F.col("action_type").isin("swap", "swap_with_fee")).select(
        "block_number", "tx_hash", "swap.pool", "swap.token_in", "swap.token_out"
    )
    best = (
        tx_info.select("block_number", "tx_index", "tx_hash", "eoa", "mev_contract")
        .groupBy("block_number")
        .cogroup(swaps.groupBy("block_number"))
        .applyInPandas(block_sandwiches, BEST_SCHEMA)
    )

    # I5: PnL over the searcher set across the segment's searcher txs; the
    # set spans EVERY chain tx's identity (a multi-EOA contract chain books
    # all its EOAs' deltas, like collect_address_set_for_accounting per tx)
    return (
        bundle_pnl(
            best, ledger, ["block_number", "actor", "segment"],
            F.col("searcher_txs"), F.col("searcher_set"),
        )
        .filter(F.col("profit_usd") > 0)
        .select(
            "block_number", "tx_hashes", "eoa", "mev_contract", "mev_type",
            "profit_usd", "revenue_usd", "gas_usd",
        )
    )
