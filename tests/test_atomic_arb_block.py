"""Unit tests for the per-block atomic-arb walk (I6: sequence
classification and `has_dex_price`), called directly on small pandas
frames — no Spark session. `inspectors/atomic_arb.py` runs this function
once per block inside a cogroup; the Spark-level goldens (I6 + the I7
validation matrix) live in tests/test_inspectors.py.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from brontes_spark.inspectors.atomic_arb import block_arbs, classify_seq

BN = 500

_LEG_COLS = ["tx_hash", "tx_index", "trace_idx", "pool", "token_in", "token_out", "priced"]


def _block(txs, swaps, prices=()):
    """txs: (tx_index, tx_hash, eoa, mev_contract); swaps: (tx_hash,
    tx_index, trace_idx, pool, token_in, token_out); prices: (tx_index,
    token)."""
    t = pd.DataFrame(txs, columns=["tx_index", "tx_hash", "eoa", "mev_contract"])
    t.insert(0, "block_number", BN)
    legs = [(*s, None) for s in swaps] + [(None, i, None, None, None, None, tok) for i, tok in prices]
    return t, pd.DataFrame(legs, columns=_LEG_COLS)


def _seq(*legs):
    return [tuple(None if c == "-" else c for c in leg.split(">")) for leg in legs]


@pytest.mark.parametrize("legs,kind,stable_jump", [
    (["A>B", "B>A"], "triangle", False),
    (["A>B", "B>C", "C>A"], "triangle", False),
    (["A>B", "C>A"], "cross_pair", False),
    (["A>USDC", "DAI>A"], "stablecoin", False),
    (["A>B", "B>C", "D>A"], "cross_pair", False),
    (["A>USDC", "USDT>B", "B>A"], "cross_pair", True),
    (["USDC>A", "A>DAI"], "stablecoin", False),
    (["A>B", "B>C"], "long_tail", False),
])
def test_classify(legs, kind, stable_jump):
    assert classify_seq(_seq(*legs)) == (kind, stable_jump)


@pytest.mark.parametrize("legs,kind", [
    # a null endpoint does not close the sequence
    (["->B", "B>C"], "long_tail"),
    (["A>B", "B>-"], "long_tail"),
    (["A>B", "B>C", "C>-"], "long_tail"),
    (["->B", "B>C", "C>A"], "long_tail"),
    # a null link breaks the chain
    (["A>-", "B>A"], "cross_pair"),
    (["A>B", "->A"], "cross_pair"),
    (["A>B", "B>-", "->A"], "cross_pair"),
])
def test_null_token_matches_nothing(legs, kind):
    assert classify_seq(_seq(*legs)) == (kind, False)


def test_swaps_are_sorted_by_trace_idx():
    (row,) = block_arbs(*_block(
        [(3, "0xa", "0xe", "0xc")],
        [("0xa", 3, 9, "p", "B", "A"), ("0xa", 3, 2, "q", "A", "B")],
    )).to_dict("records")
    assert (row["tx_hash"], row["arb_kind"]) == ("0xa", "triangle")
    assert (row["eoa"], row["mev_contract"]) == ("0xe", "0xc")


def test_one_swap_and_missing_tx_info_give_no_row():
    swaps = [("0xone", 1, 0, "p", "A", "B"),
             ("0xgone", 2, 0, "p", "A", "B"), ("0xgone", 2, 1, "p", "B", "A")]
    txs = [(1, "0xone", "0xe", None)]
    assert block_arbs(*_block(txs, swaps)).empty


def test_has_dex_price_needs_every_token_priced_at_the_txs_index():
    txs = [(4, "0xa", "0xe", None)]
    swaps = [("0xa", 4, 0, "p", "A", "B"), ("0xa", 4, 1, "q", "B", "A")]

    def priced(prices, s=swaps):
        (row,) = block_arbs(*_block(txs, s, prices)).to_dict("records")
        return row["has_dex_price"]

    assert priced([(4, "A"), (4, "B")])
    assert not priced([(4, "A")])
    assert not priced([(4, "A"), (3, "B")])  # priced at another index only
    # a null token is never priced
    null_leg = [("0xa", 4, 0, "p", "A", None), ("0xa", 4, 1, "q", "B", "A")]
    assert not priced([(4, "A"), (4, "B")], null_leg)


def test_duplicate_swaps_are_kept():
    """collect_list keeps a repeated swap: [A→B, A→B] breaks the chain."""
    txs = [(1, "0xa", "0xe", None)]
    swaps = [("0xa", 1, 0, "p", "A", "B"), ("0xa", 1, 0, "p", "A", "B")]
    (row,) = block_arbs(*_block(txs, swaps)).to_dict("records")
    assert row["arb_kind"] == "long_tail"


def test_empty_inputs_give_empty_output():
    txs, legs = _block([(0, "0xa", "0xe", None)], [])
    assert block_arbs(txs, legs).empty
    assert block_arbs(txs.iloc[:0], _block([], [("0xa", 0, 0, "p", "A", "B")])[1]).empty


@st.composite
def _random_block(draw):
    idx = draw(st.lists(st.integers(0, 40), min_size=1, max_size=8, unique=True))
    toks = st.sampled_from([None, "A", "B", "USDC", "DAI"])
    txs, swaps, prices = [], [], []
    for k, i in enumerate(idx):
        h = f"0xt{k}"
        txs.append((i, h, "0xe", draw(st.sampled_from([None, "0xc"]))))
        for t in range(draw(st.integers(0, 4))):
            swaps.append((h, i, t, draw(st.sampled_from(["p", "q"])), draw(toks), draw(toks)))
        prices += [(i, tok) for tok in draw(st.sets(st.sampled_from(["A", "B", "USDC", "DAI"])))]
    return txs, swaps, prices


@given(_random_block(), st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_output_independent_of_input_row_order(block, rnd):
    """cogroup hands each block's rows over in no particular order."""
    txs, swaps, prices = block
    want = block_arbs(*_block(txs, swaps, prices))
    got = block_arbs(*_block(
        rnd.sample(txs, len(txs)), rnd.sample(swaps, len(swaps)), rnd.sample(prices, len(prices))
    ))
    pd.testing.assert_frame_equal(got, want)
