"""Unit tests for the per-block sandwich walk (I1-I4), called directly on
small pandas frames — no Spark session. `inspectors/sandwich.py` runs this
function once per block inside a cogroup; the Spark-level goldens live in
tests/test_inspectors.py.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from brontes_spark.inspectors.sandwich import block_sandwiches

BN = 500


def _block(txs, swaps):
    """txs: (tx_index, tx_hash, eoa, mev_contract); swaps: (tx_hash, pool,
    token_in, token_out)."""
    t = pd.DataFrame(txs, columns=["tx_index", "tx_hash", "eoa", "mev_contract"])
    t.insert(0, "block_number", BN)
    s = pd.DataFrame(swaps, columns=["tx_hash", "pool", "token_in", "token_out"])
    return t, s


def _rows(txs, swaps):
    return block_sandwiches(*_block(txs, swaps)).to_dict("records")


def _equal_span_block(back_a: str, back_b: str):
    """s0 .. s3 by one EOA, all trims reverse pool q. The full chain fails
    the ≥50% victim ratio (2 hits of 6), while both span-3 trims pass
    (2 of 4): [s0, s1, back_a] and [s1, back_a, back_b]."""
    txs = [
        (0, "0xs0", "0xe", None), (1, "0xm1", "0xu1", None), (2, "0xm2", "0xu2", None),
        (3, "0xs1", "0xe", None), (4, "0xh1", "0xu3", None), (5, "0xh2", "0xu4", None),
        (6, back_a, "0xe", None), (7, "0xm3", "0xu5", None), (8, "0xm4", "0xu6", None),
        (9, back_b, "0xe", None),
    ]
    miss = [(h, "z", "C", "D") for h in ("0xm1", "0xm2", "0xm3", "0xm4")]
    swaps = [
        ("0xs0", "p", "A", "B"), ("0xs1", "q", "A", "B"),
        ("0xh1", "q", "A", "B"), ("0xh2", "q", "A", "B"),
        (back_a, "q", "B", "A"), (back_b, "q", "B", "A"), *miss,
    ]
    return txs, swaps


def test_equal_span_trims_tie_break_to_smaller_back_hash():
    # the later-enumerated trim (head dropped) has the smaller back hash
    (row,) = _rows(*_equal_span_block("0xs2", "0xr3"))
    assert row["tx_hashes"] == ["0xs1", "0xh1", "0xh2", "0xs2", "0xm3", "0xm4", "0xr3"]
    assert row["mev_type"] == "sandwich:big_mac"
    # and the earlier one when its back hash is the smaller
    (row,) = _rows(*_equal_span_block("0xs2", "0xt3"))
    assert row["tx_hashes"] == ["0xs0", "0xm1", "0xm2", "0xs1", "0xh1", "0xh2", "0xs2"]


def test_chain_found_by_both_scans_keeps_contract_scan_row():
    (row,) = _rows(
        [(0, "0xf", "0xe", "0xc"), (1, "0xv", "0xvic", None), (2, "0xb", "0xe", "0xc")],
        [("0xf", "p", "A", "B"), ("0xv", "p", "A", "B"), ("0xb", "p", "B", "A")],
    )
    assert row["actor"] == "0xc"
    assert (row["eoa"], row["mev_contract"]) == ("0xe", "0xc")
    assert row["searcher_set"] == ["0xc", "0xe"]


def test_gap_counts_every_tx_not_only_swapping_txs():
    """A non-swap tx between two searcher txs keeps them in one segment;
    counting swapping txs only would split off 0xf and report [m, v, b]."""
    (row,) = _rows(
        [(0, "0xf", "0xe", None), (1, "0xn", "0xother", None), (2, "0xm", "0xe", None),
         (3, "0xv", "0xvic", None), (4, "0xb", "0xe", None)],
        [("0xf", "p", "A", "B"), ("0xm", "p", "A", "B"), ("0xv", "p", "A", "B"),
         ("0xb", "p", "B", "A")],
    )
    assert row["tx_hashes"] == ["0xf", "0xn", "0xm", "0xv", "0xb"]
    assert row["searcher_txs"] == ["0xf", "0xm", "0xb"]
    assert row["mev_type"] == "sandwich:big_mac"


def test_victims_exclude_only_the_trimmed_chains_own_txs():
    """The contract chain [f, b] keeps a swap of the front's own EOA made
    without the contract as a victim: only the chain's txs are excluded."""
    (row,) = _rows(
        [(0, "0xf", "0xe1", "0xc"), (1, "0xx", "0xe1", None), (2, "0xb", "0xe2", "0xc")],
        [("0xf", "p", "A", "B"), ("0xx", "p", "A", "B"), ("0xb", "p", "B", "A")],
    )
    assert row["tx_hashes"] == ["0xf", "0xx", "0xb"]
    assert row["searcher_set"] == ["0xc", "0xe1", "0xe2"]


def test_front_leg_with_null_token_out_still_marks_its_pool():
    """A front swap with an unknown token_out cannot be reversed, but its
    (pool, token_in) still counts for the victim overlap."""
    (row,) = _rows(
        [(0, "0xf", "0xe", None), (1, "0xv", "0xvic", None), (2, "0xb", "0xe", None)],
        [("0xf", "q", "A", "B"), ("0xf", "p", "A", None), ("0xv", "p", "A", "B"),
         ("0xb", "q", "B", "A"), ("0xb", "p", "B", "A")],
    )
    assert row["tx_hashes"] == ["0xf", "0xv", "0xb"]


def test_empty_inputs_give_empty_output():
    txs, swaps = _block([(0, "0xa", "0xe", None)], [])
    assert block_sandwiches(txs, swaps).empty
    assert block_sandwiches(txs.iloc[:0], _block([], [("0xa", "p", "A", "B")])[1]).empty


@st.composite
def _random_block(draw):
    idx = draw(st.lists(st.integers(0, 40), min_size=2, max_size=12, unique=True))
    txs, swaps = [], []
    for k, i in enumerate(idx):
        h = f"0xt{k}"
        txs.append((i, h, draw(st.sampled_from(["0xe0", "0xe1", "0xv"])),
                    draw(st.sampled_from([None, "0xc0", "0xc1"]))))
        for _ in range(draw(st.integers(0, 3))):
            pool, pair = draw(st.sampled_from([("p", "AB"), ("q", "AB"), ("r", "BC")]))
            tin, tout = pair if draw(st.booleans()) else pair[::-1]
            swaps.append((h, pool, tin, tout))
    return txs, swaps


@given(_random_block(), st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_output_independent_of_input_row_order(block, rnd):
    """cogroup hands each block's rows over in no particular order."""
    txs, swaps = block
    want = block_sandwiches(*_block(txs, swaps))
    got = block_sandwiches(*_block(rnd.sample(txs, len(txs)), rnd.sample(swaps, len(swaps))))
    pd.testing.assert_frame_equal(got, want)
