"""Unit tests for the per-block JIT walk (I10 candidates), called directly
on small pandas frames — no Spark session. `inspectors/jit.py` runs this
function once per block inside a cogroup; the Spark-level goldens live in
tests/test_inspectors.py.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from brontes_spark.inspectors.jit import block_jits

BN = 500


def _block(txs, acts):
    """txs: (tx_index, tx_hash, eoa, mev_contract); acts: (tx_hash,
    tx_index, action_type, pool)."""
    t = pd.DataFrame(txs, columns=["tx_index", "tx_hash", "eoa", "mev_contract"])
    t.insert(0, "block_number", BN)
    a = pd.DataFrame(acts, columns=["tx_hash", "tx_index", "action_type", "pool"])
    return t, a


def _rows(txs, acts):
    return block_jits(*_block(txs, acts)).to_dict("records")


def _pairs(txs, acts):
    return [(r["front_hash"], r["victim_hashes"], r["back_hash"]) for r in _rows(txs, acts)]


def test_mint_pairs_with_the_earliest_later_burn():
    txs = [(0, "0xm", "0xe", None), (1, "0xv1", "0xu", None), (2, "0xb1", "0xe", None),
           (3, "0xv2", "0xu", None), (4, "0xb2", "0xe", None)]
    acts = [("0xm", 0, "mint", "p"), ("0xv1", 1, "swap", "p"), ("0xb1", 2, "burn", "p"),
            ("0xv2", 3, "swap", "p"), ("0xb2", 4, "burn", "p")]
    (row,) = _rows(txs, acts)
    assert (row["front_hash"], row["back_hash"], row["victim_hashes"]) == ("0xm", "0xb1", ["0xv1"])
    assert (row["actor"], row["eoa"], row["mev_contract"]) == ("0xe", "0xe", None)


def test_mint_and_burn_in_one_tx_never_pair():
    txs = [(0, "0xmb", "0xe", None), (1, "0xv", "0xu", None), (2, "0xb", "0xe", None)]
    acts = [("0xmb", 0, "mint", "p"), ("0xmb", 0, "burn", "p"), ("0xv", 1, "swap", "p"),
            ("0xb", 2, "burn", "p")]
    assert _pairs(txs, acts) == [("0xmb", ["0xv"], "0xb")]
    # the same tx alone: its own burn is not later than its mint
    assert _pairs(txs[:2], acts[:3]) == []


def test_victims_union_across_the_pairs_pools():
    txs = [(0, "0xm", "0xe", "0xc"), (1, "0xv1", "0xu", None), (2, "0xv2", "0xu", None),
           (3, "0xb", "0xe", "0xc")]
    acts = [("0xm", 0, "mint", "p"), ("0xm", 0, "mint", "q"),
            ("0xv1", 1, "swap", "p"), ("0xv2", 2, "swap", "q"), ("0xv2", 2, "swap", "p"),
            ("0xb", 3, "burn", "p"), ("0xb", 3, "burn", "q")]
    (row,) = _rows(txs, acts)
    assert row["victim_hashes"] == ["0xv1", "0xv2"]
    assert row["actor"] == "0xc"


def test_victims_only_on_pools_where_the_pair_formed():
    """Pool q's earliest later burn is another tx, so q's swaps are not
    victims of the (m, b) pair."""
    txs = [(0, "0xm", "0xe", None), (1, "0xv", "0xu", None), (2, "0xbq", "0xe", None),
           (3, "0xw", "0xu", None), (4, "0xb", "0xe", None)]
    acts = [("0xm", 0, "mint", "p"), ("0xm", 0, "mint", "q"), ("0xv", 1, "swap", "q"),
            ("0xbq", 2, "burn", "q"), ("0xw", 3, "swap", "p"), ("0xw", 3, "swap", "q"),
            ("0xb", 4, "burn", "p")]
    assert _pairs(txs, acts) == [("0xm", ["0xw"], "0xb"), ("0xm", ["0xv"], "0xbq")]


def _victim_block(n):
    txs = [(0, "0xm", "0xe", None)] + [(k, f"0xv{k:02d}", "0xu", None) for k in range(1, n + 1)]
    txs.append((n + 1, "0xb", "0xe", None))
    acts = [("0xm", 0, "mint", "p"), ("0xb", n + 1, "burn", "p")]
    acts += [(h, i, "swap", "p") for i, h, _, _ in txs[1:-1]]
    return txs, acts


def test_twenty_victim_cap():
    (row,) = _rows(*_victim_block(20))
    assert len(row["victim_hashes"]) == 20
    assert _rows(*_victim_block(21)) == []


def test_no_victim_no_pair():
    txs = [(0, "0xm", "0xe", None), (1, "0xv", "0xu", None), (2, "0xb", "0xe", None)]
    assert _pairs(txs, [("0xm", 0, "mint", "p"), ("0xv", 1, "swap", "q"),
                        ("0xb", 2, "burn", "p")]) == []


def test_null_pool_or_actor_never_matches():
    txs = [(0, "0xm", "0xe", None), (1, "0xv", "0xu", None), (2, "0xb", "0xe", None)]
    base = [("0xv", 1, "swap", "p")]
    assert _pairs(txs, [("0xm", 0, "mint", None), *base, ("0xb", 2, "burn", None)]) == []
    # a swap on a null pool is no victim of a null-pool pair either
    assert _pairs(txs, [("0xm", 0, "mint", None), ("0xv", 1, "swap", None),
                        ("0xb", 2, "burn", None)]) == []
    no_actor = [(0, "0xm", None, None), (1, "0xv", "0xu", None), (2, "0xb", None, None)]
    assert _pairs(no_actor, [("0xm", 0, "mint", "p"), *base, ("0xb", 2, "burn", "p")]) == []


def test_actor_is_the_contract_else_the_eoa():
    """Two EOAs driving one contract are one actor; one EOA through two
    contracts is two."""
    acts = [("0xm", 0, "mint", "p"), ("0xv", 1, "swap", "p"), ("0xb", 2, "burn", "p")]
    same = [(0, "0xm", "0xe1", "0xc"), (1, "0xv", "0xu", None), (2, "0xb", "0xe2", "0xc")]
    assert _pairs(same, acts) == [("0xm", ["0xv"], "0xb")]
    other = [(0, "0xm", "0xe", "0xc1"), (1, "0xv", "0xu", None), (2, "0xb", "0xe", "0xc2")]
    assert _pairs(other, acts) == []


def test_mint_or_burn_tx_missing_from_tx_info_is_dropped():
    txs = [(0, "0xm", "0xe", None), (1, "0xv", "0xu", None), (2, "0xb", "0xe", None)]
    acts = [("0xm", 0, "mint", "p"), ("0xv", 1, "swap", "p"), ("0xb", 2, "burn", "p")]
    assert _pairs([txs[1], txs[2]], acts) == []
    assert _pairs([txs[0], txs[1]], acts) == []
    # a victim needs no tx_info row
    assert _pairs([txs[0], txs[2]], acts) == [("0xm", ["0xv"], "0xb")]


def test_empty_inputs_give_empty_output():
    txs, acts = _block([(0, "0xa", "0xe", None)], [])
    assert block_jits(txs, acts).empty
    assert block_jits(txs.iloc[:0], _block([], [("0xa", 0, "mint", "p")])[1]).empty


@st.composite
def _random_block(draw):
    idx = draw(st.lists(st.integers(0, 40), min_size=2, max_size=12, unique=True))
    txs, acts = [], []
    for k, i in enumerate(idx):
        h = f"0xt{k}"
        txs.append((i, h, draw(st.sampled_from([None, "0xe0", "0xe1"])),
                    draw(st.sampled_from([None, "0xc0"]))))
        for _ in range(draw(st.integers(0, 3))):
            acts.append((h, i, draw(st.sampled_from(["mint", "burn", "swap"])),
                         draw(st.sampled_from([None, "p", "q"]))))
    return txs, acts


@given(_random_block(), st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_output_independent_of_input_row_order(block, rnd):
    """cogroup hands each block's rows over in no particular order."""
    txs, acts = block
    want = block_jits(*_block(txs, acts))
    got = block_jits(*_block(rnd.sample(txs, len(txs)), rnd.sample(acts, len(acts))))
    pd.testing.assert_frame_equal(got, want)
