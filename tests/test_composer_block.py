"""Unit tests for the composer's per-block walks, O2 `block_compose` and O3
`block_dedup`, called directly on small pandas frames — no Spark session.
`inspectors/composer.py` runs each once per block inside a grouped pass;
the Spark-level goldens live in tests/test_inspectors.py.
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from hypothesis import given, settings, strategies as st

from brontes_spark.inspectors.composer import block_compose, block_dedup

BN = 500
COLS = ["block_number", "tx_hashes", "eoa", "mev_contract", "mev_type",
        "profit_usd", "revenue_usd", "gas_usd"]


def _bundles(rows):
    """rows: (tx_hashes, eoa, mev_type, profit, bundle_id)."""
    return pd.DataFrame(
        [(BN, txs, eoa, None, t, Decimal(p), Decimal(p) + 1, Decimal(1), bid)
         for txs, eoa, t, p, bid in rows],
        columns=[*COLS, "bundle_id"],
    )


def _composed(rows):
    out = block_compose(_bundles(rows).drop(columns="bundle_id"))
    return sorted(
        (r["mev_type"], list(r["tx_hashes"]), r["profit_usd"]) for r in out.to_dict("records")
    )


def _kept(rows):
    out = block_dedup(_bundles(rows))
    assert list(out.columns) == COLS
    return sorted((r["mev_type"], list(r["tx_hashes"])) for r in out.to_dict("records"))


def test_compose_merges_a_pair_and_drops_both_parents():
    rows = [(["0xf", "0xv", "0xb"], "0xe", "sandwich", 10, 1),
            (["0xm", "0xv", "0xb"], "0xe", "jit", 4, 2),
            (["0xo"], "0xe", "atomic_arb:triangle", 3, 3)]
    assert _composed(rows) == [
        ("atomic_arb:triangle", ["0xo"], Decimal(3)),
        # the sorted, distinct union of both parents' txs, the sandwich's PnL
        ("jit_sandwich", ["0xb", "0xf", "0xm", "0xv"], Decimal(10)),
    ]


def test_a_sandwich_pairs_with_two_jits():
    rows = [(["0xf", "0xv", "0xb"], "0xe", "sandwich:big_mac", 10, 1),
            (["0xf", "0xj1"], "0xe", "jit", 4, 2),
            (["0xb", "0xj2"], "0xe", "jit_cex_dex", 5, 3)]
    assert _composed(rows) == [
        ("jit_sandwich", ["0xb", "0xf", "0xj1", "0xv"], Decimal(10)),
        ("jit_sandwich", ["0xb", "0xf", "0xj2", "0xv"], Decimal(10)),
    ]


def test_compose_needs_the_same_eoa_and_a_shared_tx():
    rows = [(["0xf", "0xv", "0xb"], "0xe", "sandwich", 10, 1),
            (["0xv"], "0xother", "jit", 4, 2),
            (["0xm"], "0xe", "jit", 5, 3)]
    assert [t for t, _, _ in _composed(rows)] == ["jit", "jit", "sandwich"]


def test_a_null_eoa_never_pairs():
    rows = [(["0xf", "0xv", "0xb"], None, "sandwich", 10, 1),
            (["0xv"], None, "jit", 4, 2)]
    assert [t for t, _, _ in _composed(rows)] == ["jit", "sandwich"]


def test_a_bundle_with_a_consumed_parents_tx_list_is_dropped():
    """Any bundle whose tx list equals a paired parent's goes with it, as
    the anti-join on (block, tx_hashes) drops it; a bundle that only
    overlaps stays."""
    rows = [(["0xf", "0xv", "0xb"], "0xe", "sandwich", 10, 1),
            (["0xv"], "0xe", "jit", 4, 2),
            (["0xv"], "0xu", "atomic_arb:triangle", 1, 3),
            (["0xf", "0xv"], "0xu", "atomic_arb:triangle", 1, 4)]
    assert _composed(rows) == [
        ("atomic_arb:triangle", ["0xf", "0xv"], Decimal(1)),
        ("jit_sandwich", ["0xb", "0xf", "0xv"], Decimal(10)),
    ]


def test_dedup_follows_the_precedence_table():
    rows = [(["0xf", "0xv", "0xb"], "0xe1", "sandwich", 10, 1),
            (["0xv"], "0xe2", "atomic_arb:stablecoin", 1, 2),
            (["0xb", "0xx"], "0xe3", "cex_dex", 1, 3),
            (["0xx"], "0xe4", "cex_dex_quotes", 1, 4),
            (["0xy"], "0xe5", "searcher_tx", 1, 5)]
    # cex_dex loses its tx 0xb to the sandwich, yet still outranks the
    # quotes bundle on 0xx: precedence compares each pair sharing a tx
    assert _kept(rows) == [("sandwich", ["0xf", "0xv", "0xb"]), ("searcher_tx", ["0xy"])]


def test_searcher_tx_yields_to_any_bundle_on_its_tx():
    """I13 joins O1, so O3 decides which searcher_tx rows stay. One on a tx
    a kept bundle holds goes, one on a tx no other bundle holds stays, and
    one on a tx held only by a bundle O3 drops goes too: O3 compares each
    pair that shares a tx, whether or not the stronger one survives."""
    rows = [(["0xf", "0xv", "0xb"], "0xe1", "sandwich", 10, 1),
            (["0xm", "0xv", "0xk"], "0xe2", "jit", 4, 2),  # loses 0xv to the sandwich
            (["0xf"], "0xe1", "searcher_tx", 1, 3),
            (["0xu"], "0xe3", "searcher_tx", 1, 4),
            (["0xm"], "0xe2", "searcher_tx", 1, 5)]
    assert _kept(rows) == [("sandwich", ["0xf", "0xv", "0xb"]), ("searcher_tx", ["0xu"])]


def test_dedup_ties_break_on_type_then_min_hash_then_id():
    same_prio = [(["0xa", "0xz"], "0xe", "sandwich:big_mac", 1, 1),
                 (["0xb", "0xz"], "0xe", "sandwich", 1, 2)]
    assert _kept(same_prio) == [("sandwich", ["0xb", "0xz"])]
    by_hash = [(["0xb", "0xz"], "0xe", "jit", 1, 1), (["0xa", "0xz"], "0xe", "jit", 1, 2)]
    assert _kept(by_hash) == [("jit", ["0xa", "0xz"])]
    by_id = [(["0xa", "0xz"], "0xe", "jit", 1, 7), (["0xa", "0xy"], "0xe", "jit", 1, 3)]
    assert _kept(by_id) == [("jit", ["0xa", "0xy"])]


def test_dedup_equal_keys_both_survive():
    row = (["0xa", "0xb"], "0xe", "jit", 1, 9)
    assert _kept([row, row, (["0xb"], "0xe", "liquidation", 1, 1)]) == [
        ("jit", ["0xa", "0xb"]), ("jit", ["0xa", "0xb"])]


def test_unknown_type_sorts_last():
    rows = [(["0xa"], "0xe", "mystery", 1, 1), (["0xa"], "0xe", "searcher_tx", 1, 2)]
    assert _kept(rows) == [("searcher_tx", ["0xa"])]


def test_a_bundle_with_no_txs_survives():
    rows = [([], "0xe", "searcher_tx", 1, 1), (None, "0xe", "searcher_tx", 1, 2),
            (["0xa"], "0xe", "sandwich", 1, 3)]
    out = block_dedup(_bundles(rows))
    assert len(out) == 3
    assert block_compose(_bundles(rows).drop(columns="bundle_id")).shape == (3, len(COLS))


def test_empty_inputs_give_empty_output():
    empty = _bundles([])
    assert block_dedup(empty).empty and list(block_dedup(empty).columns) == COLS
    assert block_compose(empty.drop(columns="bundle_id")).empty


_TYPES = ["sandwich", "sandwich:big_mac", "jit", "jit_cex_dex", "cex_dex",
          "atomic_arb:triangle", "searcher_tx", "mystery"]


@st.composite
def _random_block(draw):
    rows = []
    for _ in range(draw(st.integers(1, 8))):
        txs = draw(st.lists(st.sampled_from(["0xa", "0xb", "0xc"]), max_size=3, unique=True))
        rows.append((txs, draw(st.sampled_from([None, "0xe1", "0xe2"])),
                     draw(st.sampled_from(_TYPES)), draw(st.integers(0, 3)),
                     draw(st.integers(0, 3))))
    return rows


def _canon(df):
    return sorted(repr(tuple(r)) for r in df.itertuples(index=False))


@given(_random_block(), st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_output_independent_of_input_row_order(rows, rnd):
    """The grouped pass hands each block's rows over in no particular order."""
    shuffled = rnd.sample(rows, len(rows))
    assert _canon(block_dedup(_bundles(shuffled))) == _canon(block_dedup(_bundles(rows)))
    compose = lambda rs: block_compose(_bundles(rs).drop(columns="bundle_id"))  # noqa: E731
    assert _canon(compose(shuffled)) == _canon(compose(rows))
