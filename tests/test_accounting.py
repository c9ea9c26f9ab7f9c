"""Shared inspector accounting (inspectors/accounting.py) on hand-built
rows: A1/A2 delta typing and swap coverage, the per-tx ledger and its
`searcher_usd`, and the A5 `book_bundles` of bundles that span txs."""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from brontes_spark import schemas as S
from brontes_spark.inspectors import (
    atomic_arb_bundles,
    jit_bundles,
    liquidation_bundles,
    run_composer,
    sandwich_bundles,
)
from brontes_spark.inspectors.accounting import (
    action_deltas,
    book_bundles,
    build_ledger,
    tx_ledger,
)
from brontes_spark.inspectors.composer import searcher_activity_bundles
from brontes_spark.sources.fixtures import _swap, load_fixtures

#: 18 fractional digits: the decimal(38,18) amount type's full scale
AMT = Decimal("1.123456789012345678")
AMT2 = Decimal("2.000000000000000001")


def _action(txh, ti, kind, txi=0, **payload):
    row = dict(
        block_number=1, tx_hash=txh, tx_index=txi, trace_idx=ti, trace_address=[ti],
        action_type=kind, protocol="UniswapV2", swap=None, transfer=None,
        mint_burn_collect=None, liquidation=None,
    )
    row.update(payload)
    return row


def _transfer(txh, ti, frm, to, token, amount, fee="0"):
    return _action(txh, ti, "transfer", transfer={
        "from": frm, "to": to, "token": token,
        "amount": Decimal(amount), "fee": Decimal(fee),
    })


def _mbc(txh, ti, kind, frm, amount, recipient=None):
    return _action(txh, ti, kind, mint_burn_collect={
        "from": frm, "recipient": recipient, "pool": "0xp",
        "tokens": ["0xa"], "amounts": [Decimal(amount)],
    })


def _deltas(spark, rows):
    out = action_deltas(spark.createDataFrame(rows, S.ACTIONS_SCHEMA))
    assert out.schema["amount"].dataType == DecimalType(38, 18)
    return Counter((r.tx_hash, r.address, r.token, r.amount) for r in out.collect())


def test_deltas_keep_all_18_digits(spark):
    """No delta is rounded below the amount scale: a signed leg used to be
    typed decimal(38,7) by `sign * amount`, and the union of the branches
    widened every delta to it."""
    got = _deltas(spark, [
        _swap(1, "0xs", 0, 0, "0xu", "0xp", "0xa", "0xb", AMT, AMT2),
        _transfer("0xt", 0, "0xu1", "0xu2", "0xa", AMT),
        _mbc("0xm", 0, "mint", "0xlp", AMT),
        _mbc("0xn", 0, "burn", "0xlp", AMT2, recipient="0xr"),
    ])
    # `amount + fee` is typed at scale 17 (HALF_UP): the paying leg alone
    # keeps 17 fractional digits
    paid = -AMT.quantize(Decimal("1e-17"), rounding=ROUND_HALF_UP)
    assert got == Counter({
        ("0xs", "0xu", "0xa", -AMT): 1, ("0xs", "0xu", "0xb", AMT2): 1,
        ("0xt", "0xu1", "0xa", paid): 1, ("0xt", "0xu2", "0xa", AMT): 1,
        ("0xm", "0xlp", "0xa", -AMT): 1, ("0xm", "0xp", "0xa", AMT): 1,
        ("0xn", "0xr", "0xa", AMT2): 1, ("0xn", "0xp", "0xa", -AMT2): 1,
    })


def test_transfers_covered_by_a_swap_leg_are_dropped(spark):
    """The in-leg (from→pool of token_in) and the out-leg (pool→recipient
    of token_out) repeat the swap's own deltas; a near miss, or the same
    transfer in another tx, is booked."""
    swap = _swap(1, "0xt", 0, 0, "0xs", "0xp", "0xa", "0xb", "5", "7")
    got = _deltas(spark, [
        swap,
        _transfer("0xt", 1, "0xs", "0xp", "0xa", "5"),   # in-leg
        _transfer("0xt", 2, "0xp", "0xs", "0xb", "7"),   # out-leg
        _transfer("0xt", 3, "0xs", "0xq", "0xa", "5"),   # different `to`
        _transfer("0xo", 0, "0xs", "0xp", "0xa", "5"),   # another tx
    ])
    assert got == Counter({
        # the swap's in-leg and the near miss's paying leg
        ("0xt", "0xs", "0xa", Decimal(-5)): 2,
        ("0xt", "0xs", "0xb", Decimal(7)): 1,
        ("0xt", "0xq", "0xa", Decimal(5)): 1,
        ("0xo", "0xs", "0xa", Decimal(-5)): 1, ("0xo", "0xp", "0xa", Decimal(5)): 1,
    })


def test_transfer_with_a_null_field_is_never_covered(spark):
    """Coverage compares field by field, so a null matches nothing. A
    whole-struct `=` or `array_contains` would treat the two null tokens
    as equal and drop the transfer."""
    swap = _swap(1, "0xt", 0, 0, "0xs", "0xp", None, "0xb", "5", "7")
    got = _deltas(spark, [swap, _transfer("0xt", 1, "0xs", "0xp", None, "5")])
    assert got[("0xt", "0xs", None, Decimal(-5))] == 2  # swap in-leg + transfer
    assert got[("0xt", "0xp", None, Decimal(5))] == 1


def _ledger(spark, deltas, gas):
    """tx_ledger over the narrow (tx_hash, address, usd) and
    (block_number, tx_hash, gas_usd, eoa, mev_contract) frames, the least
    it reads; `gas` rows are (tx_hash, gas_usd, eoa, mev_contract)."""
    return tx_ledger(
        spark.createDataFrame(
            [(h, a, Decimal(u)) for h, a, u in deltas],
            "tx_hash string, address string, usd decimal(38,18)",
        ),
        spark.createDataFrame(
            [(1, h, Decimal(g), e, c) for h, g, e, c in gas],
            "block_number long, tx_hash string, gas_usd decimal(38,18), "
            "eoa string, mev_contract string",
        ),
    )


def test_ledger_searcher_usd(spark):
    """`searcher_usd` sums the USD a tx books to its own eoa or
    mev_contract: null when it books none there, each delta once when the
    eoa is the contract, and exact at all 18 decimals."""
    ledger = _ledger(
        spark,
        [("0xnone", "0xo", "100"),
         ("0xboth", "0xe", "3"), ("0xboth", "0xc", "5"), ("0xboth", "0xo", "100"),
         ("0xsame", "0xs", "7"),
         ("0xexact", "0xe", str(AMT)), ("0xexact", "0xc", str(AMT2))],
        [("0xnone", "1", "0xe", "0xc"), ("0xboth", "1", "0xe", "0xc"),
         ("0xsame", "1", "0xs", "0xs"), ("0xexact", "1", "0xe", "0xc"),
         ("0xquiet", "1", "0xe", None)],
    )
    assert ledger.schema["searcher_usd"].dataType == DecimalType(38, 18)
    rows = {r["tx_hash"]: (r["searcher_usd"], len(r["deltas"])) for r in ledger.collect()}
    assert rows == {
        "0xnone": (None, 1),
        "0xboth": (Decimal(8), 3),
        "0xsame": (Decimal(7), 1),
        "0xexact": (AMT + AMT2, 2),
        "0xquiet": (None, 0),
    }
    assert AMT + AMT2 == Decimal("3.123456789012345679")


def _book(ledger, bundles):
    """book_bundles over `ledger` rows (tx_hash, gas_usd, {address: usd})
    and `bundles` (k, txs, searchers): {k: (revenue, gas, profit)}."""
    ledger = pd.DataFrame(
        [(h, g, [{"address": a, "usd": u} for a, u in ds.items()]) for h, g, ds in ledger],
        columns=["tx_hash", "gas_usd", "deltas"],
    )
    bundles = [dict(k=k, txs=txs, searchers=s) for k, txs, s in bundles]
    return {
        r["k"]: (r["revenue_usd"], r["gas_usd"], r["profit_usd"])
        for r in book_bundles(ledger, bundles, "txs", "searchers")
    }


def test_book_bundles():
    """A5 over one block's ledger rows: the searcher set's USD across the
    bundle's txs, their gas, and profit = revenue − gas."""
    d = Decimal
    ledger = [
        ("0xt1", d(1), {"0xs": d(10), "0xo": d(100)}),
        ("0xt2", d(2), {"0xo": d(5)}),
        ("0xt3", d(1), {"0xc": d(4)}),
    ]
    assert _book(ledger, [
        (1, ["0xt1", "0xt2"], ["0xs"]),         # books 0xs's $10, gas of both
        (2, ["0xt2"], ["0xs"]),                 # no delta of the searcher
        (3, ["0xgone"], ["0xs"]),               # no tx in the ledger
        (4, ["0xt1", "0xt3"], ["0xs", "0xc", "0xc"]),  # a set address listed twice
        (5, ["0xt1", "0xgone"], ["0xs", None]),  # a tx missing from the ledger
    ]) == {
        1: (d(10), d(3), d(7)),
        2: (None, d(2), None),
        4: (d(14), d(2), d(12)),
        5: (d(10), d(1), d(9)),
    }


def test_book_bundles_decimal_arithmetic():
    """The sums are exact beyond Python's default 28 digits, profit rounds
    HALF_UP at the 17th place as Spark's decimal(38,17) difference does,
    and a null gas is skipped by the sum (null when every tx's is)."""
    d = Decimal
    wide = d("10000000000.000000000000000001")  # 29 significant digits
    ledger = [
        ("0xw1", d(0), {"0xs": wide}),
        ("0xw2", d(0), {"0xs": d("1e-18")}),
        ("0xr", d("0.00000000000000001"), {"0xs": d("1.000000000000000015")}),
        ("0xn", None, {"0xs": d(3)}),
    ]
    got = _book(ledger, [
        (1, ["0xw1", "0xw2"], ["0xs"]),
        (2, ["0xr"], ["0xs"]),
        (3, ["0xn"], ["0xs"]),
        (4, ["0xn", "0xr"], ["0xs"]),
    ])
    assert got[1] == (d("10000000000.000000000000000002"), d(0),
                      d("10000000000.00000000000000000"))
    # 1.000000000000000005 exactly: HALF_UP, not the half-even 1.0
    assert got[2][2] == d("1.00000000000000001")
    assert got[3] == (d(3), None, None)
    assert got[4] == (d("4.000000000000000015"), d("0.00000000000000001"),
                      d("4.00000000000000001"))


def _env(spark, txs, tokens=("0xa", "0xb", "0xusd")):
    """tx_info rows (index, hash, eoa, contract) at $1 gas each; every token
    priced $1 at every index."""
    tx_info = spark.createDataFrame(
        [(1, i, h, e, c, 1_000_000, 10**12, 10**9, Decimal(0), False, True)
         for i, h, e, c in txs],
        S.TX_INFO_SCHEMA,
    )
    block_info = spark.createDataFrame(
        [dict(block_number=1, block_timestamp=1_700_000_000, beneficiary="0xb",
              eth_price=Decimal(1), proposer_fee_recipient=None,
              proposer_mev_reward=None)],
        S.BLOCK_INFO_SCHEMA,
    )
    dex_prices = spark.createDataFrame(
        [(1, i, t, Decimal(1), None, None) for i in range(len(txs)) for t in tokens],
        S.DEX_PRICES_SCHEMA,
    )
    return tx_info, dex_prices, block_info


def test_unbooked_bundles_dropped_except_atomic_arb(spark):
    """A bundle whose txs book nothing to its searcher set is no bundle for
    sandwich, jit, liquidations and searcher activity; an atomic arb keeps
    it at revenue 0 (its validation decides)."""
    lp = "0xlp"  # the address that really books every delta below
    actions = spark.createDataFrame(
        [
            # sandwich 0xf → 0xv → 0xbk on 0xp1, legs swapped by the router
            _swap(1, "0xf", 0, 0, lp, "0xp1", "0xa", "0xb", "10", "10"),
            _swap(1, "0xv", 1, 0, "0xv", "0xp1", "0xa", "0xb", "10", "10"),
            _swap(1, "0xbk", 2, 0, lp, "0xp1", "0xb", "0xa", "10", "11"),
            # jit 0xjf mint → 0xjv swap → 0xjb burn on 0xp2, held by 0xlp
            _action("0xjf", 0, "mint", 3, mint_burn_collect={
                "from": lp, "recipient": lp, "pool": "0xp2",
                "tokens": ["0xa"], "amounts": [Decimal(10)]}),
            _swap(1, "0xjv", 4, 0, "0xv2", "0xp2", "0xa", "0xb", "1", "1"),
            _action("0xjb", 0, "burn", 5, mint_burn_collect={
                "from": lp, "recipient": lp, "pool": "0xp2",
                "tokens": ["0xa"], "amounts": [Decimal(12)]}),
            # liquidation by 0xlp inside 0xs's tx
            _action("0xl", 0, "liquidation", 6, liquidation={
                "pool": "0xaave", "liquidator": lp, "debtor": "0xd",
                "collateral_asset": "0xa", "debt_asset": "0xusd",
                "covered_debt": Decimal(5), "liquidated_collateral": Decimal(9)}),
            # closed a→b→a triangle routed through 0xlp
            _swap(1, "0xarb", 7, 0, lp, "0xp3", "0xa", "0xb", "10", "10"),
            _swap(1, "0xarb", 7, 1, lp, "0xp4", "0xb", "0xa", "10", "11"),
        ],
        S.ACTIONS_SCHEMA,
    )
    tx_info, dex_prices, block_info = _env(spark, [
        (0, "0xf", "0xs", None), (1, "0xv", "0xv", None), (2, "0xbk", "0xs", None),
        (3, "0xjf", "0xs", None), (4, "0xjv", "0xv2", None), (5, "0xjb", "0xs", None),
        (6, "0xl", "0xs", None), (7, "0xarb", "0xs", None),
    ])
    booked = build_ledger(actions, tx_info, dex_prices, block_info)
    assert sandwich_bundles(actions, booked).count() == 0
    assert jit_bundles(actions, booked).count() == 0
    assert liquidation_bundles(actions, booked).count() == 0
    searchers = spark.createDataFrame(
        [dict(address="0xs", kind="eoa", fund=None, mev_types=["atomic_arb"],
              sibling_searchers=[], bundle_counts={})],
        S.SEARCHER_INFO_SCHEMA,
    )
    arb = [r.asDict() for r in atomic_arb_bundles(
        actions, dex_prices, searchers, booked
    ).collect()]
    assert [(r["tx_hashes"], r["revenue_usd"], r["profit_usd"]) for r in arb] == [
        (["0xarb"], Decimal(0), Decimal(-1))
    ]
    ledger = _ledger(spark, [("0xl", lp, "40")], [("0xl", "1", "0xs", None)])
    assert searcher_activity_bundles(ledger, searchers).count() == 0


def test_repeated_tx_info_row_books_each_delta_once(spark):
    """A verbatim copy of a `tx_info` row (`db insert` can append one) joins
    the tx's deltas once: the ledger keeps one gas row per tx_hash, so the
    block-100 sandwich keeps its profit."""
    tables = load_fixtures(spark)
    tx_info = tables["tx_info"]
    tables["tx_info"] = tx_info.unionByName(tx_info.filter(F.col("tx_hash") == "0xf0"))
    ledger = build_ledger(
        tables["actions"], tables["tx_info"], tables["dex_prices"], tables["block_info"]
    )
    f0 = ledger.filter(F.col("tx_hash") == "0xf0").collect()
    assert [(len(r["deltas"]), r["searcher_usd"]) for r in f0] == [(2, Decimal(50))]
    bundles = run_composer(tables)["bundles"]
    sandwich = bundles.filter("block_number = 100 AND mev_type = 'sandwich'").collect()
    assert [r["profit_usd"] for r in sandwich] == [Decimal(88)]
