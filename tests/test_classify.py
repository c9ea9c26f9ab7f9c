"""Classification tests (C1-C10): raw traces fixture → normalized actions,
asserted per-action (the analog of the reference's classifier unit tests,
e.g. classifiers/uniswap/uniswap_v2.rs test_token_order), plus an
end-to-end traces → classify → atomic-arb inspector run."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from brontes_spark.classify import classify_traces

E18 = 10**18


def _trace(bn, txh, txi, ti, path, **kw):
    base = dict(
        block_number=bn, tx_hash=txh, tx_index=txi, trace_idx=ti,
        trace_address=path, action_kind="call", call_type="call",
        from_address="0xeoa", to_address="0xtarget", msg_sender="0xeoa",
        msg_value="0", calldata_selector=None, decoded=None, logs=[],
        error=None, is_success=True,
    )
    base.update(kw)
    return base


TRACES_DDL = (
    "block_number long, tx_hash string, tx_index long, trace_idx long, "
    "trace_address array<int>, action_kind string, call_type string, "
    "from_address string, to_address string, msg_sender string, "
    "msg_value string, calldata_selector string, "
    "decoded struct<function:string, params:map<string,string>>, "
    "logs array<struct<address:string, topic0:string, data_params:map<string,string>>>, "
    "error string, is_success boolean"
)


@pytest.fixture(scope="module")
def classified(spark):
    traces = [
        # tx A: atomic arb — two swaps through two pools (S2's triangle)
        _trace(200, "0xarb2", 0, 0, [], to_address="0xpool1", msg_sender="0xs2",
               calldata_selector="0x128acb08",
               decoded={"function": "swap", "params": {
                   "token_in": "0xtoka", "token_out": "0xtokb",
                   "amount_in": str(500 * E18), "amount_out": str(5 * E18)}}),
        _trace(200, "0xarb2", 0, 1, [1], to_address="0xpool2", msg_sender="0xs2",
               calldata_selector="0x128acb08",
               decoded={"function": "swap", "params": {
                   "token_in": "0xtokb", "token_out": "0xtoka",
                   "amount_in": str(5 * E18), "amount_out": str(560 * E18)}}),
        # tx B: tax-token ERC20 transfer (log < calldata → fee)
        _trace(200, "0xtax", 1, 0, [], to_address="0xtaxtok", msg_sender="0xu1",
               calldata_selector="0xa9059cbb",
               decoded={"function": "transfer", "params": {
                   "to": "0xu2", "amount": str(100 * E18)}},
               logs=[{"address": "0xtaxtok", "topic0": "0xddf252ad",
                      "data_params": {"value": str(95 * E18)}}]),
        # tx C: plain ETH transfer + a coinbase bribe to the builder
        _trace(200, "0xeth", 2, 0, [], to_address="0xfriend",
               msg_value=str(2 * E18)),
        _trace(200, "0xeth", 2, 1, [0], to_address="0xbuilder",
               msg_value=str(E18 // 10)),
        # tx D: factory create → discovery
        _trace(200, "0xnew", 3, 0, [], to_address="0xfactory",
               calldata_selector="0x01",
               decoded={"function": "create_pool", "params": {
                   "protocol": "UniswapV2", "token0": "0xtoka", "token1": "0xtokc"}}),
        _trace(200, "0xnew", 3, 1, [0], action_kind="create",
               to_address="0xpool_new"),
        # tx F: proxy token transfer — the Transfer log is emitted by the
        # implementation under delegatecall; C5 must lift it to the proxy
        # frame (fee = |100 − 95| = 5) and NOT classify the delegate frame
        _trace(200, "0xproxy", 6, 0, [], to_address="0xproxytok", msg_sender="0xu1",
               calldata_selector="0xa9059cbb",
               decoded={"function": "transfer", "params": {
                   "to": "0xu2", "amount": str(100 * E18)}}),
        _trace(200, "0xproxy", 6, 1, [0], call_type="delegatecall",
               from_address="0xproxytok", to_address="0ximpl", msg_sender="0xu1",
               calldata_selector="0xa9059cbb",
               decoded={"function": "transfer", "params": {
                   "to": "0xu2", "amount": str(100 * E18)}},
               logs=[{"address": "0xproxytok", "topic0": "0xddf252ad",
                      "data_params": {"value": str(95 * E18)}}]),
        # tx E: reverted frame inside a successful tx + failed root tx
        _trace(200, "0xrevin", 4, 0, [], error="out of gas"),
        _trace(200, "0xdead", 5, 0, [], is_success=False,
               calldata_selector="0xa9059cbb",
               decoded={"function": "transfer", "params": {"to": "0xu2", "amount": "1"}}),
    ]
    a2p = spark.createDataFrame(
        [("0xpool1", "UniswapV2"), ("0xpool2", "UniswapV2")], "address string, protocol string"
    )
    tok = spark.createDataFrame(
        [("0xtoka", 18), ("0xtokb", 18), ("0xtaxtok", 18), ("0xproxytok", 18)],
        "address string, decimals int"
    )
    binfo = spark.createDataFrame([(200, "0xbuilder")], "block_number long, beneficiary string")
    tdf = spark.createDataFrame(traces, TRACES_DDL)
    return classify_traces(tdf, a2p, tok, binfo).cache()


def test_swap_classification(classified):
    swaps = {
        r["trace_idx"]: r.asDict()
        for r in classified.filter(
            (F.col("tx_hash") == "0xarb2") & (F.col("action_type") == "swap")
        ).collect()
    }
    assert len(swaps) == 2
    s0 = swaps[0]["swap"]
    assert s0["pool"] == "0xpool1" and s0["token_in"] == "0xtoka"
    assert s0["amount_in"] == Decimal(500)
    assert s0["amount_out"] == Decimal(5)
    assert swaps[0]["protocol"] == "UniswapV2"


def test_tax_token_transfer(classified):
    r = classified.filter(F.col("tx_hash") == "0xtax").collect()
    assert len(r) == 1
    t = r[0]["transfer"]
    assert t["amount"] == Decimal(95)   # least(calldata, log)
    assert t["fee"] == Decimal(5)       # |100 − 95|
    assert t["from"] == "0xu1" and t["to"] == "0xu2" and t["token"] == "0xtaxtok"


def test_delegatecall_log_lift(classified):
    """C5: exactly one transfer for the proxy tx, priced off the lifted
    implementation log; the delegatecall frame yields no action."""
    rows = classified.filter(F.col("tx_hash") == "0xproxy").collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["trace_idx"] == 0 and r["action_type"] == "transfer"
    assert r["transfer"]["amount"] == Decimal(95)
    assert r["transfer"]["fee"] == Decimal(5)
    assert r["transfer"]["token"] == "0xproxytok"


def test_eth_and_coinbase_transfers(classified):
    rows = {r["trace_idx"]: r.asDict() for r in
            classified.filter(F.col("tx_hash") == "0xeth").collect()}
    assert rows[0]["action_type"] == "eth_transfer"
    assert rows[0]["transfer"]["amount"] == Decimal(2)
    assert rows[1]["action_type"] == "coinbase_transfer"
    assert rows[1]["transfer"]["to"] == "0xbuilder"


def test_discovery(classified):
    r = classified.filter(F.col("action_type") == "new_pool").collect()
    assert len(r) == 1
    d = r[0].asDict()
    assert d["protocol"] == "UniswapV2"
    assert d["mint_burn_collect"]["pool"] == "0xpool_new"
    assert d["mint_burn_collect"]["tokens"] == ["0xtoka", "0xtokc"]


def test_revert_masking(classified):
    assert classified.filter(F.col("tx_hash") == "0xdead").count() == 0  # failed root
    rev = classified.filter(F.col("tx_hash") == "0xrevin").collect()
    assert len(rev) == 1 and rev[0]["action_type"] == "revert"


@pytest.mark.slow
def test_traces_to_inspector_end_to_end(spark, classified):
    """The classified frame feeds the inspector stack directly: the arb tx
    nets +60 A ⇒ revenue $60, profit $59 at $1 gas."""
    from brontes_spark.inspectors import atomic_arb_bundles
    from brontes_spark.inspectors.accounting import build_ledger

    tx_info = spark.createDataFrame(
        [(200, 0, "0xarb2", "0xs2", None, 100_000, 10_000_000_000_000, 0, None, False, False)],
        "block_number long, tx_index long, tx_hash string, eoa string, "
        "mev_contract string, gas_used long, effective_gas_price long, "
        "priority_fee long, coinbase_transfer decimal(38,18), is_private boolean, "
        "is_verified_contract boolean",
    )
    dex_prices = spark.createDataFrame(
        [(200, 0, "0xtoka", Decimal(1), Decimal(10**6), 5),
         (200, 0, "0xtokb", Decimal(105), Decimal(10**6), 5)],
        "block_number long, tx_idx long, token string, price_usd decimal(38,18), "
        "pool_liquidity decimal(38,18), first_hop_connections int",
    )
    binfo = spark.createDataFrame(
        [(200, 1_700_000_000, "0xbuilder", Decimal(1), None, None)],
        "block_number long, block_timestamp long, beneficiary string, "
        "eth_price decimal(38,18), proposer_fee_recipient string, "
        "proposer_mev_reward decimal(38,18)",
    )
    searchers = spark.createDataFrame(
        [("0xs2", "eoa", None, ["atomic_arb"], ["0xs2"])],
        "address string, kind string, fund string, mev_types array<string>, "
        "sibling_searchers array<string>",
    )
    ledger = build_ledger(classified, tx_info, dex_prices, binfo)
    bundles = atomic_arb_bundles(classified, dex_prices, searchers, ledger).collect()
    assert len(bundles) == 1
    b = bundles[0].asDict()
    assert b["mev_type"] == "atomic_arb:triangle"
    assert b["revenue_usd"] == Decimal(60)
    assert b["profit_usd"] == Decimal(59)
