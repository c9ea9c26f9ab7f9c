"""Driver-gated C2 classification query: RAW HEX traces → landing decode →
classify → stable scalar projection, with a hand-planted golden oracle.

Classification is the single biggest code surface of the engine
(classify.py + sources/abi_decode.py) and, until this gate, the only major
family verified exclusively by pytest. The fixture below plants one raw
trace per classifier family — calldata assembled word-by-word from the ABI
layout, logs carrying the event params the reference's classifiers read
(brontes-classifier/src/classifiers/*, e.g. uniswap/uniswap_v3.rs,
curve/swaps/v2_meta.rs, aave/liquidation.rs) — and the DuckDB twin is the
closed-form VALUES relation of what those classifiers must produce. A hash
match therefore pins: selector routing (C1), every exercised action_impl
decode (C2), the ERC20 tax-fee fallback (C3), ETH/coinbase transfers (C4),
factory discovery (C6), tax-token swap adjustment (C8), revert masking
(C10), and the decimal scaling of every amount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.decimals import to_dbl
from ..functions.keccak import selector
from .registry import register

E18 = 10**18

# -- deterministic fixture addresses ----------------------------------------
V2 = "0x" + "22" * 20      # UniswapV2 pool [DAI, WETH]
V3 = "0x" + "33" * 20      # UniswapV3 pool [DAI, WETH]
CRV = "0x" + "44" * 20     # Curve base pool [DAI, USDC]
AAVE = "0x" + "55" * 20    # Aave V3 lending pool
FACT = "0x" + "66" * 20    # UniswapV2 factory
NEWP = "0x" + "77" * 20    # pool created by the factory
SDST = "0x" + "99" * 20    # selfdestruct refund target
DAI = "0x" + "aa" * 20     # 18 decimals
USDC = "0x" + "bb" * 20    # 6 decimals
WETH = "0x" + "cc" * 20    # 18 decimals
TAX = "0x" + "dd" * 20     # 18 decimals, fee-on-transfer token
U1 = "0x" + "e1" * 20
U2 = "0x" + "e2" * 20
BUILDER = "0x" + "b0" * 20


def _w_addr(a: str) -> str:
    return a[2:].rjust(64, "0")


def _w_uint(v: int) -> str:
    return format(v, "064x")


def _w_int(v: int) -> str:
    return format(v & (2**256 - 1), "064x")


_TRACE_DDL = (
    "block_number long, tx_hash string, tx_index long, trace_idx long, "
    "trace_address array<int>, action_kind string, call_type string, "
    "from_address string, to_address string, msg_sender string, "
    "msg_value string, calldata_selector string, calldata string, "
    "decoded struct<function:string, params:map<string,string>>, "
    "logs array<struct<address:string, topic0:string, data_params:map<string,string>>>, "
    "error string, is_success boolean"
)


def _t(txi, tx, idx, to, calldata, *, logs=None, path=None, kind="call",
       value="0", sender=U1, error=None):
    sel = calldata[:10] if calldata else None
    return dict(
        block_number=900, tx_hash=tx, tx_index=txi, trace_idx=idx,
        trace_address=path if path is not None else [idx], action_kind=kind,
        call_type="call", from_address=sender, to_address=to,
        msg_sender=sender, msg_value=value, calldata_selector=sel,
        calldata=calldata, decoded=None, logs=logs or [], error=error,
        is_success=True,
    )


def raw_trace_rows() -> list[dict]:
    """One raw-hex trace per classifier family; every amount is planted so
    the scaled golden value is a clean decimal."""
    # V2 swap: calldata names only the out-amounts; Swap event carries the
    # realized legs (4000 DAI in -> 2 WETH out)
    v2_cd = ("0x022c0d9f" + _w_uint(0) + _w_uint(2 * E18) + _w_addr(U2)
             + _w_uint(4 * 32))
    v2_log = [dict(address=V2, topic0="0xswap", data_params={
        "amount0_in": str(4000 * E18), "amount1_in": "0",
        "amount0_out": "0", "amount1_out": str(2 * E18)})]
    # V3 swap: signed Swap-event deltas win over calldata
    # (amount0 = -3000 DAI paid out, amount1 = +1.5 WETH paid in)
    v3_cd = ("0x128acb08" + _w_addr(U2) + _w_uint(0)
             + _w_uint(15 * E18 // 10) + _w_uint(0) + _w_uint(5 * 32))
    v3_log = [dict(address=V3, topic0="0xswap", data_params={
        "amount0": str(-3000 * E18), "amount1": str(15 * E18 // 10)})]
    # Curve exchange(i=0, j=1, dx=7 DAI, min_dy floor) + TokenExchange log
    # with the realized 6.9 USDC (6-decimal scaling)
    cv_cd = ("0x3df02124" + _w_int(0) + _w_int(1) + _w_uint(7 * E18)
             + _w_uint(6_800_000))
    cv_log = [dict(address=CRV, topic0="0xte", data_params={
        "tokens_bought": "6900000"})]
    # Aave liquidationCall: assets from calldata, seized from the event
    aave_cd = ("0x00a718a9" + _w_addr(WETH) + _w_addr(DAI) + _w_addr(U2)
               + _w_uint(1000 * E18) + _w_uint(0))
    aave_log = [dict(address=AAVE, topic0="0xliq", data_params={
        "liquidated_collateral_amount": str(E18 // 2)})]
    # ERC20 tax-token transfer: calldata 100, Transfer event value 95
    # -> amount 95, fee 5
    tr_cd = "0xa9059cbb" + _w_addr(U2) + _w_uint(100 * E18)
    tr_log = [dict(address=TAX, topic0="0xtr", data_params={
        "value": str(95 * E18)})]
    # factory discovery: createPair(DAI, USDC) + child CREATE frame
    np_cd = "0xc9c65396" + _w_addr(DAI) + _w_addr(USDC)
    # V3 mint: calldata carries liquidity, Mint event the token deltas
    mb_cd = ("0x3c8a7d8d" + _w_addr(U2) + _w_int(-60) + _w_int(60)
             + _w_uint(10**12) + _w_uint(5 * 32))
    mb_log = [dict(address=V3, topic0="0xmint", data_params={
        "amount0": str(3000 * E18), "amount1": str(E18)})]
    # Aave flashLoanSimple(receiver, asset, amount, params, referral)
    fl_cd = (selector("flashLoanSimple(address,address,uint256,bytes,uint16)")
             + _w_addr(U2) + _w_addr(DAI) + _w_uint(500 * E18)
             + _w_uint(5 * 32) + _w_uint(0) + _w_uint(0))
    # tax-adjusted swap: V2 swap of 100 DAI + a fee-bearing DAI transfer
    # into the pool (calldata 100, event 98 -> fee 2) => swap_with_fee 98
    tax_sw_cd = ("0x022c0d9f" + _w_uint(0) + _w_uint(5 * E18 // 100)
                 + _w_addr(U1) + _w_uint(4 * 32))
    tax_sw_log = [dict(address=V2, topic0="0xswap", data_params={
        "amount0_in": str(100 * E18), "amount1_in": "0",
        "amount0_out": "0", "amount1_out": str(5 * E18 // 100)})]
    tax_tr_cd = "0xa9059cbb" + _w_addr(V2) + _w_uint(100 * E18)
    tax_tr_log = [dict(address=DAI, topic0="0xtr", data_params={
        "value": str(98 * E18)})]

    rows = [
        _t(0, "0xc2v2", 0, V2, v2_cd, logs=v2_log),
        _t(1, "0xc2v3", 0, V3, v3_cd, logs=v3_log),
        _t(2, "0xc2cv", 0, CRV, cv_cd, logs=cv_log),
        _t(3, "0xc2aave", 0, AAVE, aave_cd, logs=aave_log),
        _t(4, "0xc2tr", 0, TAX, tr_cd, logs=tr_log),
        _t(5, "0xc2eth", 0, U2, None, value=str(E18 // 4)),
        _t(6, "0xc2cb", 0, BUILDER, None, value=str(E18 // 8)),
        _t(7, "0xc2rv", 0, V2, v2_cd, error="Reverted"),
        _t(8, "0xc2np", 0, FACT, np_cd, path=[0]),
        _t(8, "0xc2np", 1, NEWP, None, path=[0, 0], kind="create"),
        _t(9, "0xc2mb", 0, V3, mb_cd, logs=mb_log),
        _t(10, "0xc2fl", 0, AAVE, fl_cd),
        _t(11, "0xc2tax", 0, V2, tax_sw_cd, logs=tax_sw_log),
        _t(11, "0xc2tax", 1, DAI, tax_tr_cd, logs=tax_tr_log, path=[1]),
        _t(12, "0xc2sd", 0, SDST, None, kind="selfdestruct",
           value=str(E18 // 2)),
    ]
    return rows


def classified_fixture_actions(spark: SparkSession) -> DataFrame:
    """Raw rows -> decode_traces (C2 landing mapInPandas) -> classify_traces.
    A plain lazy plan with no session memo and no cache. The runtime confs
    are applied first, as every testdata loader does, so the physical plan
    never depends on what ran earlier in the session."""
    from ..classify import classify_traces
    from ..session import apply_runtime_confs
    from ..sources.abi_decode import decode_traces

    apply_runtime_confs(spark)
    traces = decode_traces(spark.createDataFrame(raw_trace_rows(), _TRACE_DDL))
    a2p = spark.createDataFrame(
        [(V2, "UniswapV2"), (V3, "UniswapV3"), (CRV, "CurveBasePool2"),
         (AAVE, "AaveV3"), (FACT, "UniswapV2")],
        "address string, protocol string",
    )
    coins = spark.createDataFrame(
        [(V2, 0, DAI), (V2, 1, WETH), (V3, 0, DAI), (V3, 1, WETH),
         (CRV, 0, DAI), (CRV, 1, USDC)],
        "pool string, idx int, token string",
    )
    tok = spark.createDataFrame(
        [(DAI, 18), (USDC, 6), (WETH, 18), (TAX, 18)],
        "address string, decimals int",
    )
    binfo = spark.createDataFrame(
        [(900, BUILDER)], "block_number long, beneficiary string"
    )
    return classify_traces(traces, a2p, tok, binfo, pool_coins=coins)


def _golden_values() -> str:
    rows = [
        # (tx, idx, action_type, protocol, token_a, token_b, amt_a, amt_b)
        ("'0xc2v2'", 0, "'swap'", "'UniswapV2'", f"'{DAI}'", f"'{WETH}'",
         "4000", "2"),
        ("'0xc2v3'", 0, "'swap'", "'UniswapV3'", f"'{WETH}'", f"'{DAI}'",
         "1.5", "3000"),
        ("'0xc2cv'", 0, "'swap'", "'CurveBasePool2'", f"'{DAI}'", f"'{USDC}'",
         "7", "6.9"),
        ("'0xc2aave'", 0, "'liquidation'", "'AaveV3'", f"'{DAI}'", f"'{WETH}'",
         "1000", "0.5"),
        ("'0xc2tr'", 0, "'transfer'", "NULL", f"'{TAX}'", f"'{U2}'",
         "95", "5"),
        ("'0xc2eth'", 0, "'eth_transfer'", "NULL", "'0xeth'", f"'{U2}'",
         "0.25", "0"),
        ("'0xc2cb'", 0, "'coinbase_transfer'", "NULL", "'0xeth'",
         f"'{BUILDER}'", "0.125", "0"),
        ("'0xc2rv'", 0, "'revert'", "NULL", "NULL", "NULL", "NULL", "NULL"),
        ("'0xc2np'", 1, "'new_pool'", "'UniswapV2'", f"'{DAI}'", f"'{USDC}'",
         "NULL", "NULL"),
        ("'0xc2mb'", 0, "'mint'", "'UniswapV3'", f"'{DAI}'", f"'{WETH}'",
         "3000", "1"),
        ("'0xc2fl'", 0, "'flash_loan'", "'AaveV3'", f"'{DAI}'", "NULL",
         "500", "NULL"),
        ("'0xc2tax'", 0, "'swap_with_fee'", "'UniswapV2'", f"'{DAI}'",
         f"'{WETH}'", "98", "0.05"),
        ("'0xc2tax'", 1, "'transfer'", "NULL", f"'{DAI}'", f"'{V2}'",
         "98", "2"),
        ("'0xc2sd'", 0, "'self_destruct'", "NULL", "'0xeth'", f"'{SDST}'",
         "0.5", "0"),
    ]
    values = ",\n      ".join(
        f"({tx}, {idx}, {at}, {proto}, {ta}, {tb}, "
        f"CAST({aa} AS DOUBLE), CAST({ab} AS DOUBLE))"
        for (tx, idx, at, proto, ta, tb, aa, ab) in rows
    )
    return f"""
    SELECT CAST(900 AS BIGINT) AS block_number, tx_hash,
           CAST(trace_idx AS BIGINT) AS trace_idx, action_type,
           CAST(protocol AS VARCHAR) AS protocol,
           CAST(token_a AS VARCHAR) AS token_a,
           CAST(token_b AS VARCHAR) AS token_b, amount_a, amount_b
    FROM (VALUES
      {values}
    ) AS t(tx_hash, trace_idx, action_type, protocol, token_a, token_b,
           amount_a, amount_b)
    """


@register(
    "c2_classified_actions",
    oracle=_golden_values(),
    survey_ref="C1-C4/C6/C8/C10 end-to-end from raw hex calldata+logs "
    "(brontes-classifier/src/classifiers/*: uniswap/uniswap_v{2,3}.rs, "
    "curve/swaps/*, aave/liquidation.rs, aave/v2.rs flash loans; "
    "tree_builder/mod.rs:330-526; tree_pruning.rs:13-120); golden VALUES "
    "oracle from the planted ABI words",
)
def c2_classified_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixture-driven: sf_dir unused, mirroring the reference's classifier
    # golden-fixture tests (brontes-classifier/src/test_utils)
    acts = classified_fixture_actions(spark)
    token_a = F.coalesce(
        F.col("swap.token_in"), F.col("transfer.token"),
        F.col("liquidation.debt_asset"), F.get(F.col("flash_loan.assets"), 0),
        F.get(F.col("mint_burn_collect.tokens"), 0),
    )
    token_b = F.coalesce(
        F.col("swap.token_out"), F.col("transfer.to"),
        F.col("liquidation.collateral_asset"),
        F.get(F.col("mint_burn_collect.tokens"), 1),
    )
    amount_a = F.coalesce(
        F.col("swap.amount_in"), F.col("transfer.amount"),
        F.col("liquidation.covered_debt"),
        F.get(F.col("flash_loan.amounts"), 0),
        F.get(F.col("mint_burn_collect.amounts"), 0),
    )
    amount_b = F.coalesce(
        F.col("swap.amount_out"), F.col("transfer.fee"),
        F.col("liquidation.liquidated_collateral"),
        F.get(F.col("mint_burn_collect.amounts"), 1),
    )
    return acts.select(
        "block_number", "tx_hash", "trace_idx", "action_type", "protocol",
        token_a.alias("token_a"), token_b.alias("token_b"),
        to_dbl(amount_a).alias("amount_a"), to_dbl(amount_b).alias("amount_b"),
    )
