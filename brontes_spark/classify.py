"""Classification: raw call-frame traces → normalized actions (SURVEY.md
§2.2, reference crates/brontes-classifier).

The reference routes each trace through ~150 macro-generated per-protocol
decoders keyed by (protocol-of-target-address, 4-byte selector)
(`brontes-macros/src/action_classifier/*`, registry
`brontes-classifier/src/classifiers/mod.rs:69-200`). Here the dispatch is a
broadcast join against the `address_to_protocol` dimension plus a
selector-keyed registry of COLUMN-EXPRESSION decoders — each decoder is a
pure projection over the pre-decoded param map (FIXTURES.md §2 `decoded`),
so the entire classification pass is one JVM-side select per action family,
no Python in the hot path. (In production the `decoded` column is produced
once at landing time by an eth_abi mapInPandas pass — the C2 slow path —
and every downstream run reuses it.)

Implemented operators:
  C1  protocol dispatch (broadcast join + selector routing)
  C2  swap/mint/burn decoders with token-decimal scaling
  C3  ERC20 transfer fallback with tax-token fee = |log − calldata|
  C4  ETH transfer classification + coinbase-transfer detection
  C5  delegatecall log lift: descendant delegatecall frames' logs are
      merged into the proxy's root frame; delegatecall frames themselves
      are never classified as transfers
  C6  discovery: CREATE traces → new_pool actions via parent factory frame
  C8  tax-token swap adjustment (swap + fee-bearing transfer → swap_with_fee)
  C10 revert masking (failed roots dropped; errored frames → revert)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AMOUNT = "decimal(38,18)"

TRANSFER_SELECTORS = ["0xa9059cbb", "0x23b872dd"]  # transfer / transferFrom
#: Sushi/Pancake forks share the Uniswap pool ABIs byte-for-byte
#: (classifier-abis/{SushiSwap,PancakeSwap}V{2,3}.json; classifiers/
#: sushiswap + pancakeswap mirror classifiers/uniswap)
SWAP_PROTOCOLS = [
    "UniswapV2", "SushiSwapV2", "PancakeSwapV2",
    "UniswapV3", "SushiSwapV3", "PancakeSwapV3",
]

#: pool_coins idx offset for the exchange_underlying coin list (metapool
#: base expansion / lending-pool unwrapped coins) — see decode_curve_exchange
UNDERLYING_IDX = 100

#: protocol families (protocol.rs:66-105) routed to the decoders below
CURVE_PROTOCOLS = [
    "CurveBasePool2", "CurveBasePool3", "CurveBasePool4",
    "CurveV1MetaPool", "CurveV1MetapoolImpl",
    "CurveV2MetaPool", "CurveV2MetapoolImpl",
    "CurveV2PlainPool", "CurveV2PlainPoolImpl",
    "CurvecrvUSDMetaPool", "CurvecrvUSDMetapoolImpl",
    "CurvecrvUSDPlainPool", "CurvecrvUSDPlainPoolImpl",
    "CurveCryptoSwapPool", "CurveTriCryptoPool",
]
AAVE_PROTOCOLS = ["AaveV2", "AaveV3"]

#: protocol.rs variants that classify nothing but TAG an address: frames to
#: these contracts stay unclassified (the reference registers no classifier
#: for them either); their value is metadata — a contract carrying the tag is
#: a known searcher/solver for inspector purposes (protocol.rs:102,147).
METADATA_SEARCHER_PROTOCOLS = ["PropellerLabsSolver"]


def protocol_searcher_tags(address_to_protocol: DataFrame) -> DataFrame:
    """(address, protocol) rows for metadata-only searcher/solver tags.

    Feeds the composer's known-searcher-contract set (I13): a profitable tx
    whose mev_contract carries one of these tags counts as searcher activity
    even when no searcher_info row exists for its EOA — the same effect as
    the reference tagging the solver contract in its searcher db."""
    return address_to_protocol.filter(
        F.col("protocol").isin(METADATA_SEARCHER_PROTOCOLS)
    ).select("address", "protocol")


# ---------------------------------------------------------------------------
# Decoder registry — the `action_impl!` macro analog
# (brontes-macros/src/action_classifier/*; registration list
# classifiers/mod.rs:69-200). A decoder registers for (protocols, function)
# and receives the routed traces subset + a DecodeCtx with the token-decimal
# dim; it returns a DataFrame carrying the trace core columns plus its
# variant struct column. New protocols plug in by decorating a function —
# classify_traces picks every registration up automatically.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DecodeCtx:
    token_decimals: DataFrame  # (address, decimals), broadcast-ready
    #: (pool, idx, token) — coin lists for index-addressed protocols (Curve
    #: exchange i/j, PSM dai/gem at idx 0/1, cToken→underlying at idx 0);
    #: the analog of the reference's pool-tokens dim used by curve
    #: classifiers to resolve `coins(i)` without an RPC call
    pool_coins: DataFrame | None = None

    def scaled_by_token(self, df: DataFrame, token: F.Column, raw: F.Column, tag: str):
        """Join token decimals for `token` and return (df', scaled amount)."""
        dim = F.broadcast(
            self.token_decimals.select(
                F.col("address").alias(f"__t_{tag}"), F.col("decimals").alias(f"__d_{tag}")
            )
        )
        out = df.join(dim, token == F.col(f"__t_{tag}"), "left")
        return out, _scaled(raw, F.coalesce(F.col(f"__d_{tag}"), F.lit(18)))


@dataclass(frozen=True)
class _RegisteredDecoder:
    protocols: tuple[str, ...]
    functions: tuple[str, ...]
    action_type: str | None      # literal action type; None = decoded.function
    variant_col: str             # which variant column the struct fills
    build: Callable[[DataFrame, DecodeCtx], tuple[DataFrame, F.Column]]


DECODER_REGISTRY: list[_RegisteredDecoder] = []


def action_impl(protocols, functions, action_type, variant_col):
    """Register a (protocol, function) decoder; the Spark analog of the
    reference's `action_impl!` macro invocation."""

    def deco(fn):
        DECODER_REGISTRY.append(
            _RegisteredDecoder(
                tuple(protocols), tuple(functions), action_type, variant_col, fn
            )
        )
        return fn

    return deco


def _scaled(raw: F.Column, decimals: F.Column) -> F.Column:
    """U256 token units → decimal amount: raw / 10^decimals
    (to_scaled_rational, used at tree_builder/mod.rs:459).

    NOT a decimal division: Spark types (38,0)/(p,0) as decimal(38,6) —
    silently rounding every amount to 6dp and zeroing dust below 1e-6 —
    and every wider-operand arrangement loses digits to the reserved
    integer part. A power-of-ten division is just a digit shift, so the
    amount is assembled as a string (zero-padded integer |raw|, split at
    the decimal point, sign restored) and cast once — exact to the full
    18-digit AMOUNT scale for any decimals ≤ 18 (a >18-dec token's digits
    beyond 1e-18 truncate, the declared type's own limit). Pure column
    ops, codegen'd.
    """
    d = F.least(decimals.cast("int"), F.lit(38))
    r = raw.cast("decimal(38,0)")
    # |raw| via string strip, NOT F.abs: abs on a 37+-digit decimal routes
    # through a double and rounds (observed: |-(10^37-1)| -> 10^37)
    s = F.lpad(F.regexp_replace(r.cast("string"), "^-", ""), 39, "0")
    int_part = s.substr(F.lit(1), F.lit(39) - d)
    frac_raw = s.substr(F.lit(40) - d, d)
    frac = F.when(d > 18, frac_raw.substr(F.lit(1), F.lit(18))).otherwise(
        F.rpad(frac_raw, 18, "0")
    )
    sign = F.when(r < 0, F.lit("-")).otherwise(F.lit(""))
    # try_cast: a value beyond AMOUNT's 20 integer digits nulls (quarantine)
    # instead of throwing under ANSI mode — one absurd raw amount must not
    # kill the classification job
    return F.concat(sign, int_part, F.lit("."), frac).try_cast(AMOUNT)


def _empty_variant_cols():
    return dict(
        swap=F.lit(None).cast(
            "struct<from:string,recipient:string,pool:string,token_in:string,"
            "token_out:string,amount_in:decimal(38,18),amount_out:decimal(38,18)>"
        ),
        transfer=F.lit(None).cast(
            "struct<from:string,to:string,token:string,amount:decimal(38,18),fee:decimal(38,18)>"
        ),
        mint_burn_collect=F.lit(None).cast(
            "struct<from:string,recipient:string,pool:string,tokens:array<string>,"
            "amounts:array<decimal(38,18)>>"
        ),
        liquidation=F.lit(None).cast(
            "struct<pool:string,liquidator:string,debtor:string,collateral_asset:string,"
            "debt_asset:string,covered_debt:decimal(38,18),liquidated_collateral:decimal(38,18)>"
        ),
        flash_loan=F.lit(None).cast(
            "struct<from:string,pool:string,receiver_contract:string,"
            "assets:array<string>,amounts:array<decimal(38,18)>>"
        ),
    )


def _core(df: DataFrame, action_type, protocol=None):
    cols = _empty_variant_cols()
    return dict(
        block_number=df["block_number"],
        tx_hash=df["tx_hash"],
        tx_index=df["tx_index"],
        trace_idx=df["trace_idx"],
        trace_address=df["trace_address"],
        action_type=action_type,
        protocol=protocol if protocol is not None else F.lit(None).cast("string"),
        **cols,
    )


def _finish(df: DataFrame, cols: dict) -> DataFrame:
    order = [
        "block_number", "tx_hash", "tx_index", "trace_idx", "trace_address",
        "action_type", "protocol", "swap", "transfer", "mint_burn_collect",
        "liquidation", "flash_loan",
    ]
    return df.select(*[cols[c].alias(c) for c in order])


# ---- C2: registered decoders (the per-protocol `action_impl!` bodies) -----


@action_impl(SWAP_PROTOCOLS, ["swap"], "swap", "swap")
def decode_swap(df: DataFrame, ctx: DecodeCtx):
    """UniswapV2/V3-family pool swap (classifiers/uniswap/uniswap_v{2,3}.rs).

    The pool's swap CALLDATA does not name tokens (V2: amount0Out/
    amount1Out; V3: zero_for_one/amount_specified), so — like the reference,
    which reads the Swap EVENT — token0/token1 resolve via the pool-coins
    dim and the amounts come from the Swap log (V2: amount{0,1}_{in,out};
    V3: signed amount0/amount1, positive = paid to pool), falling back to
    what the calldata does carry. Pre-decoded inputs that already provide
    generic token_in/token_out/amount_in/amount_out params take precedence.
    """
    p = F.col("decoded.params")
    df, t0 = _coin_at(ctx, df, F.col("to_address"), F.lit(0), "u0")
    df, t1 = _coin_at(ctx, df, F.col("to_address"), F.lit(1), "u1")
    raw = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    zero = F.lit(0).cast("decimal(38,0)")
    # V3 Swap log: signed deltas from the pool's perspective
    a0, a1 = raw(_log_param("amount0")), raw(_log_param("amount1"))
    # V3 calldata: exact-in when amount_specified > 0
    spec = raw(p["amount_specified"])
    zfo = p["zero_for_one"] == "true"
    v3 = p["zero_for_one"].isNotNull()
    # per-side in/out raws, first-known-source wins
    in0 = F.coalesce(
        raw(_log_param("amount0_in")),
        F.when(a0 > 0, a0),
        F.when(v3 & zfo & (spec > 0), spec),
    )
    in1 = F.coalesce(
        raw(_log_param("amount1_in")),
        F.when(a1 > 0, a1),
        F.when(v3 & ~zfo & (spec > 0), spec),
    )
    out0 = F.coalesce(
        raw(_log_param("amount0_out")),
        F.when(a0 < 0, -a0),
        raw(p["amount0_out"]),
        F.when(v3 & ~zfo & (spec < 0), -spec),
    )
    out1 = F.coalesce(
        raw(_log_param("amount1_out")),
        F.when(a1 < 0, -a1),
        raw(p["amount1_out"]),
        F.when(v3 & zfo & (spec < 0), -spec),
    )
    # direction: token0 is the input side iff it flows in (or token1 flows out)
    side0_in = (F.coalesce(in0, zero) > 0) | (F.coalesce(out1, zero) > 0)
    token_in = F.coalesce(p["token_in"], F.when(side0_in, t0).otherwise(t1))
    token_out = F.coalesce(p["token_out"], F.when(side0_in, t1).otherwise(t0))
    raw_in = F.coalesce(raw(p["amount_in"]), F.when(side0_in, in0).otherwise(in1))
    raw_out = F.coalesce(raw(p["amount_out"]), F.when(side0_in, out1).otherwise(out0))
    df, amount_in = ctx.scaled_by_token(df, token_in, raw_in, "in")
    df, amount_out = ctx.scaled_by_token(df, token_out, raw_out, "out")
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.coalesce(p["recipient"], F.col("msg_sender")).alias("recipient"),
        F.col("to_address").alias("pool"),
        token_in.alias("token_in"),
        token_out.alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(SWAP_PROTOCOLS, ["mint", "burn"], None, "mint_burn_collect")
def decode_mint_burn(df: DataFrame, ctx: DecodeCtx):
    """Pool mint/burn: V3 calldata carries LIQUIDITY (not token amounts), so
    the token deltas come from the Mint/Burn event's amount0/amount1 (the
    reference reads the same log, classifiers/uniswap/uniswap_v3.rs), with
    tokens from the pool-coins dim. Pre-decoded generic params win."""
    p = F.col("decoded.params")
    df, t0 = _coin_at(ctx, df, F.col("to_address"), F.lit(0), "m0")
    df, t1 = _coin_at(ctx, df, F.col("to_address"), F.lit(1), "m1")
    raw = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    token0 = F.coalesce(p["token0"], t0)
    token1 = F.coalesce(p["token1"], t1)
    raw0 = F.coalesce(raw(p["amount0"]), F.abs(raw(_log_param("amount0"))))
    raw1 = F.coalesce(raw(p["amount1"]), F.abs(raw(_log_param("amount1"))))
    df, amount0 = ctx.scaled_by_token(df, token0, raw0, "t0")
    df, amount1 = ctx.scaled_by_token(df, token1, raw1, "t1")
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.coalesce(p["recipient"], F.col("msg_sender")).alias("recipient"),
        F.col("to_address").alias("pool"),
        F.array(token0, token1).alias("tokens"),
        F.array(amount0, amount1).alias("amounts"),
    )
    return df, struct


def _coin_at(ctx: DecodeCtx, df: DataFrame, pool: F.Column, idx: F.Column, tag: str):
    """Resolve a coin index against the pool_coins dim (`coins(i)` without
    the reference's RPC batch request). Returns (df', token_col)."""
    dim = F.broadcast(
        ctx.pool_coins.select(
            F.col("pool").alias(f"__cp_{tag}"),
            F.col("idx").alias(f"__cix_{tag}"),
            F.col("token").alias(f"__ct_{tag}"),
        )
    )
    out = df.join(
        dim,
        (pool == F.col(f"__cp_{tag}")) & (idx.cast("int") == F.col(f"__cix_{tag}")),
        "left",
    )
    return out, F.col(f"__ct_{tag}")


def _log_param(name: str) -> F.Column:
    """First log carrying `name` in data_params (the reference reads these
    from decoded return data / logs in each action_impl! body)."""
    return F.try_element_at(
        F.filter(F.col("logs"), lambda x: x["data_params"][name].isNotNull()),
        F.lit(1),
    )["data_params"][name]


@action_impl(CURVE_PROTOCOLS, ["exchange", "exchange_underlying"], "swap", "swap")
def decode_curve_exchange(df: DataFrame, ctx: DecodeCtx):
    """Curve StableSwap/CryptoSwap exchange (classifiers/curve/swaps/*,
    e.g. v2_meta.rs): i/j coin indices resolve via the pool-coins dim;
    realized amount_out reads the TokenExchange log's tokens_bought,
    falling back to the calldata min_dy floor."""
    p = F.col("decoded.params")
    # exchange_underlying's i/j address the UNDERLYING coin list (metapool:
    # [coin0] + base-pool coins; lending pool: unwrapped coins) — a SEPARATE
    # index space, landed by load_classifier_config at idx UNDERLYING_IDX
    # + i from the pool's underlying_token_info. Resolving those indices
    # against the pool's own 2-coin list would return the base-LP token
    # (wrong asset) or nothing; with no underlying rows configured the
    # tokens stay null → quarantine, never a wrong token.
    off = F.when(
        F.col("decoded.function") == "exchange_underlying", F.lit(UNDERLYING_IDX)
    ).otherwise(F.lit(0))
    df, token_in = _coin_at(ctx, df, F.col("to_address"), p["i"].cast("int") + off, "i")
    df, token_out = _coin_at(ctx, df, F.col("to_address"), p["j"].cast("int") + off, "j")
    df, amount_in = ctx.scaled_by_token(df, token_in, p["dx"], "in")
    out_raw = F.coalesce(_log_param("tokens_bought"), p["min_dy"])
    df, amount_out = ctx.scaled_by_token(df, token_out, out_raw, "out")
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.col("msg_sender").alias("recipient"),
        F.col("to_address").alias("pool"),
        token_in.alias("token_in"),
        token_out.alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(AAVE_PROTOCOLS, ["liquidationCall"], "liquidation", "liquidation")
def decode_aave_liquidation(df: DataFrame, ctx: DecodeCtx):
    """Aave V2/V3 liquidationCall (classifiers/aave/liquidation.rs):
    collateral/debt assets straight from calldata; seized collateral reads
    the LiquidationCall log's liquidated_collateral_amount (0 if absent)."""
    p = F.col("decoded.params")
    df, covered = ctx.scaled_by_token(df, p["debt_asset"], p["debt_to_cover"], "debt")
    seized_raw = F.coalesce(_log_param("liquidated_collateral_amount"), F.lit("0"))
    df, seized = ctx.scaled_by_token(df, p["collateral_asset"], seized_raw, "col")
    struct = F.struct(
        F.col("to_address").alias("pool"),
        F.col("msg_sender").alias("liquidator"),
        p["user"].alias("debtor"),
        p["collateral_asset"].alias("collateral_asset"),
        p["debt_asset"].alias("debt_asset"),
        covered.alias("covered_debt"),
        seized.alias("liquidated_collateral"),
    )
    return df, struct


@action_impl(["CompoundV2"], ["liquidateBorrow"], "liquidation", "liquidation")
def decode_compound_liquidation(df: DataFrame, ctx: DecodeCtx):
    """Compound V2 liquidateBorrow (classifiers/compound/*): the called
    cToken's underlying resolves via pool_coins idx 0 (the reference keeps
    a cToken→underlying dim); seized collateral stays in cToken units from
    the LiquidateBorrow log's seize_tokens."""
    p = F.col("decoded.params")
    df, debt_asset = _coin_at(ctx, df, F.col("to_address"), F.lit(0), "u")
    df, covered = ctx.scaled_by_token(df, debt_asset, p["repay_amount"], "debt")
    seized_raw = F.coalesce(_log_param("seize_tokens"), F.lit("0"))
    df, seized = ctx.scaled_by_token(df, p["c_token_collateral"], seized_raw, "col")
    struct = F.struct(
        F.col("to_address").alias("pool"),
        F.col("msg_sender").alias("liquidator"),
        p["borrower"].alias("debtor"),
        p["c_token_collateral"].alias("collateral_asset"),
        debt_asset.alias("debt_asset"),
        covered.alias("covered_debt"),
        seized.alias("liquidated_collateral"),
    )
    return df, struct


@action_impl(["MakerPSM"], ["buyGem", "sellGem"], "swap", "swap")
def decode_maker_psm(df: DataFrame, ctx: DecodeCtx):
    """Maker PSM buy/sellGem (classifiers/maker/*): dai at coin idx 0, gem
    at idx 1; amounts convert 1:1 at the peg in each token's own decimals
    (the reference additionally nets the tin/tout fee read from storage —
    documented divergence: fee-exclusive amounts here)."""
    p = F.col("decoded.params")
    df, dai = _coin_at(ctx, df, F.col("to_address"), F.lit(0), "dai")
    df, gem = _coin_at(ctx, df, F.col("to_address"), F.lit(1), "gem")
    is_buy = F.col("decoded.function") == "buyGem"
    token_in = F.when(is_buy, dai).otherwise(gem)
    token_out = F.when(is_buy, gem).otherwise(dai)
    df, gem_amt = ctx.scaled_by_token(df, gem, p["gem_amt"], "g")
    dai_amt = gem_amt.cast(AMOUNT)  # 1:1 peg, 18-dec dai == scaled gem amount
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        p["usr"].alias("recipient"),
        F.col("to_address").alias("pool"),
        token_in.alias("token_in"),
        token_out.alias("token_out"),
        F.when(is_buy, dai_amt).otherwise(gem_amt).alias("amount_in"),
        F.when(is_buy, gem_amt).otherwise(dai_amt).alias("amount_out"),
    )
    return df, struct


@action_impl(["BalancerV1", "BalancerV1CRP"], ["swapExactAmountIn"], "swap", "swap")
def decode_balancer_v1_swap(df: DataFrame, ctx: DecodeCtx):
    """Balancer V1 swapExactAmountIn (classifiers/balancer/*): both tokens
    explicit in calldata; realized out from the LOG_SWAP log's
    token_amount_out, falling back to the min_amount_out floor.

    BalancerV1CRP (protocol.rs:77 — Configurable Rights Pool, the "V1
    SmartPool" proxy over a core BPool) exposes the identical swap
    interface, so it shares this decoder by registration alias — the same
    collapse the reference does by pointing both variants at the Balancer
    V1 classifier."""
    p = F.col("decoded.params")
    df, amount_in = ctx.scaled_by_token(df, p["token_in"], p["token_amount_in"], "in")
    out_raw = F.coalesce(_log_param("token_amount_out"), p["min_amount_out"])
    df, amount_out = ctx.scaled_by_token(df, p["token_out"], out_raw, "out")
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.col("msg_sender").alias("recipient"),
        F.col("to_address").alias("pool"),
        p["token_in"].alias("token_in"),
        p["token_out"].alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(["OneInchV5", "OneInchFusion"], ["aggregator_swap"], "swap", "swap")
def decode_oneinch_swap(df: DataFrame, ctx: DecodeCtx):
    """1inch router swaps (classifiers/one_inch/one_inch.rs): the calldata
    is a nested executor payload, so normalization reads the router's
    Swapped log (src_token, dst_token, spent_amount, return_amount) — the
    same source the reference's log-decode path uses. Rows without the log
    resolve to null tokens and are dropped by downstream null guards."""
    df = df.withColumn("__src", _log_param("src_token")).withColumn(
        "__dst", _log_param("dst_token")
    )
    df, amount_in = ctx.scaled_by_token(
        df, F.col("__src"), _log_param("spent_amount"), "in"
    )
    df, amount_out = ctx.scaled_by_token(
        df, F.col("__dst"), _log_param("return_amount"), "out"
    )
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.col("msg_sender").alias("recipient"),
        F.col("to_address").alias("pool"),
        F.col("__src").alias("token_in"),
        F.col("__dst").alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(["BalancerV2"], ["vault_swap"], "swap", "swap")
def decode_balancer_v2_swap(df: DataFrame, ctx: DecodeCtx):
    """Balancer V2 Vault swap/batchSwap (classifiers/balancer/
    balancer_v2.rs:20-76): normalized from the Vault's Swap log
    (pool_id, token_in, token_out, amount_in, amount_out); pool address =
    first 20 bytes of the 32-byte poolId (pool_id_to_address,
    balancer_v2.rs:223)."""
    pool = F.concat(F.lit("0x"), F.substring(_log_param("pool_id"), 3, 40))
    df = df.withColumn("__tin", _log_param("token_in")).withColumn(
        "__tout", _log_param("token_out")
    )
    df, amount_in = ctx.scaled_by_token(
        df, F.col("__tin"), _log_param("amount_in"), "in"
    )
    df, amount_out = ctx.scaled_by_token(
        df, F.col("__tout"), _log_param("amount_out"), "out"
    )
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.col("msg_sender").alias("recipient"),
        pool.alias("pool"),
        F.col("__tin").alias("token_in"),
        F.col("__tout").alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(["Dodo"], ["sellBase", "sellQuote"], "swap", "swap")
def decode_dodo_swap(df: DataFrame, ctx: DecodeCtx):
    """Dodo V2 DPP/DSP sellBase/sellQuote (classifiers/dodo/dodo_v2.rs:9-70):
    the DODOSwap log carries (from_token, to_token, from_amount, to_amount);
    the calldata `to` is the receiver."""
    p = F.col("decoded.params")
    df = df.withColumn("__tin", _log_param("from_token")).withColumn(
        "__tout", _log_param("to_token")
    )
    df, amount_in = ctx.scaled_by_token(
        df, F.col("__tin"), _log_param("from_amount"), "in"
    )
    df, amount_out = ctx.scaled_by_token(
        df, F.col("__tout"), _log_param("to_amount"), "out"
    )
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.coalesce(p["to"], F.col("msg_sender")).alias("recipient"),
        F.col("to_address").alias("pool"),
        F.col("__tin").alias("token_in"),
        F.col("__tout").alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(["Cowswap"], ["cow_settle"], "swap", "swap")
def decode_cowswap_fill(df: DataFrame, ctx: DecodeCtx):
    """Cowswap GPv2Settlement settle/swap (classifiers/cowswap/mod.rs:15-66):
    each fill normalizes from a Trade log (owner, sell_token, buy_token,
    sell_amount, buy_amount); the settlement contract is the pool."""
    df = (
        df.withColumn("__owner", _log_param("owner"))
        .withColumn("__tin", _log_param("sell_token"))
        .withColumn("__tout", _log_param("buy_token"))
    )
    df, amount_in = ctx.scaled_by_token(
        df, F.col("__tin"), _log_param("sell_amount"), "in"
    )
    df, amount_out = ctx.scaled_by_token(
        df, F.col("__tout"), _log_param("buy_amount"), "out"
    )
    struct = F.struct(
        F.coalesce(F.col("__owner"), F.col("msg_sender")).alias("from"),
        F.coalesce(F.col("__owner"), F.col("msg_sender")).alias("recipient"),
        F.col("to_address").alias("pool"),
        F.col("__tin").alias("token_in"),
        F.col("__tout").alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(["ClipperExchange"], ["clipper_swap"], "swap", "swap")
def decode_clipper_swap(df: DataFrame, ctx: DecodeCtx):
    """ClipperExchange swap family (classifiers/clipper/
    clipper_exchange.rs:7-130): all variants normalize from the Swapped log
    (in_asset, out_asset, recipient, in_amount, out_amount)."""
    df = (
        df.withColumn("__tin", _log_param("in_asset"))
        .withColumn("__tout", _log_param("out_asset"))
        .withColumn("__rcpt", _log_param("recipient"))
    )
    df, amount_in = ctx.scaled_by_token(
        df, F.col("__tin"), _log_param("in_amount"), "in"
    )
    df, amount_out = ctx.scaled_by_token(
        df, F.col("__tout"), _log_param("out_amount"), "out"
    )
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.coalesce(F.col("__rcpt"), F.col("msg_sender")).alias("recipient"),
        F.col("to_address").alias("pool"),
        F.col("__tin").alias("token_in"),
        F.col("__tout").alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(
    [*AAVE_PROTOCOLS, "MakerDssFlash"],
    ["flashLoan", "flashLoanSimple"],
    "flash_loan",
    "flash_loan",
)
def decode_flash_loan(df: DataFrame, ctx: DecodeCtx):
    """Aave V2/V3 flashLoan/flashLoanSimple (classifiers/aave/v2.rs:40-76)
    and Maker DssFlash ERC-3156 flash mint (classifiers/maker/dss_flash.rs):
    borrowed assets/amounts from calldata (multi-asset arrays decode
    comma-joined). The loan row is metadata only — flashloan.rs:38-44
    accounts the CHILD actions' deltas, which in this flat model remain
    their own rows (absorb-then-reemit ≡ leave-in-place)."""
    p = F.col("decoded.params")
    assets = F.split(F.coalesce(p["assets"], p["asset"]), ",")
    raw_amounts = F.split(F.coalesce(p["amounts"], p["amount"]), ",")
    # entries with empty asset strings are decode artifacts (''.split(',')
    # yields ['']) — drop them from the zip rather than emitting a bogus
    # empty-string asset row
    zipped = F.filter(
        F.arrays_zip(assets.alias("t"), raw_amounts.alias("a")),
        lambda e: e["t"].isNotNull() & (e["t"] != ""),
    )
    # per-asset decimal scaling: explode the (asset, raw) pairs, join the
    # token dim, regroup in position order — flash loans are rare rows, so
    # the extra keyed shuffle is noise at any scale. posexplode_OUTER keeps
    # the trace alive when the asset/amount params are null or undecodable:
    # it still lands as a metadata flash_loan action with empty arrays
    # instead of silently vanishing.
    keyed = df.select(
        "block_number", "tx_hash", "tx_index", "trace_idx", "trace_address",
        "msg_sender", "to_address", "proto", p["receiver"].alias("__recv"),
        F.posexplode_outer(zipped).alias("__pos", "__ar"),
    )
    dim = F.broadcast(
        ctx.token_decimals.select(
            F.col("address").alias("__fl_t"), F.col("decimals").alias("__fl_d")
        )
    )
    keyed = keyed.join(dim, keyed["__ar.t"] == F.col("__fl_t"), "left")
    scaled = _scaled(F.col("__ar.a"), F.coalesce(F.col("__fl_d"), F.lit(18)))
    regrouped = (
        keyed.withColumn("__amt", scaled)
        .groupBy(
            "block_number", "tx_hash", "tx_index", "trace_idx", "trace_address",
            "msg_sender", "to_address", "proto", "__recv",
        )
        .agg(
            F.transform(
                F.sort_array(
                    # collect_list drops nulls, so the posexplode_outer
                    # placeholder row (null __pos) regroups to EMPTY arrays
                    F.collect_list(
                        F.when(
                            F.col("__pos").isNotNull(),
                            F.struct(
                                "__pos",
                                F.col("__ar.t").alias("t"),
                                F.col("__amt").alias("a"),
                            ),
                        )
                    )
                ),
                lambda s: F.struct(s["t"].alias("t"), s["a"].alias("a")),
            ).alias("__ta")
        )
    )
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.col("to_address").alias("pool"),
        F.col("__recv").alias("receiver_contract"),
        F.transform(F.col("__ta"), lambda s: s["t"]).alias("assets"),
        F.transform(F.col("__ta"), lambda s: s["a"]).alias("amounts"),
    )
    return regrouped, struct


@action_impl(["UniswapX"], ["dutch_fill"], "swap", "swap")
def decode_uniswapx_fill(df: DataFrame, ctx: DecodeCtx):
    """UniswapX Dutch-order fills (classifiers/uniswap/uniswap_x.rs:13-100):
    the reference rebuilds each fill's swap from the signed order payload +
    settlement transfers (Fill::into_swap); here the landing pass surfaces
    the settled fields (swapper, token_in/out, amounts) as Fill-log
    data_params — same normalized output, documented divergence on where
    the fields are read from."""
    df = (
        df.withColumn("__swapper", _log_param("swapper"))
        .withColumn("__tin", _log_param("token_in"))
        .withColumn("__tout", _log_param("token_out"))
    )
    df, amount_in = ctx.scaled_by_token(
        df, F.col("__tin"), _log_param("amount_in"), "in"
    )
    df, amount_out = ctx.scaled_by_token(
        df, F.col("__tout"), _log_param("amount_out"), "out"
    )
    struct = F.struct(
        F.coalesce(F.col("__swapper"), F.col("msg_sender")).alias("from"),
        F.coalesce(F.col("__swapper"), F.col("msg_sender")).alias("recipient"),
        F.col("to_address").alias("pool"),
        F.col("__tin").alias("token_in"),
        F.col("__tout").alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


@action_impl(["ZeroX"], ["transformERC20"], "swap", "swap")
def decode_zerox_transform(df: DataFrame, ctx: DecodeCtx):
    """0x transformERC20 (classifiers/zerox/mod.rs:88-106): input token +
    amount from the static calldata head; realized output from the
    TransformedERC20 log's output_token_amount, falling back to the
    min_output_token_amount floor."""
    p = F.col("decoded.params")
    df, amount_in = ctx.scaled_by_token(
        df, p["input_token"], p["input_token_amount"], "in"
    )
    out_raw = F.coalesce(
        _log_param("output_token_amount"), p["min_output_token_amount"]
    )
    df, amount_out = ctx.scaled_by_token(df, p["output_token"], out_raw, "out")
    struct = F.struct(
        F.col("msg_sender").alias("from"),
        F.col("msg_sender").alias("recipient"),
        F.col("to_address").alias("pool"),
        p["input_token"].alias("token_in"),
        p["output_token"].alias("token_out"),
        amount_in.alias("amount_in"),
        amount_out.alias("amount_out"),
    )
    return df, struct


def lift_delegated_logs(traces: DataFrame) -> DataFrame:
    """C5 (tree_builder/mod.rs:372-388): for every call frame R, append the
    logs of descendant delegatecall frames whose `from` is R's target — the
    proxy pattern: the implementation runs in the proxy's storage context,
    so its logs belong to the proxy's frame. Appended logs keep trace order
    (merged after R's own logs, as in logs.rs:215-221 merged_logs).

    Spark shape: an equi-join on tx_hash with a trace-address prefix
    post-filter — per-tx frames are small, so the shuffle is keyed and
    skew-free at any scale."""
    roots = traces.select(
        "tx_hash",
        F.col("trace_idx").alias("__r_idx"),
        F.col("trace_address").alias("__r_path"),
        F.col("to_address").alias("__r_to"),
    )
    dele = traces.filter(F.col("call_type") == "delegatecall").select(
        "tx_hash",
        F.col("trace_idx").alias("__c_idx"),
        F.col("trace_address").alias("__c_path"),
        F.col("from_address").alias("__c_from"),
        F.col("logs").alias("__c_logs"),
    )
    lifted = (
        roots.join(dele, "tx_hash")
        .filter(
            (F.size("__c_path") > F.size("__r_path"))
            & (F.slice("__c_path", F.lit(1), F.size("__r_path")) == F.col("__r_path"))
            & (F.col("__c_from") == F.col("__r_to"))
            & F.col("__c_logs").isNotNull()
            & (F.size("__c_logs") > 0)
        )
        .groupBy("tx_hash", "__r_idx")
        .agg(
            F.flatten(
                F.transform(
                    # comparator form: the struct carries a map (log params),
                    # which default struct ordering can't sort
                    F.array_sort(
                        F.collect_list(F.struct("__c_idx", "__c_logs")),
                        lambda a, b: F.when(a["__c_idx"] < b["__c_idx"], -1)
                        .when(a["__c_idx"] > b["__c_idx"], 1)
                        .otherwise(0),
                    ),
                    lambda x: x["__c_logs"],
                )
            ).alias("__lifted_logs")
        )
    )
    lifted = lifted.withColumnRenamed("tx_hash", "__l_tx")
    out = traces.join(
        lifted,
        (traces["tx_hash"] == F.col("__l_tx"))
        & (traces["trace_idx"] == F.col("__r_idx")),
        "left",
    ).drop("__l_tx")
    return out.withColumn(
        "logs",
        F.when(
            F.col("__lifted_logs").isNotNull(),
            F.concat(F.coalesce(F.col("logs"), F.array()), F.col("__lifted_logs")),
        ).otherwise(F.col("logs")),
    ).drop("__r_idx", "__lifted_logs")


def classify_traces(
    traces: DataFrame,
    address_to_protocol: DataFrame,
    token_decimals: DataFrame,
    block_info: DataFrame,
    pool_coins: DataFrame | None = None,
    include_unclassified: bool = False,
) -> DataFrame:
    """Full classification pass: returns the normalized `actions` frame.

    ``include_unclassified=True`` additionally emits an `unclassified` row
    for every successful frame no classifier claims (the reference keeps
    these in the tree, tree_builder/mod.rs:352-608); off by default because
    most analyses filter by action type anyway."""
    if pool_coins is None:  # index-addressed decoders then resolve to null
        pool_coins = traces.sparkSession.createDataFrame(
            [], "pool string, idx int, token string"
        )
    # C5: lift proxy-delegated logs before any decoder sees the frames
    traces = lift_delegated_logs(traces)

    # C10: failed root txs are skipped entirely (tree_builder/mod.rs:140-146)
    live = traces.filter(F.col("is_success"))

    # C10: errored frames become Revert actions (tree_builder/mod.rs:330-332)
    reverts = live.filter(F.col("error").isNotNull())
    ok = live.filter(F.col("error").isNull())

    # C1: protocol dispatch via broadcast dim join (get targets' protocol)
    dim = F.broadcast(
        address_to_protocol.select(
            F.col("address").alias("to_address"), F.col("protocol").alias("proto")
        )
    )
    routed = ok.join(dim, "to_address", "left")

    dec = F.broadcast(token_decimals.select("address", "decimals"))
    ctx = DecodeCtx(token_decimals=token_decimals, pool_coins=pool_coins)
    p = F.col("decoded.params")

    # ---- C2: run every registered decoder ----------------------------------
    decoded_frames = []
    for reg in DECODER_REGISTRY:
        subset = routed.filter(
            F.col("proto").isin(list(reg.protocols))
            & F.col("decoded.function").isin(list(reg.functions))
        )
        frame, struct = reg.build(subset, ctx)
        atype = (
            F.lit(reg.action_type) if reg.action_type is not None
            else F.col("decoded.function")
        )
        cols = _core(frame, atype, F.col("proto"))
        cols[reg.variant_col] = struct
        decoded_frames.append(_finish(frame, cols))
    from functools import reduce as _reduce

    swap_and_mb = _reduce(lambda a, b: a.unionByName(b), decoded_frames)

    # ---- C3: ERC20 transfer fallback (undispatched calls) ------------------
    # tax-token fee = |log amount − calldata amount|, amount = least of both
    # (tree_builder/mod.rs:423-526)
    # delegatecall frames are never transfers — the proxy's own frame owns
    # the value movement (classify_transfer early-return, mod.rs:430-432)
    tr = routed.filter(
        F.col("proto").isNull()
        & F.col("calldata_selector").isin(TRANSFER_SELECTORS)
        & ~F.coalesce(F.col("call_type") == "delegatecall", F.lit(False))
    )
    tdec = dec.select(F.col("address").alias("__ta"), F.col("decimals").alias("__td"))
    tr = tr.join(tdec, F.col("to_address") == tdec["__ta"], "left")
    call_amt = _scaled(p["amount"], F.coalesce("__td", F.lit(18)))
    # first log CARRYING a value param, not logs[0] blindly — tokens that
    # emit another event before Transfer (Approval-style) would otherwise
    # null the log amount (fee silently 0) or read a wrong 'value'
    log_amt_raw = _log_param("value")
    log_amt = F.when(
        log_amt_raw.isNotNull(), _scaled(log_amt_raw, F.coalesce("__td", F.lit(18)))
    ).otherwise(call_amt)
    tr_struct = F.struct(
        F.coalesce(p["from"], F.col("msg_sender")).alias("from"),
        p["to"].alias("to"),
        F.col("to_address").alias("token"),
        F.least(call_amt, log_amt).alias("amount"),
        F.abs(call_amt - log_amt).cast(AMOUNT).alias("fee"),
    )
    tr_cols = _core(tr, F.lit("transfer"))
    tr_cols["transfer"] = tr_struct
    tr_actions = _finish(tr, tr_cols)

    # ---- C4: ETH transfers + coinbase detection ----------------------------
    # delegatecall frames inherit msg_value from their parent (reth/parity
    # trace convention) — classifying them would double-count every payable
    # proxy transfer; same exclusion C3 applies above (the C5 invariant)
    eth = routed.filter(
        (F.col("msg_value").cast("decimal(38,0)") > 0)
        & F.col("calldata_selector").isNull()
        & (F.col("action_kind") == "call")
        & ~F.coalesce(F.col("call_type") == "delegatecall", F.lit(False))
    ).join(
        F.broadcast(block_info.select("block_number", "beneficiary")), "block_number", "left"
    )
    eth_struct = F.struct(
        F.col("from_address").alias("from"),
        F.col("to_address").alias("to"),
        F.lit("0xeth").alias("token"),
        _scaled(F.col("msg_value"), F.lit(18)).alias("amount"),
        F.lit(0).cast(AMOUNT).alias("fee"),
    )
    eth_cols = _core(
        eth,
        F.when(F.col("to_address") == F.col("beneficiary"), "coinbase_transfer").otherwise(
            "eth_transfer"
        ),
    )
    eth_cols["transfer"] = eth_struct
    eth_actions = _finish(eth, eth_cols)

    # ---- C6: discovery (CREATE → new_pool via parent factory frame) --------
    creates = ok.filter(F.col("action_kind") == "create").select(
        "block_number", "tx_hash", "tx_index", "trace_idx", "trace_address",
        F.col("to_address").alias("created_addr"),
    )
    parents = routed.select(
        F.col("tx_hash").alias("p_tx"),
        F.col("trace_address").alias("p_path"),
        F.col("decoded").alias("p_decoded"),
        F.col("proto").alias("p_proto"),
    )
    disc = creates.join(
        parents,
        (creates["tx_hash"] == parents["p_tx"])
        & (
            F.col("p_path")
            == F.slice(
                creates["trace_address"], 1,
                F.greatest(F.size(creates["trace_address"]) - 1, F.lit(0)),
            )
        ),
    ).filter(F.col("p_decoded.function") == "create_pool")
    # protocol: explicit in pre-decoded fixtures, else the factory address's
    # dim protocol (raw-hex createPair/createPool carry no protocol field).
    # A created address ALREADY in the protocol dim is a re-initialization →
    # pool_config_update (pool.rs:14-32 TryFrom<NormalizedNewPool>)
    known = F.broadcast(
        address_to_protocol.select(F.col("address").alias("__known_addr"))
    )
    disc = disc.join(known, disc["created_addr"] == F.col("__known_addr"), "left")
    disc_cols = _core(
        disc,
        F.when(
            F.col("__known_addr").isNotNull(), F.lit("pool_config_update")
        ).otherwise(F.lit("new_pool")),
        F.coalesce(F.col("p_decoded.params")["protocol"], F.col("p_proto")),
    )
    # token list: comma-joined `tokens` (Curve address[N] coin lists, padded
    # with the zero address) when present, else token0/token1; zero/null
    # entries drop out
    zero_addr = "0x" + "0" * 40
    token_list = F.filter(
        F.coalesce(
            F.split(F.col("p_decoded.params")["tokens"], ","),
            F.array(
                F.col("p_decoded.params")["token0"],
                F.col("p_decoded.params")["token1"],
            ),
        ),
        lambda t: t.isNotNull() & (t != zero_addr) & (t != ""),
    )
    disc_cols["mint_burn_collect"] = F.struct(
        F.lit(None).cast("string").alias("from"),
        F.lit(None).cast("string").alias("recipient"),
        F.col("created_addr").alias("pool"),
        token_list.alias("tokens"),
        F.array().cast("array<decimal(38,18)>").alias("amounts"),
    )
    disc_actions = _finish(disc, disc_cols)

    # ---- C10: revert rows --------------------------------------------------
    rev_cols = _core(reverts, F.lit("revert"))
    rev_actions = _finish(reverts, rev_cols)

    # ---- selfdestruct rows (tree_builder/mod.rs:350; self_destruct.rs) -----
    # the refunded balance rides the transfer struct for inspection, but the
    # action_type keeps it out of delta accounting — matching the reference,
    # where SelfdestructWithIndex implements no TokenAccounting
    sd = ok.filter(F.col("action_kind").isin("selfdestruct", "suicide"))
    sd_cols = _core(sd, F.lit("self_destruct"))
    sd_cols["transfer"] = F.struct(
        F.col("from_address").alias("from"),
        F.col("to_address").alias("to"),
        F.lit("0xeth").alias("token"),
        _scaled(F.coalesce(F.col("msg_value"), F.lit("0")), F.lit(18)).alias("amount"),
        F.lit(0).cast(AMOUNT).alias("fee"),
    )
    sd_actions = _finish(sd, sd_cols)

    actions = (
        swap_and_mb
        .unionByName(tr_actions)
        .unionByName(eth_actions)
        .unionByName(disc_actions)
        .unionByName(rev_actions)
        .unionByName(sd_actions)
    )
    if include_unclassified:
        # tree_builder/mod.rs:352-608: frames no classifier claims stay in
        # the tree as Action::Unclassified; emitted here as bare rows so a
        # user's per-tx action sets are complete
        claimed = actions.select("tx_hash", "trace_idx").distinct()
        un = ok.join(claimed, ["tx_hash", "trace_idx"], "left_anti")
        un_cols = _core(un, F.lit("unclassified"))
        actions = actions.unionByName(_finish(un, un_cols))
    return account_for_tax_tokens(actions)


def account_for_tax_tokens(actions: DataFrame) -> DataFrame:
    """C8 (tree_builder/tree_pruning.rs:13-120): when a tx holds a swap and
    a fee-bearing transfer of the swap's input token, shrink amount_in by
    the fee and retag as swap_with_fee."""
    # fees pair to THEIR swap via the in-leg shape (transfer from the
    # swapper into the swap's pool of the input token), not tx-wide by
    # token: a split-route tx with two A→B swaps would otherwise subtract
    # the combined fee from EVERY leg (N× over-subtraction). Mirrors the
    # reference's per-subtree pairing (tree_pruning.rs:13-120) and the
    # coverage-dedup in-leg match (inspectors/accounting._covered).
    fees = (
        actions.filter((F.col("action_type") == "transfer") & (F.col("transfer.fee") > 0))
        .groupBy(
            F.col("tx_hash").alias("fee_tx"),
            F.col("transfer.token").alias("fee_token"),
            F.col("transfer.from").alias("fee_from"),
            F.col("transfer.to").alias("fee_to"),
        )
        .agg(F.sum("transfer.fee").alias("total_fee"))
    )
    joined = actions.join(
        fees,
        (F.col("tx_hash") == F.col("fee_tx"))
        & (F.col("action_type") == "swap")
        & (F.col("swap.token_in") == F.col("fee_token"))
        & (F.col("swap.from") == F.col("fee_from"))
        & (F.col("swap.pool") == F.col("fee_to")),
        "left",
    ).drop("fee_tx", "fee_from", "fee_to")
    adjusted_swap = F.struct(
        F.col("swap.from").alias("from"),
        F.col("swap.recipient").alias("recipient"),
        F.col("swap.pool").alias("pool"),
        F.col("swap.token_in").alias("token_in"),
        F.col("swap.token_out").alias("token_out"),
        (F.col("swap.amount_in") - F.col("total_fee")).cast(AMOUNT).alias("amount_in"),
        F.col("swap.amount_out").alias("amount_out"),
    )
    return joined.withColumn(
        "swap",
        F.when(F.col("total_fee").isNotNull() & (F.col("action_type") == "swap"), adjusted_swap)
        .otherwise(F.col("swap")),
    ).withColumn(
        "action_type",
        F.when(
            F.col("total_fee").isNotNull() & (F.col("action_type") == "swap"),
            F.lit("swap_with_fee"),
        ).otherwise(F.col("action_type")),
    ).drop("fee_token", "total_fee")
