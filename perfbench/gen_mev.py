"""Seeded MEV block-range generator and its expected-answer manifest.

A block range at roughly mainnet density (about 100 txs per block). Most
txs are background swaps, ERC20 transfers and ETH transfers, each from its
own EOA, on pools and tokens that no planted pattern uses, so background
traffic cannot form MEV: no EOA sends two txs, no tx holds two swaps, no
background token is quoted on a CEX or known to the searcher dim. Pool
popularity is Zipf-skewed.

Every `PLANT_EVERY`-th block carries one block of the planted fixture
(`brontes_spark.sources.fixtures`, blocks 100-110), tiled copy after copy
with per-copy block, tx-hash and timestamp offsets as
`scripts/inspector_slope.py` tiles them. Planted txs keep tx_index 0-5 and
background txs follow them, so no background tx ever sits inside a planted
sandwich or JIT window. The planted PnL is closed-form (fixture docstring),
so the manifest states exactly what the inspectors must report.

The range is written as the tables `cli.py run` reads: the landed
classified actions, the per-block metadata and the pool and searcher dims.

The traffic shape is an assumption, not a measurement (see README):
TXS_PER_BLOCK, the background mix in `_bg_block`, N_BG_POOLS, N_BG_TOKENS
and ZIPF_S.
"""

from __future__ import annotations

import bisect
import hashlib
import random
from collections import defaultdict
from decimal import Decimal

from brontes_spark import schemas as S
from brontes_spark.sources import fixtures as FX

from arrowio import PARTS, write_rows

E18 = 10**18
FIRST_BLOCK = 18_000_000
FIRST_TS = 1_700_000_000
PLANT_EVERY = 2
TXS_PER_BLOCK = 100
N_BG_POOLS = 300
N_BG_TOKENS = 60
ZIPF_S = 1.1
FIXTURE_BLOCKS = list(range(100, 111))

#: per-block metadata tables
BLOCK_TABLES = {
    "tx_info": S.TX_INFO_SCHEMA, "dex_prices": S.DEX_PRICES_SCHEMA,
    "block_info": S.BLOCK_INFO_SCHEMA, "cex_trades": S.CEX_TRADES_SCHEMA,
    "cex_quotes": S.CEX_QUOTES_SCHEMA,
}

#: per fixture block: (mev_type, profit, revenue, gas) of every bundle the
#: composer must report (fixture docstring; plans/mev_fixture golden rows)
PLANTED_BUNDLES: dict[int, list[tuple[str, str, str, str]]] = {
    100: [("sandwich", "88", "90", "2")],
    101: [("atomic_arb:triangle", "49", "50", "1")],
    102: [("jit", "4", "6", "2")],
    103: [("liquidation", "19", "20", "1")],
    104: [("cex_dex", "4", "5", "1")],
    105: [],
    106: [],
    107: [("sandwich:big_mac", "97", "100", "3")],
    108: [("sandwich", "3", "5", "2"), ("sandwich", "3", "5", "2")],
    109: [("jit_sandwich", "17", "19", "2")],
    110: [("searcher_tx", "29", "30", "1")],
}


def addr(name: str) -> str:
    return "0x" + hashlib.sha256(name.encode()).hexdigest()[:40]


#: fixture identities land as 20-byte hex addresses, as on chain; the CEX
#: quote token keeps its symbolic id, which `cex_dex_bundles` matches by
#: default
_FIXTURE_IDS = [
    FX.A, FX.B, FX.DAI, FX.P1, FX.P2, FX.AAVE, FX.S1, FX.S2, FX.S3, FX.S4,
    FX.LIQ, FX.V, FX.V + "2", FX.BUILDER, "0xwhale", "0xmev1", "0xmev2",
    "0xproposer",
]
REMAP = {x: addr(x) for x in _FIXTURE_IDS}
USD = FX.USD
A, B, DAI = REMAP[FX.A], REMAP[FX.B], REMAP[FX.DAI]
P1, P2, AAVE = REMAP[FX.P1], REMAP[FX.P2], REMAP[FX.AAVE]
#: the fixture's CEX-DEX swap trades A for USD, on a pool of its own
P_USD = addr("pool_a_usd")
BUILDER = REMAP[FX.BUILDER]


def _rm(v):
    return REMAP.get(v, v) if isinstance(v, str) else v


def _dec(raw: int) -> Decimal:
    return Decimal(raw) / E18


class Layout:
    """Which block of the range carries which fixture block, and the per-copy
    offsets that keep copies from ever matching each other."""

    def __init__(self, n_blocks: int, seed: int):
        self.n_blocks = n_blocks
        self.phase = seed % PLANT_EVERY
        self.blocks = [FIRST_BLOCK + i for i in range(n_blocks)]
        self.planted: dict[int, tuple[int, int]] = {}  # block -> (fixture bn, copy)
        k = 0
        for i, bn in enumerate(self.blocks):
            if i % PLANT_EVERY == self.phase:
                self.planted[bn] = (FIXTURE_BLOCKS[k % 11], k // 11)
                k += 1

    def ts(self, bn: int) -> int:
        return FIRST_TS + 12 * (bn - FIRST_BLOCK)

    def copies(self) -> int:
        return 1 + max((c for _, c in self.planted.values()), default=-1)


def _tx(h: str, copy: int) -> str:
    return f"{h}_c{copy}"


def _planted_actions(layout: Layout) -> dict[int, list[dict]]:
    by_fixture: dict[int, list[dict]] = defaultdict(list)
    for r in FX.actions_rows():
        by_fixture[r["block_number"]].append(r)
    out: dict[int, list[dict]] = {}
    for bn, (fbn, copy) in layout.planted.items():
        rows = []
        for r in by_fixture[fbn]:
            r = dict(r)
            r["block_number"] = bn
            r["tx_hash"] = _tx(r["tx_hash"], copy)
            r["trace_address"] = [r["trace_idx"]]
            r["flash_loan"] = None
            for v in ("swap", "transfer", "mint_burn_collect", "liquidation"):
                if r[v] is not None:
                    r[v] = {k: ([_rm(t) for t in x] if k == "tokens" else _rm(x))
                            for k, x in r[v].items()}
            if r["swap"] is not None and {r["swap"]["token_in"], r["swap"]["token_out"]} == {A, USD}:
                r["swap"]["pool"] = P_USD
            if r["action_type"] == "swap":
                r["protocol"] = "UniswapV3" if r["swap"]["pool"] == P2 else "UniswapV2"
            rows.append(r)
        out[bn] = rows
    return out


class Background:
    """Background dims: Zipf-popular pools over background-only tokens."""

    def __init__(self, rng: random.Random):
        self.tokens = [addr(f"bg_token_{i}") for i in range(N_BG_TOKENS)]
        self.pools = []
        for i in range(N_BG_POOLS):
            t0, t1 = rng.sample(self.tokens, 2)
            self.pools.append((addr(f"bg_pool_{i}"), t0, t1))
        w = [1.0 / (i + 1) ** ZIPF_S for i in range(N_BG_POOLS)]
        tot = sum(w)
        self.pool_cum = []
        acc = 0.0
        for x in w:
            acc += x / tot
            self.pool_cum.append(acc)

    def pick_pool(self, rng: random.Random):
        i = bisect.bisect_left(self.pool_cum, rng.random())
        return self.pools[min(i, N_BG_POOLS - 1)]


def _bg_block(rng: random.Random, bg: Background, bn: int, first_txi: int):
    """(actions, tx_info rows) of one block's background traffic."""
    n = max(1, int(rng.gauss(TXS_PER_BLOCK, 10))) - first_txi
    actions, txs = [], []
    for j in range(max(n, 0)):
        txi = first_txi + j
        txh = f"0xbg{bn}_{txi}"
        eoa = addr(f"eoa_{bn}_{txi}")
        u = rng.random()
        base = dict(block_number=bn, tx_hash=txh, tx_index=txi, trace_idx=0,
                    trace_address=[0], protocol=None, swap=None, transfer=None,
                    mint_burn_collect=None, liquidation=None, flash_loan=None)
        if u < 0.58:
            pool, t0, t1 = bg.pick_pool(rng)
            tin, tout = (t0, t1) if rng.random() < 0.5 else (t1, t0)
            ain = _dec(rng.randrange(10**15, 10**21))
            aout = _dec(rng.randrange(10**15, 10**21))
            base.update(action_type="swap", protocol="UniswapV2", swap=dict(zip(
                ("from", "recipient", "pool", "token_in", "token_out", "amount_in",
                 "amount_out"), (eoa, eoa, pool, tin, tout, ain, aout))))
        elif u < 0.88:
            token = bg.tokens[min(int(rng.paretovariate(1.2)) - 1, N_BG_TOKENS - 1)]
            amt = _dec(rng.randrange(10**15, 10**21))
            base.update(action_type="transfer", transfer=dict(
                zip(("from", "to", "token", "amount", "fee"),
                    (eoa, addr(f"to_{bn}_{txi}"), token, amt, Decimal(0)))))
        elif u < 0.98:
            amt = _dec(rng.randrange(10**14, 10**19))
            base.update(action_type="eth_transfer", transfer=dict(
                zip(("from", "to", "token", "amount", "fee"),
                    (eoa, addr(f"to_{bn}_{txi}"), "0xeth", amt, Decimal(0)))))
        else:  # a reverted tx lands as a bare revert row
            base.update(action_type="revert")
        actions.append(base)
        txs.append(dict(block_number=bn, tx_index=txi, tx_hash=txh, eoa=eoa,
                        mev_contract=None, gas_used=rng.randrange(21_000, 300_000),
                        effective_gas_price=rng.randrange(10**9, 10**11),
                        priority_fee=rng.randrange(10**8, 10**9),
                        coinbase_transfer=Decimal(0), is_private=False,
                        is_verified_contract=False))
    return actions, txs


# -- metadata tables ----------------------------------------------------------


def _remap_row(r: dict) -> dict:
    out = {}
    for k, v in r.items():
        if isinstance(v, list):
            v = [_rm(x) for x in v]
        out[k] = _rm(v)
    return out


class MevInputs:
    """All rows of one seeded range, grouped per block."""

    def __init__(self, n_blocks: int, seed: int):
        self.seed = seed
        self.layout = lay = Layout(n_blocks, seed)
        rng = random.Random(seed)
        bg = Background(rng)
        planted = _planted_actions(lay)

        fx_tx = defaultdict(list)
        for r in FX.tx_info_rows():
            fx_tx[r["block_number"]].append(r)
        fx_px = defaultdict(list)
        for r in FX.dex_prices_rows():
            fx_px[r["block_number"]].append(r)

        self.actions: dict[int, list[dict]] = {}
        self.tx_info: dict[int, list[dict]] = {}
        self.dex_prices: dict[int, list[dict]] = {}
        self.block_info: dict[int, list[dict]] = {}
        self.cex_trades: dict[int, list[dict]] = {}
        self.cex_quotes: dict[int, list[dict]] = {}
        for bn in lay.blocks:
            acts = planted.get(bn, [])
            txs: list[dict] = []
            px: list[dict] = []
            ct: list[dict] = []
            cq: list[dict] = []
            if bn in lay.planted:
                fbn, copy = lay.planted[bn]
                for r in fx_tx[fbn]:
                    r = _remap_row(r)
                    r.update(block_number=bn, tx_hash=_tx(r["tx_hash"], copy))
                    txs.append(r)
                for r in fx_px[fbn]:
                    r = _remap_row(r)
                    r["block_number"] = bn
                    px.append(r)
                if fbn == 104:
                    shift = (lay.ts(bn) - FX.BLOCK_TS[104]) * 1_000_000
                    for r in FX.cex_trades_rows():
                        r = _remap_row(r)
                        r["timestamp"] += shift
                        ct.append(r)
                    for r in FX.cex_quotes_rows():
                        r = _remap_row(r)
                        r["timestamp"] += shift
                        cq.append(r)
            first = 1 + max((a["tx_index"] for a in acts), default=-1)
            bga, bgt = _bg_block(rng, bg, bn, first)
            self.actions[bn] = acts + bga
            self.tx_info[bn] = txs + bgt
            self.dex_prices[bn] = px
            self.cex_trades[bn] = ct
            self.cex_quotes[bn] = cq
            self.block_info[bn] = [dict(
                block_number=bn, block_timestamp=lay.ts(bn), beneficiary=BUILDER,
                eth_price=Decimal(1), proposer_fee_recipient=REMAP["0xproposer"],
                proposer_mev_reward=Decimal(0))]

        self.pools = (
            [dict(pool=P1, protocol="UniswapV2", token0=A, token1=B, init_block=1),
             dict(pool=P2, protocol="UniswapV3", token0=A, token1=B, init_block=1),
             dict(pool=P_USD, protocol="UniswapV2", token0=A, token1=USD, init_block=1)]
            + [dict(pool=p, protocol="UniswapV2", token0=t0, token1=t1, init_block=1)
               for p, t0, t1 in bg.pools])
        self.searcher_info = [_remap_row(r) for r in FX.searcher_info_rows()]

    # -- flat tables ----------------------------------------------------------

    def flat(self, table: str) -> list[dict]:
        return [r for bn in self.layout.blocks for r in getattr(self, table)[bn]]

    def write_backfill(self, root: str) -> None:
        """Every table `cli.py run` reads, under `root`."""
        write_rows(f"{root}/actions", self.flat("actions"), S.ACTIONS_SCHEMA, PARTS)
        for name, schema in BLOCK_TABLES.items():
            write_rows(f"{root}/{name}", self.flat(name), schema, PARTS)
        write_rows(f"{root}/pools", self.pools, S.POOLS_SCHEMA)
        write_rows(f"{root}/searcher_info", self.searcher_info, S.SEARCHER_INFO_SCHEMA)

    # -- manifest -------------------------------------------------------------

    def expected_bundles(self) -> dict[str, tuple[int, Decimal]]:
        """mev_type -> (bundle count, total profit) over the range."""
        out: dict[str, list] = defaultdict(lambda: [0, Decimal(0)])
        for fbn, _ in self.layout.planted.values():
            for mev_type, profit, _, _ in PLANTED_BUNDLES[fbn]:
                out[mev_type][0] += 1
                out[mev_type][1] += Decimal(profit)
        return {k: (v[0], v[1]) for k, v in out.items()}

    def expected_block_bundles(self, bn: int) -> int:
        if bn not in self.layout.planted:
            return 0
        return len(PLANTED_BUNDLES[self.layout.planted[bn][0]])

    def n_actions(self) -> int:
        return sum(len(v) for v in self.actions.values())
