"""Golden-fixture inspector tests — the Spark analog of the reference's
InspectorTestUtils asserts (brontes-inspect/src/test_utils/tests.rs:46-470):
planted patterns with closed-form PnL, asserted exactly (decimals, not
tolerances — our fixtures are synthetic so there is no pricing noise).
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from brontes_spark.inspectors import (
    atomic_arb_bundles,
    cex_dex_bundles,
    jit_bundles,
    liquidation_bundles,
    run_composer,
    sandwich_bundles,
)
from brontes_spark.inspectors.accounting import build_ledger, gas_usd
from brontes_spark.sources.fixtures import load_fixtures


@pytest.fixture(scope="module")
def tables(spark):
    t = load_fixtures(spark)
    t["actions"] = t["actions"].cache()
    return t


@pytest.fixture(scope="module")
def ledger(tables):
    """The per-tx ledger `run_composer` builds over the fixture tables."""
    return build_ledger(
        tables["actions"], tables["tx_info"], tables["dex_prices"], tables["block_info"]
    )


def _one(df, **filters):
    rows = [r.asDict() for r in df.collect()]
    for k, v in filters.items():
        rows = [r for r in rows if r[k] == v]
    assert len(rows) == 1, f"expected exactly one row for {filters}, got {rows}"
    return rows[0]


def test_sandwich(tables, ledger):
    b = sandwich_bundles(tables["actions"], tables["tx_info"], ledger)
    row = _one(b, block_number=100)
    assert row["mev_type"] == "sandwich"
    assert row["tx_hashes"][0] == "0xf0" and row["tx_hashes"][-1] == "0xb0"
    assert set(row["tx_hashes"][1:-1]) == {"0xv1", "0xv2"}
    # net +90 A @ $1 − $2 gas (coverage dedup must drop the in-swap transfers)
    assert row["revenue_usd"] == Decimal("90")
    assert row["gas_usd"] == Decimal("2")
    assert row["profit_usd"] == Decimal("88")


def test_atomic_arb(tables, ledger):
    b = atomic_arb_bundles(
        tables["actions"], tables["tx_info"], tables["dex_prices"],
        tables["searcher_info"], ledger,
    )
    rows = [r.asDict() for r in b.collect()]
    arb = _one(b, block_number=101)
    assert arb["mev_type"] == "atomic_arb:triangle"
    assert arb["revenue_usd"] == Decimal("50")
    assert arb["profit_usd"] == Decimal("49")
    # the unprofitable long-tail tx must be filtered out
    assert all(r["tx_hashes"] != ["0xlt"] for r in rows)


@pytest.mark.slow
def test_jit(tables, ledger):
    b = jit_bundles(tables["actions"], tables["tx_info"], ledger)
    row = _one(b, block_number=102)
    assert row["tx_hashes"] == ["0xjf", "0xjv", "0xjb"]
    # +300 A − 2.8 B = 300 − 294 = $6; gas $2
    assert row["revenue_usd"] == Decimal("6")
    assert row["profit_usd"] == Decimal("4")


def test_liquidation(tables, ledger):
    b = liquidation_bundles(tables["actions"], ledger)
    row = _one(b, block_number=103)
    # 60 A @ $2 − 100 DAI @ $1 = $20; gas $1
    assert row["revenue_usd"] == Decimal("20")
    assert row["profit_usd"] == Decimal("19")


@pytest.mark.slow
def test_cex_dex_markout(tables):
    b = cex_dex_bundles(
        tables["actions"], tables["dex_prices"], tables["block_info"],
        tables["cex_trades"], gas_usd(tables["tx_info"], tables["block_info"]),
    )
    row = _one(b, block_number=104)
    # expanding window widens to step 3: vwap = (40·1.05+40·1.06+20·1.08)/100
    # = 1.06; sell 100 A for 111 USD on the DEX, buy back at the CEX vwap:
    # revenue = 111·1 − 100·1.06 = $5 (cex_dex_markout.rs:433-485); the $5.00
    # print at +9s is outside the cutoff and must not contaminate the vwap
    assert row["revenue_usd"] == Decimal("5")
    assert row["profit_usd"] == Decimal("4")


def test_sandwich_big_mac(tables, ledger):
    b = sandwich_bundles(tables["actions"], tables["tx_info"], ledger)
    row = _one(b, block_number=107)
    assert row["mev_type"] == "sandwich:big_mac"
    # tx_hashes in BLOCK order: the interleaved Big Mac keeps each victim
    # between its own frontruns (was fronts+victims+back grouped order)
    assert row["tx_hashes"] == ["0xbm_f1", "0xbm_v1", "0xbm_f2", "0xbm_v2", "0xbm_b"]
    assert row["profit_usd"] == Decimal("97")


def test_sandwich_gap_partition(tables, ledger):
    b = sandwich_bundles(tables["actions"], tables["tx_info"], ledger)
    rows = sorted(
        (r.asDict() for r in b.filter("block_number = 108").collect()),
        key=lambda r: r["tx_hashes"][0],
    )
    assert len(rows) == 2  # empty gap splits the chain into two sandwiches
    assert rows[0]["tx_hashes"] == ["0xg_f1", "0xg_v1", "0xg_b1"]
    assert rows[1]["tx_hashes"] == ["0xg_f2", "0xg_v2", "0xg_b2"]
    assert all(r["profit_usd"] == Decimal("3") for r in rows)


def test_cex_dex_quotes_variant(tables):
    from brontes_spark.inspectors.cex_dex import cex_dex_quotes_bundles

    b = cex_dex_quotes_bundles(
        tables["actions"], tables["dex_prices"], tables["block_info"],
        tables["cex_quotes"], gas_usd(tables["tx_info"], tables["block_info"]),
    )
    row = _one(b, block_number=104)
    # X1 as-of picks the -0.5s quote (the -3.5s print is stale):
    # mid = (1.08+1.06)/2 = 1.07 → rev = 111 − 100·1.07 = $4
    assert row["mev_type"] == "cex_dex_quotes"
    assert row["revenue_usd"] == Decimal("4")
    assert row["profit_usd"] == Decimal("3")


@pytest.mark.slow
def test_composer_end_to_end(tables):
    out = run_composer(tables)
    bundles = [r.asDict() for r in out["bundles"].collect()]
    by_type = {}
    for r in bundles:
        by_type.setdefault(r["mev_type"].split(":")[0], []).append(r)
    assert set(by_type) == {
        "sandwich", "jit", "liquidation", "cex_dex", "atomic_arb",
        "jit_sandwich", "searcher_tx",
    }
    js = by_type["jit_sandwich"][0]
    assert js["block_number"] == 109 and js["profit_usd"] == Decimal("17")
    sa = by_type["searcher_tx"][0]
    assert sa["block_number"] == 110 and sa["profit_usd"] == Decimal("29")
    headers = {r["block_number"]: r.asDict() for r in out["mev_blocks"].collect()}
    assert headers[100]["n_bundles"] == 1
    assert headers[105]["n_bundles"] == 0  # control block stays clean
    assert headers[100]["total_profit_usd"] == Decimal("88")
    assert headers[108]["n_bundles"] == 2
    # every block's builder gas take is present
    assert headers[100]["builder_gas_usd"] == Decimal("4")


def test_repeated_searcher_address_adds_no_bundle(tables):
    """`cli.py db insert` appends rows, so an address can repeat in
    searcher_info. The I11 label lookup and atomic_arb's history lookup
    keep one row per address, so no bundle fans out."""
    info = tables["searcher_info"]
    out = run_composer(dict(tables, searcher_info=info.unionByName(info)))
    keys = [(r["block_number"], tuple(r["tx_hashes"]), r["mev_type"])
            for r in out["bundles"].collect()]
    assert len(keys) == len(set(keys)) == 10
    # a fanned-out lookup repeats the sandwich, arb and cex_dex bundles
    headers = {r["block_number"]: r["n_bundles"] for r in out["mev_blocks"].collect()}
    assert headers[100] == headers[101] == headers[104] == 1


def test_repeated_block_info_row_counts_each_block_once(tables):
    """`cli.py db insert` appends rows, so a block can repeat in block_info.
    `run_composer` keeps one row per block: a repeated block doubles
    neither the cex_dex anchors (and so the VWAP volume) nor the header."""
    info = tables["block_info"]
    repeated = info.unionByName(info.filter(F.col("block_number").isin(100, 104)))
    out = run_composer(dict(tables, block_info=repeated))
    cd = _one(out["bundles"], mev_type="cex_dex")
    assert cd["block_number"] == 104
    assert cd["profit_usd"] == Decimal("4") and cd["revenue_usd"] == Decimal("5")
    headers = [r.asDict() for r in out["mev_blocks"].collect()]
    blocks = [r["block_number"] for r in headers]
    assert len(blocks) == len(set(blocks))
    by_block = {r["block_number"]: r for r in headers}
    assert by_block[100]["n_txs"] == 4
    assert by_block[100]["builder_gas_usd"] == Decimal("4")


def test_run_composer_leaves_nothing_cached(spark):
    """`run_composer` releases the ledger it caches for its inspectors, so
    no later plan in the session reads a cache the call left behind."""
    spark.catalog.clearCache()
    out = run_composer(load_fixtures(spark))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # the header reads the gas rows, not the released ledger
    assert out["mev_blocks"].filter("block_number = 100").first()["n_txs"] == 4


def test_repeated_searcher_address_keeps_one_fund(spark):
    """block_analysis_wide's fund lookup keeps one row per `searcher_info`
    address, its greatest non-null fund, so a repeated address fans no
    bundle out."""
    from brontes_spark.inspectors.composer import block_analysis_wide
    from brontes_spark.plans.mev_fixture import _composed

    tables, out = _composed(spark)
    info = tables["searcher_info"]
    no_fund = info.withColumn("fund", F.lit(None).cast("string"))
    repeated = info.unionByName(info).unionByName(no_fund)
    wide = block_analysis_wide(out["bundles"], tables["actions"], repeated)
    b100 = wide.filter(F.col("block_number") == 100).first()
    assert b100["all_bundle_count"] == 1
    assert b100["all_total_profit"] == Decimal("88")
    assert b100["all_top_fund_profit"] == "fund_1"


def test_atomic_arb_history_heuristics(spark):
    """I7 validation matrix (atomic_arb.rs:169-232): searcher-history count
    thresholds scale 2x when DEX pricing is missing; stablecoin arbs pass on
    the private flag alone."""
    from decimal import Decimal as D

    from brontes_spark import schemas as S
    from brontes_spark.sources.fixtures import _swap

    bn = 200
    acts = []
    # three unprofitable (revenue 0, gas $1) 2-swap triangles
    for txi, (txh, eoa, t0, t1) in enumerate(
        [
            ("0xh1", "0xhist", "A", "B"),    # history 40, priced -> kept
            ("0xh2", "0xnew", "A", "B"),     # no history -> dropped
            ("0xh3", "0xhist2", "Q1", "Q2"), # history 25, UNpriced (mult 2) -> dropped
        ]
    ):
        acts += [
            _swap(bn, txh, txi, 0, eoa, "0xpoolA", t0, t1, "10", "10"),
            _swap(bn, txh, txi, 1, eoa, "0xpoolA", t1, t0, "10", "10"),
        ]
    # open-ended stable-endpoint sequence -> stablecoin kind; private -> kept
    acts += [
        _swap(bn, "0xh4", 3, 0, "0xpriv", "0xpoolB", "DAI", "WETH", "10", "10"),
        _swap(bn, "0xh4", 3, 1, "0xpriv", "0xpoolB", "WETH", "USDT", "10", "10"),
    ]
    actions = spark.createDataFrame(acts, S.ACTIONS_SCHEMA)

    def tx(txi, txh, eoa, private=False):
        return dict(
            block_number=bn, tx_index=txi, tx_hash=txh, eoa=eoa,
            mev_contract=None, gas_used=100_000,
            effective_gas_price=10_000_000_000_000, priority_fee=0,
            coinbase_transfer=D("0"), is_private=private,
            is_verified_contract=False,
        )

    tx_info = spark.createDataFrame(
        [tx(0, "0xh1", "0xhist"), tx(1, "0xh2", "0xnew"),
         tx(2, "0xh3", "0xhist2"), tx(3, "0xh4", "0xpriv", private=True)],
        S.TX_INFO_SCHEMA,
    )
    dex_prices = spark.createDataFrame(
        [dict(block_number=bn, tx_idx=i, token=t, price_usd=D("1"),
              pool_liquidity=D("1000000"), first_hop_connections=5)
         for i in range(4) for t in ["A", "B", "DAI", "WETH", "USDT"]],
        S.DEX_PRICES_SCHEMA,
    )
    block_info = spark.createDataFrame(
        [dict(block_number=bn, block_timestamp=1, beneficiary="0xb",
              eth_price=D("1"), proposer_fee_recipient="0xp",
              proposer_mev_reward=D("0"))],
        S.BLOCK_INFO_SCHEMA,
    )
    searchers = spark.createDataFrame(
        [dict(address="0xhist", kind="eoa", fund=None, mev_types=[],
              sibling_searchers=[], bundle_counts={"atomic_arb": 40}),
         dict(address="0xhist2", kind="eoa", fund=None, mev_types=[],
              sibling_searchers=[], bundle_counts={"atomic_arb": 25})],
        S.SEARCHER_INFO_SCHEMA,
    )

    rows = {r["tx_hashes"][0]: r.asDict() for r in atomic_arb_bundles(
        actions, tx_info, dex_prices, searchers,
        build_ledger(actions, tx_info, dex_prices, block_info),
    ).collect()}
    assert set(rows) == {"0xh1", "0xh4"}
    assert rows["0xh1"]["mev_type"] == "atomic_arb:triangle"
    assert rows["0xh1"]["profit_usd"] == Decimal("-1")
    assert rows["0xh4"]["mev_type"] == "atomic_arb:stablecoin"


@pytest.mark.slow
def test_block_analysis_wide(tables):
    """O5 wide rollup: per-family column blocks with planted golden cells
    (bundle table in plans/mev_fixture.py _bundle_values)."""
    from brontes_spark.inspectors.composer import (
        ANALYSIS_FAMILIES,
        block_analysis_wide,
        run_composer,
    )

    out = run_composer(tables)
    wide = block_analysis_wide(
        out["bundles"], tables["actions"], tables["searcher_info"]
    )
    rows = {r["block_number"]: r.asDict() for r in wide.collect()}

    # 45 metrics x 8 families + block_number (round 4 added the revenue
    # twins + per-entity ranked vectors: the full block_analysis.rs surface)
    assert len(wide.columns) == 1 + 45 * len(ANALYSIS_FAMILIES)

    # bribe totals + distinct venue counts (block_analysis.rs bribe blocks)
    assert rows[100]["all_total_bribe"] == Decimal("2")
    assert rows[108]["sandwich_total_bribe"] == Decimal("4")  # 2 bundles à $2
    assert rows[100]["all_arbed_pool_count"] == 1
    assert rows[103]["liquidation_arbed_pool_count"] == 1
    assert rows[103]["all_arbed_pool_count"] is None  # liquidation excluded

    b100 = rows[100]
    assert b100["all_bundle_count"] == 1 and b100["sandwich_bundle_count"] == 1
    assert b100["sandwich_total_profit"] == Decimal("88")
    assert b100["all_total_revenue"] == Decimal("90")
    assert b100["all_avg_profit_margin"] == 88 / 90
    assert b100["all_top_searcher_profit"] == "0xsearcher1"
    assert b100["all_top_searcher_profit_amt"] == Decimal("88")
    assert b100["all_top_searcher_rev_amt"] == Decimal("90")
    assert b100["all_top_fund_profit"] == "fund_1"
    assert b100["all_top_fund_profit_amt"] == Decimal("88")
    assert b100["all_biggest_arb_tx"] == "0xf0"
    assert b100["all_most_arbed_pool"] == "0xpool1"
    assert b100["all_most_arbed_pool_profit"] == Decimal("88")
    assert b100["all_most_arbed_pair"] == "0xtoka|0xtokb"
    assert b100["all_most_arbed_dex"] == "UniswapV2"
    assert b100["all_mev_contract_count"] == 1 and b100["all_fund_count"] == 1

    b108 = rows[108]
    assert b108["sandwich_bundle_count"] == 2
    assert b108["sandwich_total_profit"] == Decimal("6")
    assert b108["sandwich_avg_profit_margin"] == (3 / 5 + 3 / 5) / 2
    assert b108["sandwich_biggest_arb_tx"] == "0xg_f1"  # profit tie -> lex min
    assert b108["sandwich_biggest_arb_profit"] == Decimal("3")
    assert b108["sandwich_most_arbed_pool_profit"] == Decimal("6")
    assert b108["sandwich_searcher_count"] == 1

    b110 = rows[110]  # searcher_tx only: excluded from the all-family
    assert b110["searcher_tx_bundle_count"] == 1
    assert b110["searcher_tx_total_profit"] == Decimal("29")
    assert b110["all_bundle_count"] is None
    assert b110["searcher_tx_top_fund_profit"] == "fund_1"

    b103 = rows[103]  # liquidation: in all-counts, out of all-venues
    assert b103["all_bundle_count"] == 1
    assert b103["liquidation_most_arbed_pool"] == "0xaave"
    assert b103["all_most_arbed_pool"] is None
    assert b103["liquidation_most_arbed_dex"] == "AaveV3"

    # round-4 revenue twins + ranked vectors (block_analysis.rs *_revenue /
    # *_all_* families)
    assert b100["all_top_fund_rev"] == "fund_1"
    assert b100["all_top_fund_rev_amt"] == Decimal("90")
    assert b100["all_biggest_arb_rev_tx"] == "0xf0"
    assert b100["all_biggest_arb_rev"] == Decimal("90")
    assert b100["all_most_arbed_pool_rev"] == "0xpool1"
    assert b100["all_most_arbed_pool_rev_amt"] == Decimal("90")
    assert b108["sandwich_biggest_arb_rev_tx"] == "0xg_f1"  # rev tie -> lex min
    assert b108["sandwich_biggest_arb_rev"] == Decimal("5")
    assert b108["sandwich_most_arbed_pool_rev_amt"] == Decimal("10")
    assert b108["sandwich_searcher_eoa_all_profit"] == ["0xsearcher4"]
    assert b108["sandwich_searcher_eoa_all_profit_amt"] == [Decimal("6")]
    assert b108["sandwich_searcher_eoa_all_rev_amt"] == [Decimal("10")]
    # multi-entity ranking: block 109's all-family spans jit_sandwich
    # (searcher2, profit 17) only; check a 2-entry ranking on block 108's
    # per-bundle grain instead via fund lists being absent (no funds)
    assert b108["sandwich_fund_all_profit"] is None
    assert b110["searcher_tx_fund_all_profit"] == ["fund_1"]
    assert b110["searcher_tx_fund_all_rev_amt"] == [Decimal("30")]


def test_cex_dex_per_exchange_legs_and_guard(spark):
    """I8 leg selection (cex_dex_markout.rs:305-420, :619-630): with two
    exchanges, the most profitable per-exchange leg must beat the blended
    global VWAP; and the max_arb_delta guard (:709) must drop a swap whose
    DEX proceeds exceed 3x the CEX-implied value."""
    from brontes_spark import schemas as S

    A, USD = "0xtoka", "0xusd"
    TS = 1_700_000_000

    def swap_row(bn, txh, ain, aout):
        return dict(
            block_number=bn, tx_hash=txh, tx_index=0, trace_idx=0,
            trace_address=[0], action_type="swap", protocol="UniswapV2",
            swap={"from": "0xs", "recipient": "0xs", "pool": "0xp",
                  "token_in": A, "token_out": USD,
                  "amount_in": Decimal(ain), "amount_out": Decimal(aout)},
            transfer=None, mint_burn_collect=None, liquidation=None,
        )

    actions = spark.createDataFrame(
        [swap_row(1, "0xgood", "100", "111"), swap_row(1, "0xwild", "100", "400")],
        S.ACTIONS_SCHEMA,
    )
    # cheapex prints A at 1.00, richex at 1.10 — global VWAP blends to 1.05;
    # the cheapex leg is the best markout (buy back cheapest)
    trades = spark.createDataFrame(
        [
            ("cheapex", A, USD, (TS - 1) * 1_000_000, Decimal("1.00"), Decimal("100")),
            ("richex", A, USD, (TS + 1) * 1_000_000, Decimal("1.10"), Decimal("100")),
        ],
        S.CEX_TRADES_SCHEMA,
    )
    tx_info = spark.createDataFrame(
        [
            (1, 0, "0xgood", "0xs", None, 1_000_000, 10**12, 10**9, Decimal(0), False, True),
            (1, 0, "0xwild", "0xs", None, 1_000_000, 10**12, 10**9, Decimal(0), False, True),
        ],
        S.TX_INFO_SCHEMA,
    )
    block_info = spark.createDataFrame(
        [dict(block_number=1, block_timestamp=TS, beneficiary="0xb",
              eth_price=Decimal(1), proposer_fee_recipient=None,
              proposer_mev_reward=None)],
        S.BLOCK_INFO_SCHEMA,
    )
    dex_prices = spark.createDataFrame(
        [(1, 0, USD, Decimal(1), None, None), (1, 0, A, Decimal(1), None, None)],
        S.DEX_PRICES_SCHEMA,
    )
    b = cex_dex_bundles(actions, dex_prices, block_info, trades, gas_usd(tx_info, block_info))
    rows = {r["tx_hashes"][0]: r.asDict() for r in b.collect()}
    # best leg = cheapex at 1.00: rev = 111 - 100*1.00 = 11 (global blend
    # would give 111 - 105 = 6)
    assert rows["0xgood"]["revenue_usd"] == Decimal("11")
    # 400 USD out of a 100-105 USD CEX-implied value breaches the 3x cap
    assert "0xwild" not in rows


def test_sandwich_nonswap_victims_listed_and_gap_joined(spark):
    """PossibleSandwich victim sets list ALL in-between txs (sandwich/mod.rs
    PossibleSandwich), and the gap partition counts non-swap txs — a
    transfer-only tx between two searcher swaps must appear in tx_hashes and
    must keep the chain joined."""
    from brontes_spark import schemas as S
    from brontes_spark.sources.fixtures import _swap, _transfer

    A, B, USD = "0xtoka", "0xtokb", "0xusd"
    bn = 300
    acts = [
        _swap(bn, "0xf", 0, 0, "0xsear", "0xp", A, B, "1000", "10"),
        _swap(bn, "0xv1", 1, 0, "0xvic1", "0xp", A, B, "100", "1"),
        # tx 2: transfer only — no swap
        _transfer(bn, "0xv2", 2, 0, "0xvic2", "0xother", A, "5"),
        _swap(bn, "0xb", 3, 0, "0xsear", "0xp", B, A, "11", "1090"),
    ]
    actions = spark.createDataFrame(acts, S.ACTIONS_SCHEMA)

    def tx(txi, txh, eoa):
        return dict(
            block_number=bn, tx_index=txi, tx_hash=txh, eoa=eoa,
            mev_contract=None, gas_used=100_000,
            effective_gas_price=10_000_000_000_000, priority_fee=0,
            coinbase_transfer=Decimal(0), is_private=False,
            is_verified_contract=True,
        )

    tx_info = spark.createDataFrame(
        [tx(0, "0xf", "0xsear"), tx(1, "0xv1", "0xvic1"),
         tx(2, "0xv2", "0xvic2"), tx(3, "0xb", "0xsear")],
        S.TX_INFO_SCHEMA,
    )
    block_info = spark.createDataFrame(
        [dict(block_number=bn, block_timestamp=1_700_000_000, beneficiary="0xb",
              eth_price=Decimal(1), proposer_fee_recipient=None,
              proposer_mev_reward=None)],
        S.BLOCK_INFO_SCHEMA,
    )
    dex_prices = spark.createDataFrame(
        [(bn, i, t, Decimal(1), None, None) for i in range(4) for t in (A, B, USD)],
        S.DEX_PRICES_SCHEMA,
    )
    out = sandwich_bundles(
        actions, tx_info, build_ledger(actions, tx_info, dex_prices, block_info)
    )
    rows = [r.asDict() for r in out.collect()]
    assert len(rows) == 1
    # both the swap victim AND the transfer-only tx are listed, in tx order
    assert rows[0]["tx_hashes"] == ["0xf", "0xv1", "0xv2", "0xb"]


def test_propeller_solver_contract_tag(spark):
    """PropellerLabsSolver (protocol.rs:102) is a metadata-only searcher tag:
    a profitable tx whose mev_contract carries the tag counts as searcher
    activity even with no searcher_info row for its EOA."""
    from brontes_spark.classify import protocol_searcher_tags
    from brontes_spark.inspectors.accounting import tx_ledger
    from brontes_spark.inspectors.composer import searcher_activity_bundles

    SOLVER = "0xsolver"
    a2p = spark.createDataFrame(
        [(SOLVER, "PropellerLabsSolver"), ("0xpool", "UniswapV2")],
        "address string, protocol string",
    )
    tags = protocol_searcher_tags(a2p)
    assert [r["address"] for r in tags.collect()] == [SOLVER]

    searcher_info = spark.createDataFrame([], "address string")
    deltas = spark.createDataFrame(
        [("0xs1", SOLVER, Decimal(30)), ("0xn1", "0xeoa2", Decimal(30))],
        "tx_hash string, address string, usd decimal(38,18)",
    )
    gas = spark.createDataFrame(
        [(1, "0xs1", "0xeoa1", SOLVER, Decimal(1)), (1, "0xn1", "0xeoa2", None, Decimal(1))],
        "block_number long, tx_hash string, eoa string, mev_contract string, "
        "gas_usd decimal(38,18)",
    )
    ledger = tx_ledger(deltas, gas)
    out = searcher_activity_bundles(ledger, searcher_info, searcher_contracts=tags).collect()
    # only the solver-contract tx qualifies; the untagged profitable tx does not
    assert len(out) == 1
    row = out[0].asDict()
    assert row["tx_hashes"] == ["0xs1"] and row["mev_type"] == "searcher_tx"
    assert row["profit_usd"] == Decimal(29)
    # a tx matched by both its known eoa and its tagged contract is one bundle
    known = spark.createDataFrame([("0xeoa1",)], "address string")
    assert searcher_activity_bundles(ledger, known, searcher_contracts=tags).count() == 1


def _mini_env(spark, tx_hashes, block=1, ts=1_700_000_000):
    """tx_info/block_info/dex_prices scaffolding: $1 gas per tx, all prices $1."""
    from brontes_spark import schemas as S

    tx_info = spark.createDataFrame(
        [
            (block, i, h, "0xs", None, 1_000_000, 10**12, 10**9, Decimal(0), False, True)
            for i, h in enumerate(tx_hashes)
        ],
        S.TX_INFO_SCHEMA,
    )
    block_info = spark.createDataFrame(
        [dict(block_number=block, block_timestamp=ts, beneficiary="0xb",
              eth_price=Decimal(1), proposer_fee_recipient=None,
              proposer_mev_reward=None)],
        S.BLOCK_INFO_SCHEMA,
    )
    dex_prices = spark.createDataFrame(
        [
            (block, i, tok, Decimal(1), None, None)
            for i in range(len(tx_hashes))
            for tok in ("0xusd", "0xtoka", "0xtokb")
        ],
        S.DEX_PRICES_SCHEMA,
    )
    return tx_info, block_info, dex_prices


def test_cex_dex_multi_swap_tx_single_bundle(spark):
    """A tx with two swaps (different tokens) must price each swap against
    its OWN token's trades and emit ONE bundle summing both markouts —
    tx_hash-only anchors cross-joined the legs and duplicated bundles."""
    from brontes_spark import schemas as S

    A, B, USD = "0xtoka", "0xtokb", "0xusd"
    TS = 1_700_000_000

    def swap_row(ti, tin, ain, aout):
        return dict(
            block_number=1, tx_hash="0xmulti", tx_index=0, trace_idx=ti,
            trace_address=[ti], action_type="swap", protocol="UniswapV2",
            swap={"from": "0xs", "recipient": "0xs", "pool": "0xp",
                  "token_in": tin, "token_out": USD,
                  "amount_in": Decimal(ain), "amount_out": Decimal(aout)},
            transfer=None, mint_burn_collect=None, liquidation=None,
        )

    actions = spark.createDataFrame(
        [swap_row(0, A, "100", "111"), swap_row(1, B, "50", "60")], S.ACTIONS_SCHEMA
    )
    trades = spark.createDataFrame(
        [
            ("ex", A, USD, (TS - 1) * 1_000_000, Decimal("1.00"), Decimal("200")),
            ("ex", B, USD, (TS - 1) * 1_000_000, Decimal("1.00"), Decimal("200")),
        ],
        S.CEX_TRADES_SCHEMA,
    )
    tx_info, block_info, dex_prices = _mini_env(spark, ["0xmulti"])
    rows = [r.asDict() for r in
            cex_dex_bundles(actions, dex_prices, block_info, trades,
                            gas_usd(tx_info, block_info)).collect()]
    assert len(rows) == 1
    # per-swap markouts: (111-100) + (60-50) = 21; gas $1 charged once
    assert rows[0]["revenue_usd"] == Decimal("21")
    assert rows[0]["gas_usd"] == Decimal("1")
    assert rows[0]["profit_usd"] == Decimal("20")


def test_jit_multi_pool_pair_single_bundle(spark):
    """A mint/burn pair touching TWO pools is ONE JIT bundle with the union
    of victims — per-pool rows double-counted deltas/gas and duplicated
    bundles."""
    from brontes_spark import schemas as S

    A = "0xtoka"

    def mbc_row(txh, ti, kind, pool, amt, txi):
        return dict(
            block_number=1, tx_hash=txh, tx_index=txi, trace_idx=ti,
            trace_address=[ti], action_type=kind, protocol="UniswapV3",
            swap=None, transfer=None,
            mint_burn_collect={"from": "0xs", "recipient": "0xs", "pool": pool,
                               "tokens": [A], "amounts": [Decimal(amt)]},
            liquidation=None,
        )

    def victim_swap(txh, txi, pool):
        return dict(
            block_number=1, tx_hash=txh, tx_index=txi, trace_idx=0,
            trace_address=[0], action_type="swap", protocol="UniswapV3",
            swap={"from": "0xv", "recipient": "0xv", "pool": pool,
                  "token_in": A, "token_out": "0xusd",
                  "amount_in": Decimal(1), "amount_out": Decimal(1)},
            transfer=None, mint_burn_collect=None, liquidation=None,
        )

    actions = spark.createDataFrame(
        [
            mbc_row("0xf", 0, "mint", "0xp1", "10", 0),
            mbc_row("0xf", 1, "mint", "0xp2", "10", 0),
            victim_swap("0xv1", 1, "0xp1"),
            victim_swap("0xv2", 1, "0xp2"),
            mbc_row("0xb", 0, "burn", "0xp1", "12", 2),
            mbc_row("0xb", 1, "burn", "0xp2", "12", 2),
        ],
        S.ACTIONS_SCHEMA,
    )
    tx_info, block_info, dex_prices = _mini_env(spark, ["0xf", "0xv1", "0xb"])
    rows = [r.asDict() for r in
            jit_bundles(actions, tx_info,
                        build_ledger(actions, tx_info, dex_prices, block_info)).collect()]
    assert len(rows) == 1
    # searcher deltas: -10-10 (mints) +12+12 (burns) = +4 A @ $1; gas 2x$1
    assert rows[0]["revenue_usd"] == Decimal("4")
    assert rows[0]["gas_usd"] == Decimal("2")
    assert set(rows[0]["tx_hashes"][1:-1]) == {"0xv1", "0xv2"}


def test_liquidation_multi_liquidator_tx_single_bundle(spark):
    """One tx, liquidation actions by two liquidator addresses: ONE bundle
    per tx (reference builds per-TxInfo), gas charged once, revenue over the
    tx's searcher set."""
    from brontes_spark import schemas as S

    def liq_row(ti, liquidator, covered, seized):
        return dict(
            block_number=1, tx_hash="0xliq2", tx_index=0, trace_idx=ti,
            trace_address=[ti], action_type="liquidation", protocol="AaveV3",
            swap=None, transfer=None, mint_burn_collect=None,
            liquidation={"pool": "0xaave", "liquidator": liquidator,
                         "debtor": "0xd", "collateral_asset": "0xtoka",
                         "debt_asset": "0xusd",
                         "covered_debt": Decimal(covered),
                         "liquidated_collateral": Decimal(seized)},
        )

    actions = spark.createDataFrame(
        [liq_row(0, "0xs", "60", "100"), liq_row(1, "0xother", "10", "30")],
        S.ACTIONS_SCHEMA,
    )
    tx_info, block_info, dex_prices = _mini_env(spark, ["0xliq2"])
    rows = [r.asDict() for r in
            liquidation_bundles(
                actions, build_ledger(actions, tx_info, dex_prices, block_info)).collect()]
    assert len(rows) == 1
    # only the tx searcher set (eoa=0xs): +100 collateral - 60 debt = 40;
    # 0xother's deltas are not the searcher's; gas $1 once
    assert rows[0]["revenue_usd"] == Decimal("40")
    assert rows[0]["gas_usd"] == Decimal("1")


def test_stablecoin_arb_subordinate_to_sandwich(spark):
    """atomic_arb:stablecoin must have a (non-null) LOW precedence: a null
    priority sorted first and dropped the dominant sandwich instead."""
    from brontes_spark.inspectors.composer import dedup_by_precedence

    rows = [
        (1, ["0xf", "0xv", "0xb"], "0xe1", None, "sandwich",
         Decimal(10), Decimal(12), Decimal(2)),
        (1, ["0xv"], "0xe2", None, "atomic_arb:stablecoin",
         Decimal(1), Decimal(2), Decimal(1)),
    ]
    bundles = spark.createDataFrame(
        rows,
        "block_number long, tx_hashes array<string>, eoa string, "
        "mev_contract string, mev_type string, profit_usd decimal(38,18), "
        "revenue_usd decimal(38,18), gas_usd decimal(38,18)",
    )
    kept = [r["mev_type"] for r in dedup_by_precedence(bundles).collect()]
    assert kept == ["sandwich"]


def _swap_action(txh, txi, pool, tin, tout, ain, aout, frm="0xs"):
    return dict(
        block_number=1, tx_hash=txh, tx_index=txi, trace_idx=0,
        trace_address=[0], action_type="swap", protocol="UniswapV2",
        swap={"from": frm, "recipient": frm, "pool": pool,
              "token_in": tin, "token_out": tout,
              "amount_in": Decimal(ain), "amount_out": Decimal(aout)},
        transfer=None, mint_burn_collect=None, liquidation=None,
    )


def _txinfo(spark, rows):
    from brontes_spark import schemas as S

    return spark.createDataFrame(
        [
            (1, txi, txh, eoa, ctr, 1_000_000, 10**12, 10**9, Decimal(0), False, True)
            for (txi, txh, eoa, ctr) in rows
        ],
        S.TX_INFO_SCHEMA,
    )


def _binfo_prices(spark, tokens, n_idx=6):
    from brontes_spark import schemas as S

    binfo = spark.createDataFrame(
        [dict(block_number=1, block_timestamp=1_700_000_000, beneficiary="0xb",
              eth_price=Decimal(1), proposer_fee_recipient=None,
              proposer_mev_reward=None)],
        S.BLOCK_INFO_SCHEMA,
    )
    prices = spark.createDataFrame(
        [(1, i, t, Decimal(1), None, None) for i in range(n_idx) for t in tokens],
        S.DEX_PRICES_SCHEMA,
    )
    return binfo, prices


def test_sandwich_dual_scan_catches_eoa_front_contract_back(spark):
    """Reference I1 runs TWO candidate scans (duplicate EOA and duplicate
    contract). An EOA fronting directly (mev_contract null) and backing
    through a contract appears only in the EOA scan — the old
    coalesce(contract, eoa) single scan keyed the two txs apart and missed
    the sandwich entirely."""
    from brontes_spark import schemas as S

    A, B = "0xtoka", "0xtokb"
    actions = spark.createDataFrame(
        [
            _swap_action("0xf", 0, "0xp", A, B, "100", "99", frm="0xeoa"),
            _swap_action("0xv", 1, "0xp", A, B, "50", "49", frm="0xvic"),
            _swap_action("0xb", 2, "0xp", B, A, "99", "105", frm="0xeoa"),
        ],
        S.ACTIONS_SCHEMA,
    )
    tx_info = _txinfo(spark, [(0, "0xf", "0xeoa", None), (1, "0xv", "0xvic", None),
                              (2, "0xb", "0xeoa", "0xctr")])
    binfo, prices = _binfo_prices(spark, [A, B])
    rows = [r.asDict() for r in
            sandwich_bundles(actions, tx_info,
                             build_ledger(actions, tx_info, prices, binfo)).collect()]
    assert len(rows) == 1
    assert rows[0]["tx_hashes"] == ["0xf", "0xv", "0xb"]
    # A: -100 +105 = +5 at $1; B: +99 -99 = 0 → revenue $5, gas $2, profit $3
    assert rows[0]["revenue_usd"] == Decimal("5")
    assert rows[0]["profit_usd"] == Decimal("3")


def test_sandwich_multi_eoa_contract_chain_not_fragmented(spark):
    """A contract-keyed chain whose front and back come from DIFFERENT EOAs
    is ONE chain (the old grouping by (actor, eoa) fragmented it below the
    2-tx minimum and missed the sandwich)."""
    from brontes_spark import schemas as S

    A, B = "0xtoka", "0xtokb"
    actions = spark.createDataFrame(
        [
            _swap_action("0xf", 0, "0xp", A, B, "100", "99", frm="0xctr"),
            _swap_action("0xv", 1, "0xp", A, B, "50", "49", frm="0xvic"),
            _swap_action("0xb", 2, "0xp", B, A, "99", "103", frm="0xctr"),
        ],
        S.ACTIONS_SCHEMA,
    )
    tx_info = _txinfo(spark, [(0, "0xf", "0xeoaA", "0xctr"), (1, "0xv", "0xvic", None),
                              (2, "0xb", "0xeoaB", "0xctr")])
    binfo, prices = _binfo_prices(spark, [A, B])
    rows = [r.asDict() for r in
            sandwich_bundles(actions, tx_info,
                             build_ledger(actions, tx_info, prices, binfo)).collect()]
    assert len(rows) == 1
    assert rows[0]["tx_hashes"] == ["0xf", "0xv", "0xb"]
    # attribution = first searcher tx's identity
    assert rows[0]["eoa"] == "0xeoaA" and rows[0]["mev_contract"] == "0xctr"
    # net: -100 A +103 A = +3; B: +99 -99 = 0 → revenue $3; the BACK eoa's
    # deltas count too (searcher set spans the whole chain)
    assert rows[0]["revenue_usd"] == Decimal("3")


def test_sandwich_requires_full_overlap_with_back(spark):
    """I3: ≥1 victim must fully overlap — swap the front direction on a pool
    the BACKRUN reverses. Fronting P1+P2 but reversing only P2 while all
    victims trade P1 is not a sandwich (the old check validated it because
    victims matched the front side alone)."""
    from brontes_spark import schemas as S

    A, B = "0xtoka", "0xtokb"
    actions = spark.createDataFrame(
        [
            _swap_action("0xf", 0, "0xp1", A, B, "100", "99", frm="0xeoa"),
            _swap_action("0xf", 0, "0xp2", A, B, "10", "9", frm="0xeoa"),
            _swap_action("0xv", 1, "0xp1", A, B, "50", "49", frm="0xvic"),
            _swap_action("0xb", 2, "0xp2", B, A, "9", "11", frm="0xeoa"),
        ],
        S.ACTIONS_SCHEMA,
    )
    tx_info = _txinfo(spark, [(0, "0xf", "0xeoa", None), (1, "0xv", "0xvic", None),
                              (2, "0xb", "0xeoa", None)])
    binfo, prices = _binfo_prices(spark, [A, B])
    ledger = build_ledger(actions, tx_info, prices, binfo)
    assert sandwich_bundles(actions, tx_info, ledger).count() == 0
