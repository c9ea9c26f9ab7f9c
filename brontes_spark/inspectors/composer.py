"""Composer — reference O1-O4 + I11/I13 (SURVEY.md §2.7/§2.8):
`brontes-inspect/src/composer/mod.rs:71-343`, `composer/utils.rs:15-242`.

  O1  run every inspector, union bundles (independent DAG branches — Spark
      schedules them; they share one cached per-tx accounting ledger)
  I13 searcher activity (mev_inspectors/searcher_activity.rs:40-200), an
      O1 inspector (lib.rs:106-115): a bundle per profitable searcher tx
  O2  compose: sandwich + JIT bundles sharing txs by the same searcher merge
      into jit_sandwich (composer/composer_filters.rs:21-49,
      mev/jit_sandwich.rs compose_sandwich_jit). Our delta accounting
      already sums ALL searcher deltas per tx set, so the sandwich bundle's
      numbers are the complete merged PnL — the merge takes them verbatim.
  I11 jit_cex_dex: JIT bundles whose searcher is labeled cex-dex
      (jit/jit_cex_dex.rs) re-tag
  O3  precedence dedup (composer/mev_filters.rs:32-110): bundles of a
      subordinate MEV type sharing any tx with a dominant bundle are dropped
      (searcher_tx is the weakest)
  O4  per-block MevBlock header rollup (bundle counts/profits by type +
      builder gas take)

O2 and O3 work per block, as the reference composes each block's bundles
(composer/mod.rs:71-343): each is one `groupBy("block_number")
.applyInPandas` over a plain walk (`block_compose`, `block_dedup`).
`run_composer` runs O1 → I11 → O2 → O3 → O4 and cuts lineage twice, at the
union of the inspector bundles and at the final bundles.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .accounting import action_deltas, gas_usd, ledger_bundles, tx_ledger, usd_deltas
from .atomic_arb import atomic_arb_bundles
from .cex_dex import cex_dex_bundles, cex_dex_quotes_bundles
from .jit import jit_bundles
from .liquidations import liquidation_bundles
from .sandwich import sandwich_bundles

#: precedence: lower = dominant (mev_filters.rs MevType ordering, simplified)
PRIORITY = {
    "jit_sandwich": 0,
    "sandwich": 10,
    "sandwich:big_mac": 10,
    "jit_cex_dex": 20,
    "jit": 30,
    "cex_dex": 40,
    "cex_dex_quotes": 45,  # markout variant dominates (reference preference)
    "liquidation": 50,
    "atomic_arb:triangle": 60,
    "atomic_arb:cross_pair": 70,
    "atomic_arb:stablecoin": 75,  # weakest closed-arb signal (validation matrix)
    "atomic_arb:long_tail": 80,
    "searcher_tx": 90,  # weakest: any other bundle on its tx drops it
}

#: any mev_type not in PRIORITY must sort LAST, never first, or it would
#: outrank every known type and invert precedence
_PRIORITY_DEFAULT = 1000


def _hashes(v) -> tuple:
    """A bundle's tx hashes; Arrow hands an array over as a numpy array and
    a null one as None."""
    return () if v is None else tuple(v)


def _nulls_first(v) -> tuple:
    """Sort key of Spark's ascending order: a null sorts first."""
    return (v is not None, v)


def block_compose(bundles: pd.DataFrame) -> pd.DataFrame:
    """O2 over ONE block's bundles (the bundle columns of `run_composer`). A
    sandwich and a jit (or jit_cex_dex) bundle of the same eoa that share a
    tx give one jit_sandwich row per pair: its tx_hashes are the sorted,
    distinct union of both parents' txs, and it takes the sandwich's PnL
    and contract. A null eoa never pairs. Every bundle whose tx list equals
    a paired parent's is dropped. Row order of the input does not matter."""
    rows = bundles.to_dict("records")
    paired = [r for r in rows if r["eoa"] is not None and r["mev_type"] is not None]
    sands = [r for r in paired if r["mev_type"].startswith("sandwich")]
    jits = [r for r in paired if r["mev_type"] in ("jit", "jit_cex_dex")]
    merged, consumed = [], set()
    for s in sands:
        s_txs = _hashes(s["tx_hashes"])
        for j in jits:
            j_txs = _hashes(j["tx_hashes"])
            if j["eoa"] == s["eoa"] and set(s_txs) & set(j_txs):
                consumed.update((s_txs, j_txs))
                txs = sorted(set(s_txs) | set(j_txs), key=_nulls_first)
                merged.append({**s, "tx_hashes": txs, "mev_type": "jit_sandwich"})
    kept = [r for r in rows if _hashes(r["tx_hashes"]) not in consumed]
    return pd.DataFrame(kept + merged, columns=bundles.columns)


def compose_sandwich_jit(bundles: DataFrame) -> DataFrame:
    """O2: merge sandwich×jit pairs (same block + eoa, intersecting txs)
    into jit_sandwich and drop the parents, in one `block_compose` pass per
    block."""
    return bundles.groupBy("block_number").applyInPandas(block_compose, bundles.schema)


def retag_jit_cex_dex(bundles: DataFrame, searcher_info: DataFrame) -> DataFrame:
    """I11: jit bundles by searchers labeled cex-dex become jit_cex_dex.
    An address may repeat in `searcher_info` (`db insert` appends rows), so
    the lookup keeps one row per address. It is broadcast whole anyway, so
    it dedups in one partition, without a shuffle."""
    labeled = (
        searcher_info.filter(F.array_contains(F.col("mev_types"), "cex_dex"))
        .select(F.col("address").alias("eoa"), F.lit(True).alias("__cd"))
        .coalesce(1)
        .distinct()
    )
    mev_type = F.when((F.col("mev_type") == "jit") & F.col("__cd"), "jit_cex_dex").otherwise(
        F.col("mev_type")
    )
    return bundles.join(F.broadcast(labeled), "eoa", "left").select(
        *[mev_type.alias(c) if c == "mev_type" else c for c in bundles.columns]
    )


def searcher_activity_bundles(
    ledger: DataFrame,
    searcher_info: DataFrame,
    searcher_contracts: DataFrame | None = None,
) -> DataFrame:
    """I13: one searcher_tx bundle per profitable tx of a known searcher,
    read off its `ledger` row; O3 drops the ones whose tx another bundle
    holds.

    ``searcher_contracts`` (optional, `(address, ...)`) extends the known set
    with CONTRACT addresses — e.g. metadata-tagged solver protocols
    (classify.protocol_searcher_tags); those match on mev_contract, while
    searcher_info rows match on eoa (searcher_activity.rs checks both). The
    semi-joins keep each tx once, however often its address repeats."""
    known = F.broadcast(searcher_info.select(F.col("address").alias("eoa")))
    txs = ledger.join(known, "eoa", "left_semi")
    if searcher_contracts is not None:
        kc = F.broadcast(searcher_contracts.select(F.col("address").alias("mev_contract")))
        # a tagged contract's txs whose eoa is not known already
        txs = txs.unionByName(
            ledger.join(kc, "mev_contract", "left_semi").join(known, "eoa", "left_anti")
        )
    return ledger_bundles(txs, "searcher_tx").filter(
        (F.col("revenue_usd") > 0) & (F.col("profit_usd") > 0)
    )


def _precedence(r: dict) -> tuple:
    """O3's order of a bundle row: (priority, mev_type, min tx hash,
    bundle_id), a null first as in Spark's ascending sort; a mev_type
    missing from PRIORITY sorts last."""
    txs = [h for h in _hashes(r["tx_hashes"]) if h is not None]
    return (
        PRIORITY.get(r["mev_type"], _PRIORITY_DEFAULT),
        _nulls_first(r["mev_type"]),
        _nulls_first(min(txs, default=None)),
        r["bundle_id"],
    )


def block_dedup(bundles: pd.DataFrame) -> pd.DataFrame:
    """O3 over ONE block's bundles (the bundle columns of `run_composer` and
    `bundle_id`): a bundle is dropped when a bundle sharing one of its txs
    comes strictly earlier in `_precedence`. Bundles with equal keys both
    survive, and so does a bundle with no txs. Returns the kept rows
    without `bundle_id`. Row order of the input does not matter."""
    rows = bundles.to_dict("records")
    keys = [_precedence(r) for r in rows]
    best: dict = {}
    for r, k in zip(rows, keys):
        for h in _hashes(r["tx_hashes"]):
            best[h] = min(best.get(h, k), k)
    kept = [r for r, k in zip(rows, keys) if all(best[h] == k for h in _hashes(r["tx_hashes"]))]
    return pd.DataFrame(kept, columns=bundles.columns).drop(columns="bundle_id")


def dedup_by_precedence(bundles: DataFrame) -> DataFrame:
    """O3: drop subordinate bundles sharing a tx with a dominant bundle, in
    one `block_dedup` pass per block. Per block is the same as over all
    bundles at once because a tx hash belongs to one block.

    The tie-break among equal-priority bundles sharing a tx is content-derived
    (mev_type, smallest tx hash, content hash) — never monotonically_increasing_id,
    which is partition-dependent and run-to-run nondeterministic.
    """
    # md5-derived id, per the repo-wide hash policy (functions/hashing.py):
    # this id is the final dedup tie-break, so it is derived from the
    # bundle's content alone and does not depend on how the bundles are
    # partitioned.
    bundle_id = md5_long(
        F.concat_ws(
            "|",
            "mev_type",
            F.concat_ws(",", "tx_hashes"),
            F.col("profit_usd").cast("string"),
            F.col("revenue_usd").cast("string"),
            "eoa",
        )
    )
    return (
        bundles.withColumn("bundle_id", bundle_id)
        .groupBy("block_number")
        .applyInPandas(block_dedup, bundles.schema)
    )


def mev_block_header(bundles: DataFrame, gas: DataFrame, block_info: DataFrame) -> DataFrame:
    """O4: per-block rollup (composer/utils.rs build_mev_header). The
    builder's gas take and tx count come from the `gas_usd` rows `gas`."""
    per_block = bundles.groupBy("block_number").agg(
        F.count(F.lit(1)).alias("n_bundles"),
        F.sum("profit_usd").cast("decimal(38,18)").alias("total_profit_usd"),
        F.sum("revenue_usd").cast("decimal(38,18)").alias("total_revenue_usd"),
        F.sum("gas_usd").cast("decimal(38,18)").alias("total_bribe_usd"),
        F.sort_array(F.collect_list("mev_type")).alias("mev_types"),
    )
    builder_take = gas.groupBy("block_number").agg(
        F.sum("gas_usd").cast("decimal(38,18)").alias("builder_gas_usd"),
        F.count(F.lit(1)).alias("n_txs"),
    )
    return (
        block_info.select("block_number", "block_timestamp", "beneficiary")
        .join(builder_take, "block_number", "left")
        .join(per_block, "block_number", "left")
        .withColumn("n_bundles", F.coalesce("n_bundles", F.lit(0)))
    )


#: families of the wide BlockAnalysis blocks (db/block_analysis.rs:22-657):
#: "all" aggregates every family except searcher_tx (and excludes
#: liquidation from venue metrics), per ::new at 658-700
ANALYSIS_FAMILIES = [
    "all", "sandwich", "jit_sandwich", "jit", "atomic_arb", "cex_dex",
    "liquidation", "searcher_tx",
]


def block_analysis_wide(
    bundles: DataFrame, actions: DataFrame, searcher_info: DataFrame
) -> DataFrame:
    """O5 wide rollup — the Spark form of BlockAnalysis::new
    (db/block_analysis.rs:658-1680): per block, one column block per family
    with bundle counts, profit/revenue totals, average profit margin
    (block_analysis.rs:2024-2044: mean over bribe≠0 bundles of
    profit/|profit+bribe|), top searcher by profit and by revenue
    (single-bundle argmax, 1903-1950), unique eoa/contract/fund counts,
    top fund by summed profit AND by summed revenue, biggest bundle by
    profit AND by revenue, per-entity ranked vectors (searcher_eoa /
    mev_contract / fund ×{profit, revenue} lists with parallel amounts —
    the *_all_* families), and most-transacted pool/pair/dex by attributed
    profit AND by revenue (1976-2110) — the full metric surface of the
    reference's 369 literal columns, family-pivoted. An address may repeat
    in `searcher_info` (`db insert` appends rows); its greatest non-null
    `fund` is its fund.

    Plan shape: bundles explode to (block, family) grain — each bundle
    feeds its own family plus `all` when eligible — every metric is computed
    at that grain with one groupBy or one keep_largest window, then a single
    pivot over the bounded family list assembles the wide row. All argmax
    picks tie-break lexicographically so the output is deterministic."""
    from ..functions.decimals import to_dbl
    from ..operators.windows import keep_largest

    DEC = "decimal(38,18)"
    # one row per address, broadcast whole, so it groups without a shuffle
    funds = searcher_info.coalesce(1).groupBy(F.col("address").alias("eoa"))
    b = (
        # family = mev_type sans subkind; the quotes variant counts under
        # cex_dex (the reference's cex_dex_* fields count MevType::CexDexQuotes,
        # block_analysis.rs:1521-1523). jit_cex_dex has NO per-family block in
        # the reference — those bundles feed only "all", matching here.
        bundles.withColumn(
            "family",
            F.when(
                F.col("mev_type") == "cex_dex_quotes", F.lit("cex_dex")
            ).otherwise(F.split("mev_type", ":")[0]),
        )
        .withColumn("head_tx", F.col("tx_hashes")[0])
        .join(F.broadcast(funds.agg(F.max("fund").alias("fund"))), "eoa", "left")
    )
    # (block, fam) grain: own family + "all" (searcher_tx excluded from all)
    b2 = b.withColumn(
        "fam",
        F.explode(
            F.when(
                F.col("family") == "searcher_tx", F.array(F.col("family"))
            ).otherwise(F.array(F.col("family"), F.lit("all")))
        ),
    )

    margin = to_dbl("profit_usd") / F.abs(to_dbl("profit_usd") + to_dbl("gas_usd"))
    scal = b2.groupBy("block_number", "fam").agg(
        F.count(F.lit(1)).alias("bundle_count"),
        F.sum("profit_usd").cast(DEC).alias("total_profit"),
        F.sum("revenue_usd").cast(DEC).alias("total_revenue"),
        F.sum("gas_usd").cast(DEC).alias("total_bribe"),
        F.avg(F.when(F.col("gas_usd") != 0, margin)).alias("avg_profit_margin"),
        F.countDistinct("eoa").alias("searcher_count"),
        F.countDistinct("mev_contract").alias("mev_contract_count"),
        F.countDistinct("fund").alias("fund_count"),
    )

    top_prof = keep_largest(
        b2.select("block_number", "fam", "eoa", "profit_usd"),
        ["block_number", "fam"], F.col("profit_usd"), "eoa",
    ).select(
        "block_number", "fam",
        F.col("eoa").alias("top_searcher_profit"),
        F.col("profit_usd").alias("top_searcher_profit_amt"),
    )
    top_rev = keep_largest(
        b2.select("block_number", "fam", "eoa", "revenue_usd"),
        ["block_number", "fam"], F.col("revenue_usd"), "eoa",
    ).select(
        "block_number", "fam",
        F.col("eoa").alias("top_searcher_rev"),
        F.col("revenue_usd").alias("top_searcher_rev_amt"),
    )
    fund_sums = b2.filter(F.col("fund").isNotNull()).groupBy(
        "block_number", "fam", "fund"
    ).agg(
        F.sum("profit_usd").cast(DEC).alias("fund_profit"),
        F.sum("revenue_usd").cast(DEC).alias("fund_rev"),
    )
    top_fund = keep_largest(
        fund_sums, ["block_number", "fam"], F.col("fund_profit"), "fund"
    ).select(
        "block_number", "fam",
        F.col("fund").alias("top_fund_profit"),
        F.col("fund_profit").alias("top_fund_profit_amt"),
    )
    top_fund_rev = keep_largest(
        fund_sums, ["block_number", "fam"], F.col("fund_rev"), "fund"
    ).select(
        "block_number", "fam",
        F.col("fund").alias("top_fund_rev"),
        F.col("fund_rev").alias("top_fund_rev_amt"),
    )
    biggest = keep_largest(
        b2.select("block_number", "fam", "head_tx", "profit_usd"),
        ["block_number", "fam"], F.col("profit_usd"), "head_tx",
    ).select(
        "block_number", "fam",
        F.col("head_tx").alias("biggest_arb_tx"),
        F.col("profit_usd").alias("biggest_arb_profit"),
    )
    biggest_rev = keep_largest(
        b2.select("block_number", "fam", "head_tx", "revenue_usd"),
        ["block_number", "fam"], F.col("revenue_usd"), "head_tx",
    ).select(
        "block_number", "fam",
        F.col("head_tx").alias("biggest_arb_rev_tx"),
        F.col("revenue_usd").alias("biggest_arb_rev"),
    )

    # per-entity ranked vectors (block_analysis.rs: *_searcher_eoa_all_*,
    # *_mev_contract_all_*, *_fund_all_* — the full per-block ranking, not
    # just the argmax): entity lists sorted profit-desc (tie: entity asc)
    # with parallel amount arrays, one groupBy per entity kind.
    def entity_lists(entity: str, prefix: str) -> DataFrame:
        per = b2.filter(F.col(entity).isNotNull()).groupBy(
            "block_number", "fam", entity
        ).agg(
            F.sum("profit_usd").cast(DEC).alias("p"),
            F.sum("revenue_usd").cast(DEC).alias("r"),
        )

        def ranked(amt: str, out: str) -> list:
            sorted_structs = F.array_sort(
                F.collect_list(F.struct((-F.col(amt)).alias("neg"), F.col(entity).alias("e")))
            )
            return [
                F.transform(sorted_structs, lambda s: s["e"]).alias(f"{prefix}_{out}"),
                F.transform(sorted_structs, lambda s: -s["neg"]).alias(f"{prefix}_{out}_amt"),
            ]

        return per.groupBy("block_number", "fam").agg(
            *ranked("p", "all_profit"), *ranked("r", "all_rev")
        )

    # venue attribution: bundle txs → actions → (pool, pair, dex), distinct
    # per bundle, each venue accumulating the bundle's profit.
    # "all" excludes liquidation bundles here (block_analysis.rs:677-699).
    vb = b2.filter(
        ~((F.col("fam") == "all") & (F.col("family") == "liquidation"))
    ).select(
        "block_number", "fam", "head_tx", "profit_usd", "revenue_usd",
        F.explode("tx_hashes").alias("tx_hash"),
    )
    acts = actions.select(
        "block_number",
        "tx_hash",
        F.coalesce(
            F.col("swap.pool"), F.col("mint_burn_collect.pool"), F.col("liquidation.pool")
        ).alias("pool"),
        F.coalesce(
            F.when(
                F.col("swap").isNotNull(),
                F.array_join(
                    F.array_sort(F.array("swap.token_in", "swap.token_out")), "|"
                ),
            ),
            F.when(
                F.col("mint_burn_collect").isNotNull(),
                F.array_join(F.array_sort(F.col("mint_burn_collect.tokens")), "|"),
            ),
            F.when(
                F.col("liquidation").isNotNull(),
                F.array_join(
                    F.array_sort(
                        F.array(
                            "liquidation.collateral_asset", "liquidation.debt_asset"
                        )
                    ),
                    "|",
                ),
            ),
        ).alias("pair"),
        F.col("protocol").alias("dex"),
    ).filter(F.col("pool").isNotNull() | F.col("pair").isNotNull())
    venues = vb.join(acts, ["block_number", "tx_hash"])

    def most_arbed(col: str) -> DataFrame:
        per_bundle = venues.filter(F.col(col).isNotNull()).select(
            "block_number", "fam", "head_tx", "profit_usd", "revenue_usd", col
        ).distinct()
        per_venue = per_bundle.groupBy("block_number", "fam", col).agg(
            F.sum("profit_usd").cast(DEC).alias("vprofit"),
            F.sum("revenue_usd").cast(DEC).alias("vrev"),
        )
        by_profit = keep_largest(
            per_venue, ["block_number", "fam"], F.col("vprofit"), col
        ).select(
            "block_number", "fam",
            F.col(col).alias(f"most_arbed_{col}"),
            F.col("vprofit").alias(f"most_arbed_{col}_profit"),
        )
        by_rev = keep_largest(
            per_venue, ["block_number", "fam"], F.col("vrev"), col
        ).select(
            "block_number", "fam",
            F.col(col).alias(f"most_arbed_{col}_rev"),
            F.col("vrev").alias(f"most_arbed_{col}_rev_amt"),
        )
        return by_profit.join(by_rev, ["block_number", "fam"], "left")

    pool_counts = (
        venues.filter(F.col("pool").isNotNull())
        .groupBy("block_number", "fam")
        .agg(F.countDistinct("pool").alias("arbed_pool_count"))
    )

    grain = (
        scal.join(top_prof, ["block_number", "fam"], "left")
        .join(pool_counts, ["block_number", "fam"], "left")
        .join(top_rev, ["block_number", "fam"], "left")
        .join(top_fund, ["block_number", "fam"], "left")
        .join(top_fund_rev, ["block_number", "fam"], "left")
        .join(biggest, ["block_number", "fam"], "left")
        .join(biggest_rev, ["block_number", "fam"], "left")
        .join(entity_lists("eoa", "searcher_eoa"), ["block_number", "fam"], "left")
        .join(entity_lists("mev_contract", "mev_contract"), ["block_number", "fam"], "left")
        .join(entity_lists("fund", "fund"), ["block_number", "fam"], "left")
        .join(most_arbed("pool"), ["block_number", "fam"], "left")
        .join(most_arbed("pair"), ["block_number", "fam"], "left")
        .join(most_arbed("dex"), ["block_number", "fam"], "left")
    )
    metrics = [c for c in grain.columns if c not in ("block_number", "fam")]
    return (
        grain.groupBy("block_number")
        .pivot("fam", ANALYSIS_FAMILIES)
        .agg(*[F.first(m).alias(m) for m in metrics])
        .orderBy("block_number")
    )


def run_composer(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """O1 → I11 → O2 → O3 → O4 over the fixture-shaped tables."""
    actions, tx_info, dex_prices = (tables[k] for k in ("actions", "tx_info", "dex_prices"))
    # `db insert` appends rows, so a block can repeat in block_info; keep one
    # row per block. It is a small dimension the inspectors broadcast, so it
    # dedups in one partition, without a shuffle (as I11's label lookup does).
    block_info = tables["block_info"].coalesce(1).dropDuplicates(["block_number"])
    # one shared accounting pass, cached for every inspector (the reference
    # likewise shares the classified tree + metadata across inspectors,
    # composer/mod.rs:71-120). usd_deltas and gas_usd are called from this
    # module, not through build_ledger: a traced perfbench run wraps them by
    # name in its `inspectors.accounting` span.
    gas = gas_usd(tx_info, block_info)
    ledger = tx_ledger(usd_deltas(action_deltas(actions), dex_prices), gas).cache()
    # metadata-only solver tags (PropellerLabsSolver-class protocols) extend
    # the known-searcher set when the protocol dim is provided
    tags = None
    if "address_to_protocol" in tables:
        from ..classify import protocol_searcher_tags

        tags = protocol_searcher_tags(tables["address_to_protocol"])
    all_bundles = [
        sandwich_bundles(actions, tx_info, ledger),
        jit_bundles(actions, tx_info, ledger),
        liquidation_bundles(actions, ledger),
        cex_dex_bundles(actions, dex_prices, block_info, tables["cex_trades"], ledger),
        cex_dex_quotes_bundles(actions, dex_prices, block_info, tables["cex_quotes"], ledger),
        atomic_arb_bundles(actions, tx_info, dex_prices, tables["searcher_info"], ledger),
        searcher_activity_bundles(ledger, tables["searcher_info"], searcher_contracts=tags),
    ]
    # Two eager lineage cuts, each held in executor memory (a single-node
    # shortcut). The first is the union of the O1 bundles, I13's included:
    # O2 and O3 then plan over a scan of the KB-sized bundles rather than
    # the seven inspector DAGs, which without the cut adds about 10 s of
    # plan building before the first job. The second is the final bundles,
    # which the three sinks and the header read without recomputing O2 and
    # O3. Only the inspectors read the ledger (the header reads the gas
    # rows), so it is released once the cuts hold their output: the call
    # leaves nothing cached in the session.
    unioned = reduce(lambda a, b: a.unionByName(b), all_bundles).localCheckpoint()
    composed = compose_sandwich_jit(retag_jit_cex_dex(unioned, tables["searcher_info"]))
    final = dedup_by_precedence(composed).orderBy("block_number", "mev_type").localCheckpoint()
    ledger.unpersist()
    return {"bundles": final, "mev_blocks": mev_block_header(final, gas, block_info)}
