"""CEX quote/trade pricing operators — SURVEY.md §2.5:

  X1  quote_at        — nearest quote at-or-before ts within max_time_diff
                        (db/cex/quotes/cex_quotes.rs:124+ get_quote_at)
  X2  most_liquid_quote — try exchanges in liquidity-rank order, first hit
                        wins (cex_quotes.rs:103-123)
  X3  fee_adjusted    — maker/taker fee application (cex_quotes.rs:684-695)
  X5  intermediary_price — leg-multiplied pricing through an intermediary
                        (time_window_vwam.rs:168-300)
  X6  optimistic_vwap — cheapest-trades-first idealized execution
                        (db/cex/trades/optimistic.rs:41-398)

All are single-shuffle join/window plans over the quote/trade fact tables;
X1 reuses the as-of kernel (operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.decimals import to_dbl

from .asof import asof_join


def quote_at(
    targets: DataFrame,   # (target_id, base_token, quote_token, ts)
    quotes: DataFrame,    # CEX_QUOTES_SCHEMA
    exchange: str,
    max_time_diff_us: int = 1_000_000,
) -> DataFrame:
    """X1: latest quote at-or-before each target ts, else null; matches
    beyond `max_time_diff_us` are discarded like the reference's staleness
    guard."""
    q = quotes.filter(F.col("exchange") == exchange).select(
        "base_token", "quote_token",
        F.col("timestamp").alias("q_ts"),
        F.col("ask_price"), F.col("bid_price"),
    )
    j = asof_join(
        targets, q,
        on=["base_token", "quote_token"],
        left_time="ts", right_time="q_ts",
        tiebreak="q_ts", payload_prefix="",
        how="left", tolerance=max_time_diff_us,
    )
    return j.select(
        *targets.columns,
        "ask_price",
        "bid_price",
        ((F.col("ask_price") + F.col("bid_price")) / 2).alias("mid_price"),
    )


def most_liquid_quote(
    targets: DataFrame,
    quotes: DataFrame,
    exchange_rank: DataFrame,  # (base_token, quote_token, exchange, rank)
    max_time_diff_us: int = 1_000_000,
) -> DataFrame:
    """X2: per target, the quote from the best-ranked exchange that has a
    fresh quote (first-non-null in rank order → min_by over successes)."""
    # `exchange` stays in the output: the winner's identity feeds X3
    # fee adjustment downstream (per-exchange maker/taker fees), and it is
    # the final window tiebreak — (rank, q_ts) alone is not a total order
    # when two exchanges share a rank or print at the same microsecond,
    # which would make the winner partition-order nondeterministic.
    q = quotes.join(exchange_rank, ["base_token", "quote_token", "exchange"]).select(
        "base_token", "quote_token", "exchange", "rank",
        F.col("timestamp").alias("q_ts"), "ask_price", "bid_price",
    )
    pairs = targets.join(q, ["base_token", "quote_token"]).filter(
        (F.col("q_ts") <= F.col("ts"))
        & (F.col("ts") - F.col("q_ts") <= max_time_diff_us)
    )
    w = W.partitionBy("target_id").orderBy(
        F.col("rank").asc(), F.col("q_ts").desc(), F.col("exchange").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fee_adjusted(quoted: DataFrame, fees: DataFrame) -> DataFrame:
    """X3: FeeAdjustedQuote — price_maker/price_taker from the exchange fee
    dim (per-exchange maker/taker bps, db/cex/exchanges.rs)."""
    out = quoted.join(F.broadcast(fees), "exchange", "left")
    one = F.lit(1).cast("decimal(18,9)")
    return out.withColumn(
        "price_maker", (F.col("mid_price") * (one - F.col("maker_fee"))).cast("decimal(38,18)")
    ).withColumn(
        "price_taker", (F.col("mid_price") * (one - F.col("taker_fee"))).cast("decimal(38,18)")
    )


def intermediary_price(leg_prices: DataFrame) -> DataFrame:
    """X5: for pairs (A,B) with no direct market, combine (A,X) and (X,B)
    legs: price(A,B) = price(A,X) * price(X,B), for every shared
    intermediary X; the best (max-liquidity or min-spread) combination is a
    downstream keep_largest."""
    a = leg_prices.select(
        F.col("base_token").alias("from_token"),
        F.col("quote_token").alias("mid_token"),
        F.col("price").alias("p0"),
    )
    b = leg_prices.select(
        F.col("base_token").alias("mid_token"),
        F.col("quote_token").alias("to_token"),
        F.col("price").alias("p1"),
    )
    return (
        a.join(b, "mid_token")
        .filter(F.col("from_token") != F.col("to_token"))
        .select(
            "from_token", "to_token", "mid_token",
            (F.col("p0") * F.col("p1")).cast("decimal(38,18)").alias("price"),
        )
    )


def optimistic_vwap(
    anchors: DataFrame,   # anchor_id, key, anchor_ts, required_vol
    ticks: DataFrame,     # key, tick_ts, price, vol, tick_id
    window_us: int,
    pre_decay: float | None = None,
    post_decay: float | None = None,
    weight_scale: int = 8,
) -> DataFrame:
    """X6: within ±window, take the CHEAPEST trades first until volume is
    covered — the idealized best-execution price. One range join + one
    price-ordered cumulative window, no iteration.

    ``pre_decay``/``post_decay`` mirror the reference's
    use_block_time_weights_optimistic knob (db/cex/trades/config.rs:26-48,
    weight applied per selected trade in optimistic.rs:292-342): basket
    SELECTION stays cheapest-first on unweighted volume, but the final
    price becomes exp-decay weighted — Σ(p·v·w)/Σ(v·w) over the taken set.
    Determinism identical to expanding_vwap's weighted path: dec9-quantized
    weights, exact decimal sums, doubles only at the division.
    """
    from ..functions.decimals import dec9

    j = anchors.join(ticks, "key").filter(
        (F.col("tick_ts") >= F.col("anchor_ts") - window_us)
        & (F.col("tick_ts") <= F.col("anchor_ts") + window_us)
    )
    w = W.partitionBy("anchor_id").orderBy(F.col("price").asc(), F.col("tick_id").asc())
    cum = j.withColumn("cum_vol", F.sum("vol").over(w))
    taken = cum.filter(F.col("cum_vol") - F.col("vol") < F.col("required_vol"))
    weighted = pre_decay is not None and post_decay is not None
    if weighted:
        wq = dec9(
            F.exp(
                F.when(
                    F.col("tick_ts") <= F.col("anchor_ts"),
                    F.lit(pre_decay)
                    * (F.col("anchor_ts") - F.col("tick_ts")).cast("double"),
                ).otherwise(
                    F.lit(post_decay)
                    * (F.col("tick_ts") - F.col("anchor_ts")).cast("double")
                )
            )
        )
        pv6 = (F.col("price") * F.col("vol")).cast("decimal(18,6)")
        taken = taken.withColumn("wvol", F.col("vol") * wq).withColumn("wpv", pv6 * wq)
        price = to_dbl(F.sum("wpv"), weight_scale) / to_dbl(F.sum("wvol"), weight_scale)
    else:
        price = to_dbl(F.sum(F.col("price") * F.col("vol"))) / to_dbl(F.sum("vol"))
    return (
        taken.groupBy("anchor_id", "required_vol")
        .agg(
            F.max("cum_vol").alias("covered"),
            price.alias("optimistic_price"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .filter(F.col("covered") >= F.col("required_vol"))
        .drop("covered")
    )
