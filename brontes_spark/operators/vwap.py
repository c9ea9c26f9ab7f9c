"""Expanding-window VWAP — reference operator X4 (SURVEY.md §2.5), the
markout pricing core of the CEX-DEX inspector
(`crates/brontes-database/.../db/cex/trades/time_window_vwam.rs:94-520`).

Reference semantics: around an anchor timestamp, grow an asymmetric window in
(pre_step, post_step) increments until accumulated trade volume covers the
required volume, then VWAP the trades inside the final window.

Spark-first reformulation (no iteration — SURVEY.md §4 item 2): a bounded
range join pulls all candidate ticks inside the *maximum* window once; each
tick gets its "step" = the smallest window expansion that would include it
and is summed per (anchor, step), so at most 2·max_steps rows per anchor
reach the window; running sums over an anchor's steps then give the cutoff
step (first step whose cumulative volume covers the requirement) and the
window's sums in the same row. The plan runs the range join, the per-step
aggregate, one window and one per-anchor aggregate once each — wall-clock
bounded by the max window, independent of how many expansion steps occur.

All volumes/prices are exact decimals → deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.decimals import dec9, to_dbl


def expanding_vwap(
    anchors: DataFrame,   # anchor_id, key, anchor_ts, required_vol (decimal)
    ticks: DataFrame,     # key, tick_ts, price (decimal), vol (decimal), tick_id
    pre_step: int,
    post_step: int,
    max_steps: int,
    pre_decay: float | None = None,
    post_decay: float | None = None,
    weight_scale: int = 8,
) -> DataFrame:
    """Returns anchor_id, cutoff_step, vwap (double), covered_vol (double).

    Anchors whose max window never covers required_vol are dropped (the
    reference returns None for them — `time_window_vwam.rs` walker exhaustion).

    ``pre_decay``/``post_decay`` enable the reference's optional exponential
    time-decay weighting (`db/cex/trades/config.rs:26-48`
    use_block_time_weights_vwap, applied per trade in
    `db/cex/trades/utils.rs:485-499`): weight = exp(pre_decay·(anchor−tick))
    for ticks at-or-before the anchor, exp(post_decay·(tick−anchor)) after
    (both decays negative, in 1/timestamp-unit). As in the reference the
    window-expansion cutoff still uses UNWEIGHTED volume coverage
    (`time_window_vwam.rs` keeps trade_volume and trade_volume_weight as
    separate accumulators); only the vwap numerator/denominator are weighted.

    Determinism: the double exp() is quantized to an exact DECIMAL(9,6)
    (the dec9 pattern — both engines round the same double identically), and
    all weighted sums stay in exact decimals so partial-aggregation order
    cannot perturb the result. ``weight_scale`` bounds the true decimal
    content of price·vol·weight (= price·vol content + 6); the final
    scale-normalization to DECIMAL(38,weight_scale) is exact only when that
    holds — pass a larger scale for inputs with more than
    ``weight_scale − 6`` decimal places of price·vol content.
    """
    j = anchors.join(ticks, on="key").filter(
        (F.col("tick_ts") >= F.col("anchor_ts") - F.lit(pre_step * max_steps))
        & (F.col("tick_ts") <= F.col("anchor_ts") + F.lit(post_step * max_steps))
    )
    step = F.when(
        F.col("tick_ts") <= F.col("anchor_ts"),
        F.ceil((F.col("anchor_ts") - F.col("tick_ts")).cast("double") / F.lit(float(pre_step))),
    ).otherwise(
        F.ceil((F.col("tick_ts") - F.col("anchor_ts")).cast("double") / F.lit(float(post_step)))
    )
    j = j.withColumn("step", F.greatest(F.lit(1), step).cast("int"))

    weighted = pre_decay is not None and post_decay is not None
    aggs = [
        F.sum("vol").alias("svol"),
        F.sum(F.col("price") * F.col("vol")).alias("spv"),
    ]
    if weighted:
        w = dec9(
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
        # price·vol re-cast to (18,6) is exact for ≤6dp content (module
        # policy: money inputs are low-scale); ×DECIMAL(9,6) stays within
        # precision 38, so no mid-plan rounding anywhere.
        pv6 = (F.col("price") * F.col("vol")).cast("decimal(18,6)")
        j = j.withColumn("wvol", F.col("vol") * w).withColumn("wpv", pv6 * w)
        aggs += [F.sum("wvol").alias("swvol"), F.sum("wpv").alias("swpv")]

    per_step = j.groupBy("anchor_id", "required_vol", "step").agg(*aggs)
    sums = ["svol", "spv"] + (["swvol", "swpv"] if weighted else [])
    w = W.partitionBy("anchor_id").orderBy("step")
    # the smallest covering step carries the cutoff window's running sums;
    # the frame is RANGE, so rows of a repeated anchor id sharing a step
    # carry the same sums
    cutoff = (
        per_step.select(
            "anchor_id", "required_vol", "step", *[F.sum(c).over(w).alias(c) for c in sums]
        )
        .filter(F.col("svol") >= F.col("required_vol"))
        .groupBy("anchor_id")
        .agg(F.min(F.struct("step", *sums)).alias("c"))
    )
    # scale-6 normalization before double (see functions/decimals.to_dbl):
    # price*vol carries <= 6dp of true content, so this is exact and keeps
    # the unscaled value below 2^53 → engine-identical doubles.
    if weighted:
        vwap = to_dbl("c.swpv", weight_scale) / to_dbl("c.swvol", weight_scale)
    else:
        vwap = to_dbl("c.spv") / to_dbl("c.svol")
    return cutoff.select(
        "anchor_id",
        F.col("c.step").alias("cutoff_step"),
        vwap.alias("vwap"),
        to_dbl("c.svol").alias("covered_vol"),
    )
