"""CUSUM change-point detection (Page 1954), closed-form and exact.

The tabular CUSUM is the standard sequential drift detector — the
reference's possible-MEV discovery (I14, mean+2sigma over searcher
activity) is the UNordered member of this screen family; CUSUM is its
ordered sibling, sensitive to small persistent shifts a level threshold
misses. Per key, against a target level mu0 with allowance k:

    up_t   = max(0, up_{t-1}   + (x_t - mu0 - k))     (upward drift)
    down_t = max(0, down_{t-1} + (mu0 - x_t - k))     (downward drift)

and an alarm fires when either statistic exceeds the decision interval h.

The recursion LOOKS like it demands a sequential fold (and the obvious
port is a per-key Python loop). It does not: with prefix sums
P_t = sum_{i<=t} d_i and P_0 = 0,

    max(0, S_{t-1} + d_t)  ==  P_t - min(0, min_{j<=t} P_j)

because max(0, .) restarts the sum exactly where the running prefix
reaches a new minimum. So the whole detector is ONE ordered window per
key: a running sum, then a running min OVER THAT SUM — Spark plans both
(plus the per-key summary aggregate) on a single sort/exchange, fully
whole-stage-codegen, no UDF, no loop. That closed form is what makes the
operator a 100 TB citizen: wall time is the cost of one key-partitioned
sort, identical to any other window analytic.

Exactness: x enters as integer (cents), mu0/k/h are integer parameters,
every statistic is an exact integer — the DuckDB twin runs the same two
windows and hash-matches digit-for-digit.

The classical variant RESETS the statistic to zero after each alarm;
that reset couples every row to the full alarm history and genuinely
sequentializes the scan (no prefix closed form exists). This operator is
the non-resetting form — alarm ROWS are all rows above h, and the
summary reports first-crossing time + time-above-threshold, which is
what a monitoring surface wants. A resetting variant would be an
applyInPandasWithState fold; deliberately not built until something
needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def cusum(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    x_col: str,
    target: int,
    allowance: int,
    threshold: int,
) -> DataFrame:
    """Row-level CUSUM statistics: input columns + (cusum_pos, cusum_neg, alarm).

    ``order_cols`` must make rows totally ordered per key (pass a tiebreak
    column — prefix sums under an ambiguous order are nondeterministic).
    ``x_col`` integer; ``target``/``allowance``/``threshold`` integers in the
    same unit. Statistics are exact bigints.
    """
    w = W.partitionBy(key_col).orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    x = F.col(x_col)
    stepped = df.withColumn(
        "_pp", F.sum(x - F.lit(target) - F.lit(allowance)).over(w)
    ).withColumn("_pn", F.sum(F.lit(target) - x - F.lit(allowance)).over(w))
    # running min of the prefix sum rides the SAME window spec -> same sort
    out = (
        stepped.withColumn(
            "cusum_pos", F.col("_pp") - F.least(F.lit(0), F.min("_pp").over(w))
        )
        .withColumn(
            "cusum_neg", F.col("_pn") - F.least(F.lit(0), F.min("_pn").over(w))
        )
        .withColumn(
            "alarm",
            (F.col("cusum_pos") > threshold) | (F.col("cusum_neg") > threshold),
        )
    )
    return out.drop("_pp", "_pn")


def cusum_summary(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    ts_col: str,
    x_col: str,
    target: int,
    allowance: int,
    threshold: int,
) -> DataFrame:
    """Per-key monitoring surface: (key, n, max_pos, max_neg, n_alarm_rows,
    first_alarm_ts) — one bounded row per key.

    The aggregate groups on the window's own partition key, so Catalyst
    reuses the window exchange (the twap.py exprId discipline: ``key_col``
    keeps its original attribute through the plan — one shuffle total).
    """
    rows = cusum(df, key_col, order_cols, x_col, target, allowance, threshold)
    return rows.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("cusum_pos").alias("max_pos"),
        F.max("cusum_neg").alias("max_neg"),
        F.sum(F.col("alarm").cast("long")).alias("n_alarm_rows"),
        F.min(F.when(F.col("alarm"), F.col(ts_col))).alias("first_alarm_ts"),
    )
