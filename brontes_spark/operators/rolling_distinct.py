"""Sliding-window distinct counts — rolling DAU/WAU/MAU.

"Distinct users in the trailing W days, per day" is the canonical
engagement metric and a classic hard case: COUNT(DISTINCT) does not
decompose over sliding windows (a user seen twice in the window must
count once), so window functions can't express it and naive per-day
re-scans cost W full passes.

Relational shape that stays linear: collapse events to distinct
(key, day) FIRST (one hash aggregate — this bounds everything after by
active-key-days, not events), then explode each active (key, day) into
the W report days it remains visible for, and count DISTINCT key per
report day. The explode factor W applies to the COLLAPSED relation, so
corpus size enters only through the first aggregate; with daily
retention r the exploded relation is ~W·r·|keys|·days rows. Report days
clip to the observed [min_day, max_day] span (no phantom trailing days).

At 100 TB the W-explode of active-key-days is the honest cost; when W
grows past ~90 the HLL-merge formulation (sketch per (key-set, day),
merge W sketches per report day, operators/sketches.py) is the
approximate swap-in with W-independent shuffle. Both shapes documented;
this operator is the exact one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAY_NS = 86_400_000_000_000


def rolling_distinct(
    df: DataFrame,
    key_col: str,
    ts_ns_col: str,
    window_days: int,
    day_ns: int = DAY_NS,
) -> DataFrame:
    """(day, n_active) — distinct keys seen in [day − W + 1, day], for
    every day in the observed span (days with an empty trailing window
    report 0 via the span grid)."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.expr(
        f"({ts_ns_col} - pmod({ts_ns_col}, {day_ns})) div {day_ns}"
    )
    active = (
        df.select(F.col(key_col).alias("key"), day.alias("day"))
        .distinct()
    )
    span = active.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    visible = active.select(
        "key",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(window_days - 1)
            )
        ).alias("rday"),
    )
    counts = visible.groupBy("rday").agg(
        F.count_distinct("key").alias("n_active")
    )
    # clip to the observed span and fill silent days with 0: the grid is
    # the 1-row span dim exploded — never a calendar join
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("rday")
    )
    return (
        grid.join(counts, "rday", "left")
        .select(
            F.col("rday").alias("day"),
            F.coalesce(F.col("n_active"), F.lit(0)).cast("long").alias("n_active"),
        )
    )
