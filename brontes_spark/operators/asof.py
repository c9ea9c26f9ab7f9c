"""As-of join — the workhorse behind the reference's price lookups:
`DexQuotes::price_at_or_before` (`crates/brontes-types/src/db/dex.rs:154-170`)
and CEX `get_quote_at` (`db/cex/quotes/cex_quotes.rs:124+`); SURVEY.md §4
item 1.

Spark has no native as-of join. This is the one-shuffle union trick:

  union(left tagged, right tagged)
  → window last/first(right_payload) ignore nulls
      over (partition by keys order by time, tag, tiebreak)

Every left row picks up the most recent right payload at-or-before
(direction='backward'), the earliest at-or-after ('forward'), or the
closer of the two ('nearest', backward wins exact ties) — pandas
merge_asof's full direction surface, plus its `tolerance` (maximum time
distance; a match farther than that is discarded).

Scale: a single shuffle on the join keys for every direction ('nearest'
adds a second sort over the SAME partitioning, not a second exchange);
no range explosion, no driver-side loop; skewed keys are handled by AQE.
Tie semantics: right rows at the exact left timestamp ARE visible in
every direction; among equal-time right rows the greatest tiebreak wins —
identical to
  row_number() over (partition by left order by |Δt|, r.tiebreak desc) = 1.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    tiebreak: str | None = None,
    payload_prefix: str = "r_",
    how: str = "inner",
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """For each left row: the right row nearest in time on the requested
    side(s). Returns left columns + right payload columns renamed
    `{payload_prefix}{col}`. ``how='left'`` keeps unmatched left rows with
    null payload; ``tolerance`` (same units as the time columns) voids
    matches farther than that distance.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: unknown direction={direction!r} "
            "(use 'backward', 'forward' or 'nearest')"
        )
    if how not in ("inner", "left"):
        raise ValueError(f"asof_join: unknown how={how!r} (use 'inner' or 'left')")
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"asof_join: tolerance must be >= 0, got {tolerance}")
    on = list(on)
    r_payload = [c for c in right.columns if c not in on]
    tagged_r = right.select(
        *on,
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__tag"),
        F.struct(*[F.col(c) for c in r_payload]).alias("__payload"),
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    tagged_l = left.select(
        *on,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(tagged_r.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    if tiebreak is not None:
        tagged_r = tagged_r.withColumn("__tb", F.col(f"__payload.{tiebreak}"))
        tagged_l = tagged_l.withColumn(
            "__tb", F.lit(None).cast(dict(tagged_r.dtypes)["__tb"])
        )
    unioned = tagged_l.unionByName(tagged_r, allowMissingColumns=False)

    def back_cols(df):
        """(payload, matched right time) at-or-before, greatest tiebreak
        last in sort order so `last()` picks it."""
        order = [F.col("__t"), F.col("__tag")]
        if tiebreak is not None:
            order.append(F.col("__tb").asc_nulls_last())
        w = (
            W.partitionBy(*on)
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        rt = F.when(F.col("__tag") == 0, F.col("__t"))
        return (
            F.last("__payload", ignorenulls=True).over(w),
            F.last(rt, ignorenulls=True).over(w),
        )

    def fwd_cols(df):
        """(payload, matched right time) at-or-after: lefts sort BEFORE
        rights at equal time (tag desc) so the current-row-anchored
        following frame sees them; greatest tiebreak first for first()."""
        order = [F.col("__t"), F.col("__tag").desc()]
        if tiebreak is not None:
            order.append(F.col("__tb").desc_nulls_last())
        w = (
            W.partitionBy(*on)
            .orderBy(*order)
            .rowsBetween(0, W.unboundedFollowing)
        )
        rt = F.when(F.col("__tag") == 0, F.col("__t"))
        return (
            F.first("__payload", ignorenulls=True).over(w),
            F.first(rt, ignorenulls=True).over(w),
        )

    if direction in ("backward", "forward"):
        back = direction == "backward"
        pay, rt = (back_cols if back else fwd_cols)(unioned)
        # the matched-time column exists only when something reads it, and
        # rides the same projection, so both share one Window operator
        rts = [rt.alias("__rt")] if tolerance is not None else []
        matched = unioned.select("*", pay.alias("__match"), *rts)
        t, r = F.col("__t"), F.col("__rt")
        dist = t - r if back else r - t
    else:  # nearest
        bpay, brt = back_cols(unioned)
        fpay, frt = fwd_cols(unioned)
        stepped = (
            unioned.withColumn("__bp", bpay)
            .withColumn("__brt", brt)
            .withColumn("__fp", fpay)
            .withColumn("__frt", frt)
        )
        b_dist = F.col("__t") - F.col("__brt")
        f_dist = F.col("__frt") - F.col("__t")
        if tolerance is not None:
            b_ok = F.col("__brt").isNotNull() & (b_dist <= tolerance)
            f_ok = F.col("__frt").isNotNull() & (f_dist <= tolerance)
        else:
            b_ok = F.col("__brt").isNotNull()
            f_ok = F.col("__frt").isNotNull()
        use_back = b_ok & (~f_ok | (b_dist <= f_dist))
        matched = stepped.select(
            *[c for c in stepped.columns if c not in ("__bp", "__brt", "__fp", "__frt")],
            F.when(use_back, F.col("__bp"))
            .when(f_ok, F.col("__fp"))
            .alias("__match"),
            F.when(use_back, F.col("__brt"))
            .when(f_ok, F.col("__frt"))
            .alias("__rt"),
        )
        dist = None  # tolerance already folded into the pick
    if direction != "nearest" and tolerance is not None:
        matched = matched.withColumn(
            "__match",
            F.when(
                F.col("__rt").isNotNull() & (dist <= tolerance), F.col("__match")
            ),
        )
    matched = matched.filter(F.col("__tag") == 1)
    if how == "inner":
        # test the struct itself, not its first field — a matched right row
        # whose first payload column is legitimately NULL must survive
        matched = matched.filter(F.col("__match").isNotNull())
    return matched.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col(f"__match.{c}").alias(f"{payload_prefix}{c}") for c in r_payload],
    )


def point_in_time_join(
    facts: DataFrame,
    versions: DataFrame,
    on: Sequence[str],
    fact_time: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
    payload_prefix: str = "dim_",
) -> DataFrame:
    """PIT-correct dimension lookup: each fact row gets the SCD2 version
    whose [valid_from, valid_to) interval covers fact_time — the feature-
    store primitive that keeps training data leakage-free (a fact must
    never see a dimension version created after it).

    Implementation is the backward as-of join on valid_from (one shuffle
    on the keys, no interval explosion) plus the validity guard
    fact_time < valid_to: for a CONTIGUOUS SCD2 history (o10-style,
    lead()-chained intervals) the guard is provably redundant — the
    latest version at-or-before the fact IS the covering one — but
    histories with coverage gaps (purged versions, late onboarding) must
    not silently match a stale version, so the guard stays. 'inner'
    drops facts outside coverage; 'left' keeps them with NULL payload
    (the guard nulls every payload column, not just valid_to).
    """
    out = asof_join(
        facts,
        versions,
        on,
        fact_time,
        valid_from,
        payload_prefix=payload_prefix,
        how=how,
        direction="backward",
    )
    vt = F.col(f"{payload_prefix}{valid_to}")
    covered = vt.isNull() | (F.col(fact_time) < vt)
    if how == "inner":
        return out.filter(covered)
    # materialize the guard BEFORE masking: masking valid_to first would
    # null the very column later masks test against. The mask set is
    # derived from the VERSIONS frame's payload columns (the known
    # r_payload = versions minus keys), never from a prefix scan of
    # out.columns — a fact column whose name happens to start with
    # payload_prefix must not be nulled for uncovered rows
    payload_cols = [
        f"{payload_prefix}{c}" for c in versions.columns if c not in list(on)
    ]
    masked = out.withColumn("__covered", covered)
    for c in payload_cols:
        masked = masked.withColumn(c, F.when(F.col("__covered"), F.col(c)))
    return masked.drop("__covered")
