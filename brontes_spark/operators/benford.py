"""Benford first-digit conformance screen — exact-integer audit stat.

Naturally-occurring multiplicative quantities (transaction amounts,
populations, trade sizes) follow Benford's law: the leading significant
digit d appears with probability log10(1 + 1/d). Fabricated or
mis-instrumented numbers usually don't — which makes the first-digit
histogram a standard forensic/data-quality screen over financial
columns (the reference's MEV accounting surfaces are exactly such
columns).

Determinism policy: the irrational log10 expectations enter as 1e9-scaled
INTEGER LITERALS (the spec of this operator, identical in both engines by
construction), and the per-digit chi-square contribution is computed in
exact wide-integer arithmetic:

    chi2_9(d) = floor( (1e9*obs_d - N*p9_d)^2 / (N*p9_d) )

i.e. 1e9 * (obs - N*p)^2/(N*p) with one positive-operand integer
division — digit-for-digit identical in decimal(38,0) and HUGEINT.
Envelope: 1e9*obs < 2^63 needs obs < 9.2e9 rows per digit; past that,
pre-scale obs to thousands (the statistic is scale-free).

First significant digit of an exact cents integer is taken from its
decimal string — a chain of codegen string ops, no doubles, no logs.
Scale: one column-pruned scan + a 9-row hash aggregate; the broadcast
9-row expectation dim joins for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC38 = "decimal(38,0)"

#: floor(1e9 * log10(1 + 1/d)), d = 1..9 — the operator's spec constants
BENFORD_P9 = {
    1: 301029995,
    2: 176091259,
    3: 124938736,
    4: 96910013,
    5: 79181246,
    6: 66946789,
    7: 57991946,
    8: 51152522,
    9: 45757490,
}


def first_digit(cents: Column) -> Column:
    """Leading decimal digit of a positive integer column (string head —
    exact, engine-portable)."""
    return F.substring(cents.cast("string"), 1, 1).cast("long")


def digit_counts(df: DataFrame, cents_col: str) -> DataFrame:
    """(digit, n_obs) over positive values — the data-sized half of the
    screen (counting is commutative/associative, so partial counts merge
    by sum)."""
    return (
        df.filter(F.col(cents_col) > 0)
        .select(first_digit(F.col(cents_col)).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )


def benford_report(obs: DataFrame) -> DataFrame:
    """(digit, n_obs, p9, chi2_9) from a (digit, n_obs) counts relation —
    the bounded 9-row tail of the screen."""
    p9_dim = F.broadcast(
        obs.sparkSession.createDataFrame(
            sorted(BENFORD_P9.items()), "digit long, p9 long"
        )
    )
    n_total = obs.agg(F.sum("n_obs").alias("n"))
    j = (
        p9_dim.join(obs, "digit", "left")
        .withColumn("n_obs", F.coalesce(F.col("n_obs"), F.lit(0)))
        .join(F.broadcast(n_total))
    )
    dev = (
        F.lit(1_000_000_000).cast(DEC38) * F.col("n_obs").cast(DEC38)
        - F.col("n").cast(DEC38) * F.col("p9").cast(DEC38)
    )
    return (
        j.withColumn("_dev", dev)
        .withColumn("chi2_9", F.expr("(_dev * _dev) div (n * p9)"))
        .select("digit", "n_obs", "p9", "chi2_9")
    )


def benford_screen(df: DataFrame, cents_col: str) -> DataFrame:
    """(digit, n_obs, p9, chi2_9) over positive values of ``cents_col``.

    Zero/negative/NULL values are excluded (Benford applies to positive
    magnitudes; audit those separately with a dq check). Digits absent
    from the data still appear with n_obs = 0 — a missing digit is the
    loudest possible Benford violation and must not vanish from the
    report.
    """
    return benford_report(digit_counts(df, cents_col))
