"""Declarative data-quality checks — the dbt-tests / Deequ surface.

A constraint suite compiled to ONE relational plan per check, unioned
into a (check_name, n_violations) report: unique keys, not-null columns,
accepted value domains, referential integrity, and range bounds. The
point is operational: these run as a gate on every load, and a nonzero
row is a contract break (the reference's equivalent is its db
sanity-check pass before inspectors run).

Check shapes, all aggregate-only or anti-join:
  * unique(cols)        — groupBy(cols) HAVING count > 1, SUM(extra copies)
  * not_null(col)       — count of NULL rows
  * accepted(col, vals) — count outside the literal IN-list
  * foreign_key(child)  — left ANTI join against the parent key
  * in_range(col, lo,hi)— count outside [lo, hi]

Scale shape: each check is one scan + one aggregate (anti-join for FK,
broadcast when the parent is a dim); the union is check-count-sized.
Violation EXAMPLES are a debugging detail — `violations_sample` caps
them with a WindowGroupLimit so a fully-broken table cannot flood the
report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _named(name: str, n) -> DataFrame:
    return n.select(F.lit(name).alias("check_name"), F.col("n").cast("long").alias("n_violations"))


def check_unique(df: DataFrame, cols: list[str], name: str) -> DataFrame:
    dups = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n"))
    )
    return _named(name, dups)


def check_not_null(df: DataFrame, col: str, name: str) -> DataFrame:
    return _named(
        name, df.agg(F.count(F.lit(1)).alias("_t"), F.count(col).alias("_p"))
        .select((F.col("_t") - F.col("_p")).alias("n"))
    )


def check_accepted(df: DataFrame, col: str, values: list, name: str) -> DataFrame:
    bad = df.filter(
        ~F.col(col).isin(values) | F.col(col).isNull()
    ).agg(F.count(F.lit(1)).alias("n"))
    return _named(name, bad)


def check_foreign_key(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str, name: str
) -> DataFrame:
    orphans = child.join(
        parent.select(F.col(parent_col).alias(child_col)).distinct(),
        child_col,
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n"))
    return _named(name, orphans)


def check_in_range(df: DataFrame, col: str, lo, hi, name: str) -> DataFrame:
    bad = df.filter(
        F.col(col).isNull() | (F.col(col) < lo) | (F.col(col) > hi)
    ).agg(F.count(F.lit(1)).alias("n"))
    return _named(name, bad)


def run_checks(checks: list[DataFrame]) -> DataFrame:
    """Union the per-check reports into one (check_name, n_violations)."""
    if not checks:
        raise ValueError("run_checks needs at least one check")
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out
