"""Named query-plan registry: every implemented operator from SURVEY.md §2
registers (a) a Spark plan builder and (b) a DuckDB oracle SQL twin. The
driver contract (__spark_entry__.py) and the pytest parity harness both
consume this registry, so a query is "done" exactly when it is registered
and hash-matches its oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB over the same parquet views
    survey_ref: str     # SURVEY.md §2 operator ids + reference file:line


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, survey_ref: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, build=fn, oracle=oracle, survey_ref=survey_ref)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered gate's plan builder, in registration order."""
    return {name: spec.build for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every gate that has one, in registration order."""
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


#: shared oracle prelude: events with epoch-ns bigint timestamps, matching
#: the Spark side's nanosAsLong read (sources/testdata.py).
EV_CTE = (
    "ev AS (SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type, value, props "
    "FROM events)"
)
