from .registry import REGISTRY, QuerySpec, queries, oracle_sql
from . import (  # noqa: F401  (registration side effects)
    cex_fixture,
    classify_fixture,
    corpus,
    llm_data,
    mev_fixture,
    ml_eval,
    multimodal_fixture,
    relational,
    timeseries,
    univ3_fixture,
    wave9,
    wave10,
    wave11,
)

__all__ = ["REGISTRY", "QuerySpec", "queries", "oracle_sql"]
