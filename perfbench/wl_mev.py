"""MEV block-range backfill: one range job as `cli.py run` runs it over a
landed range, `run_composer` then the sink writes. This file adds only
spans, timing and the reads of the outputs the checker compares with the
manifest.
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager

from brontes_spark import schemas as S
from brontes_spark.inspectors import composer as C
from brontes_spark.sources.sinks import searcher_stats, write_partitioned

import gen_mev as G
from arrowio import read_rows

#: blocks in one backfill range job
BACKFILL_BLOCKS = 22

#: the tables `run_composer` reads
TABLES = {"actions": S.ACTIONS_SCHEMA, **G.BLOCK_TABLES, "pools": S.POOLS_SCHEMA,
          "searcher_info": S.SEARCHER_INFO_SCHEMA}


def _read(spark, path, schema=None):
    r = spark.read
    return (r.schema(schema) if schema is not None else r).parquet(path)


def backfill_job(spark, inp: str, out: str, tracer) -> dict:
    """One range job. A traced run also lands every inspector's output
    inside its span and counts the bundles written."""
    shutil.rmtree(out, ignore_errors=True)
    m: dict = {}
    tables = {name: _read(spark, f"{inp}/{name}", schema) for name, schema in TABLES.items()}
    with tracer.span("inspectors.composer"), composer_spans(tracer, m):
        res = C.run_composer(tables)
        bundles, blocks = res["bundles"], res["mev_blocks"]
        if tracer.enabled:  # land the composer's work in its own span
            bundles = bundles.localCheckpoint()
            blocks = blocks.localCheckpoint()
    with tracer.span("sources.sinks"):
        write_partitioned(bundles, f"{out}/mev_bundles")
        write_partitioned(blocks, f"{out}/mev_blocks")
        searcher_stats(bundles).write.mode("overwrite").parquet(f"{out}/searcher_stats")
    if tracer.enabled:
        m["inspectors.bundles_out"] = _read(spark, f"{out}/mev_bundles").count()
    return m


#: composer-module names wrapped in spans during a traced composer call
_TRACED_CALLS = {
    "usd_deltas": "inspectors.accounting", "gas_usd": "inspectors.accounting",
    "sandwich_bundles": "inspectors.sandwich", "jit_bundles": "inspectors.jit",
    "liquidation_bundles": "inspectors.liquidations",
    "cex_dex_bundles": "inspectors.cex_dex", "cex_dex_quotes_bundles": "inspectors.cex_dex",
    "atomic_arb_bundles": "inspectors.atomic_arb",
}


@contextmanager
def composer_spans(tracer, m: dict):
    """For one traced `run_composer` call, put every inspector and accounting
    call it makes in its own span, landing its output there, and record the
    share of bundles the precedence dedup keeps."""
    if not tracer.enabled:
        yield
        return
    saved = {name: getattr(C, name) for name in (*_TRACED_CALLS, "dedup_by_precedence")}

    def wrap(fn, span):
        def call(*a, **k):
            with tracer.span(span):
                return fn(*a, **k).localCheckpoint()
        return call

    def dedup(composed):
        kept = saved["dedup_by_precedence"](composed).localCheckpoint()
        m["inspectors.dedup_kept_frac"] = kept.count() / max(composed.count(), 1)
        return kept

    try:
        for name, span in _TRACED_CALLS.items():
            setattr(C, name, wrap(saved[name], span))
        C.dedup_by_precedence = dedup
        yield
    finally:
        for name, fn in saved.items():
            setattr(C, name, fn)


def read_outputs(out: str) -> dict:
    """What the checker needs, read with pyarrow (no Spark job)."""
    blocks = read_rows(f"{out}/mev_blocks", ["block_number", "n_bundles"])
    stats = read_rows(f"{out}/searcher_stats", ["n_bundles"])
    return dict(
        bundles=read_rows(f"{out}/mev_bundles", ["block_number", "mev_type", "profit_usd"]),
        block_bundles={r["block_number"]: r["n_bundles"] for r in blocks},
        searcher_stats_bundles=sum(r["n_bundles"] or 0 for r in stats))
