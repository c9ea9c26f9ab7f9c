"""Command-line surface mirroring the reference binary (SURVEY.md §3).

The reference ships one binary with two families of entry points:

  * ``brontes run``  — historical block-range analysis, or tip-following
    streaming when no end block is given (``bin/src/cli/run.rs:108-220``,
    ``bin/src/executors/tip.rs:23-155``). Here ``run`` is range analysis
    only: without ``--end-block`` it analyzes up to the last landed block;
    tip mode is not implemented.
  * ``brontes db``   — ``init`` / ``query`` / ``export`` / ``table-stats`` /
    ``clear`` ad-hoc table tooling (``bin/src/cli/db/mod.rs``,
    ``db/db_query.rs:12-60``).

Spark-first mapping: every subcommand is a thin argparse wrapper over the
library (composer, sinks, sources) — the CLI contains no logic of its own, so
everything it does is equally available to a notebook or spark-submit job.
``db query``'s entire ad-hoc surface (table + key range → rows) collapses to a
parquet scan with a pushed-down range predicate; ``init`` is the landing job
that materializes input tables (on the fixture set here — a real deployment
points --tables-dir at its own landed data).

Usage (installed as ``python -m brontes_spark.cli``):

    python -m brontes_spark.cli db init --tables-dir /tmp/brontes
    python -m brontes_spark.cli run --tables-dir /tmp/brontes \
        --start-block 100 --end-block 200 --out /tmp/brontes/out
    python -m brontes_spark.cli db query --tables-dir /tmp/brontes \
        --table actions --range 100:200 --limit 20
    python -m brontes_spark.cli db export --tables-dir /tmp/brontes \
        --table actions --out /tmp/actions_export
    python -m brontes_spark.cli db table-stats --tables-dir /tmp/brontes
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: tables `db init` materializes and `run` consumes — the Spark analogs of the
#: reference's libmdbx input tables (SURVEY.md §1.4).
INPUT_TABLES = [
    "actions",
    "tx_info",
    "dex_prices",
    "cex_trades",
    "cex_quotes",
    "block_info",
    "pools",
    "searcher_info",
    "univ3_events",
    "univ3_initial",
]

#: range-keyed column per table for `db query` (db_query.rs keys every table
#: by its primary key range; ours are all block-keyed except the CEX feeds).
RANGE_KEY = {
    "actions": "block_number",
    "tx_info": "block_number",
    "dex_prices": "block_number",
    "block_info": "block_number",
    "univ3_events": "block_number",
    # dims: pools/univ3_initial carry state from before the range (the
    # reference likewise loads pre-range pool state, lazy.rs) — `db query`
    # can still range them on init_block; `run` never filters them.
    "pools": "init_block",
    "univ3_initial": None,
    "searcher_info": None,  # address-keyed, no range pruning
    "cex_trades": "timestamp",  # µs
    "cex_quotes": "timestamp",
}

#: fact tables `run` restricts to [start, end) — dims are left whole.
RUN_RANGE_TABLES = ["actions", "tx_info", "dex_prices", "block_info", "univ3_events"]


def _spark(args: argparse.Namespace) -> SparkSession:
    from .session import get_spark

    return get_spark("brontes-spark-cli", cpus=getattr(args, "cpus", None))


def _table_path(tables_dir: str, name: str) -> str:
    return os.path.join(tables_dir, f"{name}.parquet")


def _read_tables(spark: SparkSession, tables_dir: str) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in INPUT_TABLES:
        path = _table_path(tables_dir, name)
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def cmd_db_init(args: argparse.Namespace) -> int:
    """Landing job: materialize the input tables (db/init.rs analog)."""
    spark = _spark(args)
    from .sources.fixtures import load_fixtures

    os.makedirs(args.tables_dir, exist_ok=True)
    for name, df in load_fixtures(spark).items():
        df.write.mode("overwrite").option("compression", "zstd").parquet(
            _table_path(args.tables_dir, name)
        )
        print(f"init {name}", file=sys.stderr)
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    """Historical range analysis (run.rs): filter inputs to [start, end),
    run the full inspector/composer pipeline, write results + searcher stats.
    With no --end-block the reference switches to tip mode; here the run
    analyzes every landed block from --start-block on and exits. Tip mode
    is not implemented."""
    spark = _spark(args)
    from .inspectors.composer import run_composer
    from .sources.sinks import searcher_stats, write_partitioned

    tables = _read_tables(spark, args.tables_dir)
    missing = [t for t in INPUT_TABLES if t not in tables]
    if missing:
        print(f"missing input tables under {args.tables_dir}: {missing}", file=sys.stderr)
        return 2
    lo, hi = args.start_block, args.end_block
    for name in RUN_RANGE_TABLES:
        if name in tables:
            df = tables[name]
            if lo is not None:
                df = df.filter(F.col("block_number") >= lo)
            if hi is not None:
                df = df.filter(F.col("block_number") < hi)
            tables[name] = df
    results = run_composer(tables)
    bundles = results["bundles"]
    os.makedirs(args.out, exist_ok=True)
    write_partitioned(bundles, os.path.join(args.out, "mev_bundles"))
    write_partitioned(results["mev_blocks"], os.path.join(args.out, "mev_blocks"))
    stats = searcher_stats(bundles)
    stats.write.mode("overwrite").option("compression", "zstd").parquet(
        os.path.join(args.out, "searcher_stats")
    )
    n = bundles.count()
    print(f"wrote {n} bundles to {args.out}", file=sys.stderr)
    return 0


def _parse_range(spec: str | None) -> tuple[int | None, int | None]:
    if not spec:
        return None, None
    lo, _, hi = spec.partition(":")
    return (int(lo) if lo else None, int(hi) if hi else None)


def cmd_db_query(args: argparse.Namespace) -> int:
    """Ad-hoc key-range query (db_query.rs:12-60). --sql gives the full SQL
    surface the reference never had: every landed table is registered as a
    temp view first."""
    spark = _spark(args)
    if args.sql:
        for name in INPUT_TABLES:
            path = _table_path(args.tables_dir, name)
            if os.path.exists(path):
                spark.read.parquet(path).createOrReplaceTempView(name)
        spark.sql(args.sql).show(args.limit, truncate=False)
        return 0
    path = _table_path(args.tables_dir, args.table)
    if not os.path.exists(path):
        print(f"no such table: {args.table}", file=sys.stderr)
        return 2
    df = spark.read.parquet(path)
    key = RANGE_KEY.get(args.table)
    lo, hi = _parse_range(args.range)
    if key and lo is not None:
        df = df.filter(F.col(key) >= lo)
    if key and hi is not None:
        df = df.filter(F.col(key) < hi)
    df.show(args.limit, truncate=False)
    return 0


def cmd_db_export(args: argparse.Namespace) -> int:
    """S8 parquet exporter (brontes-db/src/parquet/mod.rs:40+)."""
    spark = _spark(args)
    from .sources.sinks import write_partitioned

    path = _table_path(args.tables_dir, args.table)
    if not os.path.exists(path):
        print(f"no such table: {args.table}", file=sys.stderr)
        return 2
    df = spark.read.parquet(path)
    key = RANGE_KEY.get(args.table)
    lo, hi = _parse_range(args.range)
    if key and lo is not None:
        df = df.filter(F.col(key) >= lo)
    if key and hi is not None:
        df = df.filter(F.col(key) < hi)
    if key == "block_number":
        write_partitioned(df, args.out)
    else:
        df.write.mode("overwrite").option("compression", "zstd").parquet(args.out)
    return 0


def cmd_db_table_stats(args: argparse.Namespace) -> int:
    """table-stats: row count + on-disk bytes per landed table."""
    spark = _spark(args)
    for name in INPUT_TABLES:
        path = _table_path(args.tables_dir, name)
        if not os.path.exists(path):
            continue
        rows = spark.read.parquet(path).count()
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
        )
        print(f"{name}\trows={rows}\tbytes={size}")
    return 0


def cmd_db_insert(args: argparse.Namespace) -> int:
    """insert: append rows from a parquet file/dir into a landed table
    (cli/db insert analog). The source must match the table's schema
    exactly — unionByName refuses silent column drift."""
    spark = _spark(args)
    path = _table_path(args.tables_dir, args.table)
    src = spark.read.parquet(args.source)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        def sig(df):  # name AND type — appending type-drifted files corrupts the table
            return sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        if sig(existing) != sig(src):
            print(
                f"schema mismatch: table has {sig(existing)}, "
                f"source has {sig(src)}",
                file=sys.stderr,
            )
            return 2
    src.write.mode("append").option("compression", "zstd").parquet(path)
    print(f"inserted {src.count()} rows into {args.table}", file=sys.stderr)
    return 0


def cmd_db_snapshot(args: argparse.Namespace) -> int:
    """snapshot: copy the whole tables dir (the reference publishes full-db
    snapshots; here a snapshot is just the parquet tree)."""
    src = os.path.realpath(args.tables_dir)
    dst = os.path.realpath(args.out)
    if dst == src or dst.startswith(src + os.sep):
        print("snapshot target must be outside --tables-dir", file=sys.stderr)
        return 2
    if os.path.exists(dst):
        print(f"snapshot target already exists: {dst}", file=sys.stderr)
        return 2
    shutil.copytree(src, dst, dirs_exist_ok=False)
    print(f"snapshot written to {dst}", file=sys.stderr)
    return 0


def cmd_db_clear(args: argparse.Namespace) -> int:
    """clear: drop a landed table (refuses anything outside --tables-dir)."""
    path = _table_path(args.tables_dir, args.table)
    real = os.path.realpath(path)
    if not real.startswith(os.path.realpath(args.tables_dir) + os.sep):
        print("refusing to clear outside --tables-dir", file=sys.stderr)
        return 2
    if os.path.exists(real):
        shutil.rmtree(real)
        print(f"cleared {args.table}", file=sys.stderr)
    return 0


def _all_queries() -> dict:
    """Every registry gate's plan builder, by name."""
    from .plans import REGISTRY

    return {n: s.build for n, s in REGISTRY.items()}


def cmd_corpus_list(args: argparse.Namespace) -> int:
    """corpus list: every runnable query/operator name."""
    for n in sorted(_all_queries()):
        print(n)
    return 0


def cmd_corpus_run(args: argparse.Namespace) -> int:
    """corpus run: execute any registry query over an sf dir —
    the LLM-data-pipeline face of the CLI (dedup, sketches, sampling,
    quality scoring, ANN, gap fill ... all the `queries()` surface)."""
    qs = _all_queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; `corpus list` shows all",
              file=sys.stderr)
        return 2
    spark = _spark(args)
    df = qs[args.query](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}", file=sys.stderr)
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_corpus_explain(args: argparse.Namespace) -> int:
    """corpus explain: a query's physical plan + shape features — the
    CLI face of the PLAN_SHAPES.json regression pin (the same counters
    scripts/plan_snapshot.py snapshots)."""
    qs = _all_queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; `corpus list` shows all",
              file=sys.stderr)
        return 2
    spark = _spark(args)
    df = qs[args.query](spark, args.sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), args.mode
    )
    print(plan)
    import importlib.util as _ilu
    import os as _os

    spec = _ilu.spec_from_file_location(
        "plan_snapshot",
        _os.path.join(_os.path.dirname(_os.path.dirname(
            _os.path.abspath(__file__))), "scripts", "plan_snapshot.py"),
    )
    mod = _ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    print("shape:", mod.shape_of(df), file=sys.stderr)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="brontes-spark")
    p.add_argument("--cpus", default=None, help="local[N] cores (default: all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="historical range analysis (run.rs)")
    run.add_argument("--tables-dir", required=True)
    run.add_argument("--start-block", type=int, default=None)
    run.add_argument("--end-block", type=int, default=None)
    run.add_argument("--out", required=True)
    run.set_defaults(fn=cmd_run)

    db = sub.add_parser("db", help="table tooling (cli/db/mod.rs)")
    dbsub = db.add_subparsers(dest="dbcmd", required=True)

    init = dbsub.add_parser("init")
    init.add_argument("--tables-dir", required=True)
    init.set_defaults(fn=cmd_db_init)

    q = dbsub.add_parser("query")
    q.add_argument("--tables-dir", required=True)
    q.add_argument("--table", default=None)
    q.add_argument("--range", default=None, help="lo:hi on the table's range key")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--sql", default=None, help="arbitrary SQL over all landed tables")
    q.set_defaults(fn=cmd_db_query)

    ex = dbsub.add_parser("export")
    ex.add_argument("--tables-dir", required=True)
    ex.add_argument("--table", required=True)
    ex.add_argument("--range", default=None)
    ex.add_argument("--out", required=True)
    ex.set_defaults(fn=cmd_db_export)

    st = dbsub.add_parser("table-stats")
    st.add_argument("--tables-dir", required=True)
    st.set_defaults(fn=cmd_db_table_stats)

    ins = dbsub.add_parser("insert")
    ins.add_argument("--tables-dir", required=True)
    ins.add_argument("--table", required=True)
    ins.add_argument("--source", required=True, help="parquet file/dir to append")
    ins.set_defaults(fn=cmd_db_insert)

    sn = dbsub.add_parser("snapshot")
    sn.add_argument("--tables-dir", required=True)
    sn.add_argument("--out", required=True)
    sn.set_defaults(fn=cmd_db_snapshot)

    cl = dbsub.add_parser("clear")
    cl.add_argument("--tables-dir", required=True)
    cl.add_argument("--table", required=True)
    cl.set_defaults(fn=cmd_db_clear)

    corpus = sub.add_parser(
        "corpus", help="run any registry query over an sf dir"
    )
    csub = corpus.add_subparsers(dest="corpuscmd", required=True)
    cls_ = csub.add_parser("list")
    cls_.set_defaults(fn=cmd_corpus_list)
    crun = csub.add_parser("run")
    crun.add_argument("--query", required=True)
    crun.add_argument("--sf-dir", required=True)
    crun.add_argument("--out", default=None, help="parquet output (default: show)")
    crun.add_argument("--limit", type=int, default=20)
    crun.set_defaults(fn=cmd_corpus_run)
    cexp = csub.add_parser("explain")
    cexp.add_argument("--query", required=True)
    cexp.add_argument("--sf-dir", required=True)
    cexp.add_argument("--mode", default="formatted",
                      choices=["simple", "formatted", "extended", "cost"])
    cexp.set_defaults(fn=cmd_corpus_explain)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
