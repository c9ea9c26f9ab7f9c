"""CLI surface (brontes_spark/cli.py ↔ bin/src/cli/run.rs + cli/db/mod.rs):
init lands the input tables, run produces the same bundles as calling the
composer directly, query/export prune by range, clear is jailed to the dir."""

from __future__ import annotations

import os

from brontes_spark import cli
import pytest


def _run(argv):
    return cli.main(argv)


@pytest.mark.slow
def test_cli_init_run_query_export(spark, tmp_path):
    tables = str(tmp_path / "tables")
    out = str(tmp_path / "out")
    assert _run(["db", "init", "--tables-dir", tables]) == 0
    for name in cli.INPUT_TABLES:
        assert os.path.exists(os.path.join(tables, f"{name}.parquet")), name

    assert (
        _run(["run", "--tables-dir", tables, "--out", out, "--start-block", "0"]) == 0
    )
    bundles = spark.read.parquet(os.path.join(out, "mev_bundles"))
    assert bundles.count() > 0
    # block-bucket partitioning (S6) survives the CLI path
    assert "block_bucket" in bundles.columns
    stats = spark.read.parquet(os.path.join(out, "searcher_stats"))
    assert stats.count() > 0

    # range filter prunes: an empty block range yields zero bundles
    out2 = str(tmp_path / "out2")
    assert (
        _run(
            ["run", "--tables-dir", tables, "--out", out2,
             "--start-block", "999999", "--end-block", "9999999"]
        )
        == 0
    )
    assert spark.read.parquet(os.path.join(out2, "mev_bundles")).count() == 0

    # db query: plain table + --sql path both execute
    assert _run(["db", "query", "--tables-dir", tables, "--table", "tx_info",
                 "--range", "0:999999", "--limit", "3"]) == 0
    assert _run(["db", "query", "--tables-dir", tables,
                 "--sql", "SELECT count(*) AS n FROM actions"]) == 0

    # export writes a readable parquet copy
    exp = str(tmp_path / "exp")
    assert _run(["db", "export", "--tables-dir", tables, "--table", "actions",
                 "--out", exp]) == 0
    src = spark.read.parquet(os.path.join(tables, "actions.parquet")).count()
    assert spark.read.parquet(exp).count() == src

    # table-stats runs; clear removes exactly the one table and refuses escape
    assert _run(["db", "table-stats", "--tables-dir", tables]) == 0
    assert _run(["db", "clear", "--tables-dir", tables, "--table", "pools"]) == 0
    assert not os.path.exists(os.path.join(tables, "pools.parquet"))
    assert _run(["db", "clear", "--tables-dir", tables, "--table", "../escape"]) == 2


@pytest.mark.slow
def test_cli_run_matches_library(spark, tmp_path):
    """CLI `run` output == run_composer called directly (no CLI-only logic)."""
    from brontes_spark.inspectors.composer import run_composer
    from brontes_spark.sources.fixtures import load_fixtures

    tables = str(tmp_path / "tables")
    out = str(tmp_path / "out")
    assert _run(["db", "init", "--tables-dir", tables]) == 0
    assert _run(["run", "--tables-dir", tables, "--out", out]) == 0
    via_cli = (
        spark.read.parquet(os.path.join(out, "mev_bundles"))
        .select("block_number", "mev_type", "eoa", "profit_usd")
        .orderBy("block_number", "mev_type", "eoa", "profit_usd")
        .collect()
    )
    direct = (
        run_composer(load_fixtures(spark))["bundles"]
        .select("block_number", "mev_type", "eoa", "profit_usd")
        .orderBy("block_number", "mev_type", "eoa", "profit_usd")
        .collect()
    )
    assert via_cli == direct


def test_cli_insert_and_snapshot(spark, tmp_path):
    tables = str(tmp_path / "tables")
    assert _run(["db", "init", "--tables-dir", tables]) == 0
    before = spark.read.parquet(os.path.join(tables, "pools.parquet")).count()

    # insert: re-append the table to itself via an exported copy
    src = str(tmp_path / "src")
    assert _run(["db", "export", "--tables-dir", tables, "--table", "pools",
                 "--out", src]) == 0
    assert _run(["db", "insert", "--tables-dir", tables, "--table", "pools",
                 "--source", src]) == 0
    assert spark.read.parquet(os.path.join(tables, "pools.parquet")).count() == 2 * before

    # schema mismatch refused
    assert _run(["db", "insert", "--tables-dir", tables, "--table", "pools",
                 "--source", os.path.join(tables, "tx_info.parquet")]) == 2

    # snapshot copies the tree; jailed against nesting inside the source
    snap = str(tmp_path / "snap")
    assert _run(["db", "snapshot", "--tables-dir", tables, "--out", snap]) == 0
    assert spark.read.parquet(os.path.join(snap, "pools.parquet")).count() == 2 * before
    assert _run(["db", "snapshot", "--tables-dir", tables,
                 "--out", os.path.join(tables, "inner")]) == 2


def test_cli_corpus_list_and_run(spark, tmp_path, capsys):
    assert _run(["corpus", "list"]) == 0
    names = capsys.readouterr().out.split()
    assert "dedup_exact" in names and "dedup_span_exact" in names
    out = str(tmp_path / "corpus_out")
    assert _run([
        "--cpus", "4", "corpus", "run", "--query", "sketch_quantiles",
        "--sf-dir", "/root/testdata/sf0.001", "--out", out,
    ]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 4 and set(got.columns) == {"q", "rank", "value"}
    # unknown query is a clean usage error, not a traceback
    assert _run(["corpus", "run", "--query", "nope", "--sf-dir", "x"]) == 2


def test_cli_corpus_explain(spark, capsys):
    rc = _run([
        "--cpus", "4", "corpus", "explain", "--query", "t1_filter_project",
        "--sf-dir", "/root/testdata/sf0.001", "--mode", "simple",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "FileScan" in out or "Scan" in out
    assert _run(["corpus", "explain", "--query", "nope", "--sf-dir", "x"]) == 2
