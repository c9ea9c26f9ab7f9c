"""Sinks — reference operators S6/S8/S10 (SURVEY.md §2.1).

  * write_partitioned — MevBlocks/bundles writer (S6,
    bin/src/executors/processors/mev.rs:77-110) + parquet exporter (S8,
    brontes-db/src/parquet/mod.rs:40+): zstd parquet partitioned by a
    block-range bucket so downstream range queries prune partitions.
  * searcher_stats — S10 (processors/mev.rs:111-148): the reference upserts
    per-searcher bundle stats into libmdbx. Two Spark-native formulations:
    the batch path recomputes from the full bundles table, and the
    incremental path (searcher_block_stats / upsert_searcher_block_stats /
    searcher_stats_rollup) keeps block-grain stats and replaces only a new
    batch's blocks — replay-idempotent MERGE semantics without
    re-aggregating history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_BUCKET = 100_000  # blocks per output partition


def write_partitioned(df: DataFrame, path: str, block_col: str = "block_number") -> None:
    out = df.withColumn("block_bucket", (F.col(block_col) / BLOCK_BUCKET).cast("long"))
    (
        out.write.mode("overwrite")
        .partitionBy("block_bucket")
        .option("compression", "zstd")
        .parquet(path)
    )
    # a zero-row partitionBy write emits only _SUCCESS (no schema footer),
    # leaving the directory unreadable. Detect from the written tree (a
    # driver-side listing — an isEmpty() pre-check would execute the whole
    # upstream DAG twice) and drop in one schema-only file; limit(0) folds
    # to an empty LocalRelation, so this write runs no upstream compute.
    # The listing goes through the Hadoop FileSystem API so it sees hdfs://
    # and s3a:// paths too — os.walk only sees the LOCAL filesystem and
    # would report every remote write as empty, then overwrite it.
    spark = df.sparkSession
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    has_data = False
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            has_data = True
            break
    if not has_data:
        out.limit(0).coalesce(1).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(path)


def searcher_block_stats(bundles: DataFrame) -> DataFrame:
    """S10 merge grain: per-(eoa, block_number, mev_family) bundle stats.

    This is the unit the incremental path upserts by BLOCK: a block's
    bundles land together in one batch (processors/mev.rs processes per
    block), so replacing a block's rows wholesale is both
    incremental and replay-idempotent — no engine MERGE support needed."""
    return (
        bundles.withColumn("mev_family", F.split("mev_type", ":")[0])
        .groupBy("eoa", "block_number", "mev_family")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("profit_usd").alias("profit"),
            F.sum("gas_usd").alias("bribe"),
        )
    )


def upsert_searcher_block_stats(prev: DataFrame, batch_bundles: DataFrame) -> DataFrame:
    """S10 incremental upsert (processors/mev.rs:111-148): replace the stats
    rows of every block present in the batch, keep all other blocks.

    Idempotent: re-running the same batch recomputes identical rows for the
    same blocks. Cost is O(batch) recompute + an anti-join against prev on
    block_number — history is never re-aggregated."""
    batch_stats = searcher_block_stats(batch_bundles)
    batch_blocks = batch_bundles.select("block_number").distinct()
    kept = prev.join(F.broadcast(batch_blocks), "block_number", "left_anti")
    return kept.unionByName(batch_stats.select(*prev.columns))


def searcher_stats_rollup(block_stats: DataFrame) -> DataFrame:
    """Per-searcher rollup from the block-grain stats: bundle counts by MEV
    type (the SearcherInfo `bundle_counts` map, db/searcher.rs:21) + PnL."""
    fam = block_stats.groupBy("eoa", "mev_family").agg(
        F.sum("n").alias("n"),
        F.sum("profit").alias("profit"),
        F.sum("bribe").alias("bribe"),
    )
    return fam.groupBy("eoa").agg(
        F.sum("n").alias("n_bundles"),
        F.sum("profit").cast("decimal(38,18)").alias("total_profit_usd"),
        F.sum("bribe").cast("decimal(38,18)").alias("total_bribe_usd"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("mev_family", "n")))
        ).alias("bundle_counts"),
    )


def searcher_stats(bundles: DataFrame) -> DataFrame:
    """Per-searcher rollup straight from a full bundles table (the batch
    path); equals searcher_stats_rollup over searcher_block_stats by
    construction."""
    return searcher_stats_rollup(searcher_block_stats(bundles))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_col: str | None = None,
) -> None:
    """Bucketed table writer — the co-location strategy for the engine's
    hottest repeated join keys (tx_hash between actions/tx_info, pool
    between events/state). Two tables bucketed the same way join WITHOUT a
    shuffle: Spark reads both sides already hash-distributed on the key, so
    at 100 TB the join cost drops from 2 full shuffles to 0 (the bucketed
    scan IS the exchange). Pair with `spark.sql.sources.bucketing.enabled`
    (default on) and matching n_buckets on both sides."""
    w = df.write.mode("overwrite").format("parquet").option("compression", "zstd")
    w = w.bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)
