"""Materialize an sf1-scale dataset by tiling sf0.1 x10 with key offsets
(VERDICT r5 directive 2: the relational/mev/timeseries families had no
measured scale point beyond sf0.1).

Tiling preserves the join/aggregation semantics of a true scale-up:
every key space (custkey, suppkey, partkey, orderkey, event/user ids,
doc/vec ids) is offset per copy, so per-key densities (lineitems per
order, orders per customer, events per user) stay EXACTLY sf0.1's while
key cardinality and row counts grow 10x — i.e. group-by fan-in and join
amplification scale the way a bigger TPC-H sf does. The fixed dims
(region/nation) stay fixed, as in TPC-H. Text copies go through a per-copy
Caesar cipher and embeddings through per-copy sign modulation (same
text transform as make_sf10.py) so dedup/ANN structure reflects
corpus growth, not 10-way cloning.

Output: /root/repo/.scale_sf1/*.parquet  (gitignored; ~170 MB)
Run any registry gate against it:
    python -m brontes_spark.cli corpus run --query <name> --sf-dir .scale_sf1
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scale_sf1")
COPIES = 10
OFF = 10_000_000  # exceeds every key space in sf0.1

ALPHA = "abcdefghijklmnopqrstuvwxyz"

#: per-table key columns to offset per copy (everything else rides along)
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
FIXED = ["region", "nation"]


def tile(df, key_cols, extra=None):
    parts = [df]
    for i in range(1, COPIES):
        sel = []
        for c in df.columns:
            if c in key_cols:
                sel.append((F.col(c) + i * OFF).alias(c))
            elif extra and c in extra:
                sel.append(extra[c](i).alias(c))
            else:
                sel.append(F.col(c))
        parts.append(df.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("make-sf1")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    for t in FIXED:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{OUT}/{t}.parquet"
        )
    for t, keys in KEYED.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        tile(df, keys).write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    tile(
        docs, ["doc_id"],
        extra={
            "text": lambda i: F.translate(
                F.col("text"),
                ALPHA + ALPHA.upper(),
                (ALPHA[i:] + ALPHA[:i]) + (ALPHA[i:] + ALPHA[:i]).upper(),
            )
        },
    ).write.mode("overwrite").parquet(f"{OUT}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")

    def signmod(i):
        return F.transform(
            F.col("embedding"),
            lambda x, d: (
                x * (1 - 2 * F.pmod(F.xxhash64(d.cast("string"), F.lit(i)),
                                    F.lit(2))).cast("float")
            ).cast("float"),
        )

    tile(emb, ["vec_id"], extra={"embedding": signmod}).write.mode(
        "overwrite"
    ).parquet(f"{OUT}/embeddings.parquet")

    for t in [*FIXED, *KEYED, "documents", "embeddings"]:
        n = spark.read.parquet(f"{OUT}/{t}.parquet").count()
        print(t, n, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
