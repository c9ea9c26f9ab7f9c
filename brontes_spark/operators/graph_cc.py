"""Connected components — the scale path for G3 subgraph verification
(SURVEY.md §2.6, graphs/subgraph.rs:380-440 disjointness checks) and for
turning near-dup PAIR outputs (MinHash/LSH, n-gram Jaccard) into duplicate
CLUSTERS, the step an at-scale dedup pipeline actually needs before
keep-one-per-cluster filtering.

Two paths, one result: every node is labelled with the smallest node id of
its component. A null id is not a node; the other end of an edge with a
null end still is one.

Small graphs: one action reads at most DRIVER_EDGES + 1 edge rows as Arrow.
That read is both the size test and the collect: when the whole edge list
came back, `pricing.graph.union_find` labels it on the driver and the
labels return as an Arrow-built DataFrame (no Python worker starts).
`vertices`, when given, stays distributed: its ids join the labels in one
aggregate. A near-dup graph of ~100 edges costs that one action instead of
~28 jobs of propagation rounds.

Large graphs: iterative min-label propagation with pointer jumping. Each
round every node takes the min label over {itself} ∪ neighbors (one
shuffle), then compresses label chains by looking up its label's label
(second shuffle) — the pointer-jump makes convergence ~O(log D) rounds on
chain-shaped components instead of O(D). Lineage is truncated per round
with localCheckpoint (an iterative plan otherwise doubles per round and
re-executes the whole history), and the loop stops when a round changes
no label. This is the path for the 100 TB regime, where the edge list
itself is a distributed table (billions of near-dup pairs).

DRIVER_EDGES was sized on chain (i, i+1) and star (0, i) graphs of long
ids read from parquet (local[4], 2 GB driver heap, 4-core VM; one cold
call plus a noop write of its output; peak RSS of the Python process,
which idles at ~140 MB):

    edges   chain: driver  propagate  RSS     star: driver  propagate  RSS
    10^4            0.46 s     6.5 s  143 MB          0.50 s     2.6 s  143 MB
    10^5            1.05 s    11.3 s  164 MB          0.97 s     3.9 s  161 MB
    5x10^5          2.7 s             242 MB          2.5 s             227 MB
    10^6            4.5 s     48.4 s  345 MB          4.0 s      8.1 s  314 MB

The driver path won at every size, so memory sets the bound: Python RSS
stays under ~256 MB up to 5x10^5 edges.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..pricing.graph import union_find

#: the most edges labelled on the driver; larger edge lists propagate
DRIVER_EDGES = 500_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every vertex, component = min node id in the
    component. `vertices` (single column named like `src`) adds isolated
    nodes; pass the full corpus to get singleton clusters too. `max_iter`
    bounds the propagation rounds of the large-graph path."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    nodes = e.select(F.col("a").alias("node")).union(e.select("b"))
    if vertices is not None:
        nodes = nodes.union(vertices.select(src))
    nodes = nodes.filter(F.col("node").isNotNull())
    head = e.limit(DRIVER_EDGES + 1).toArrow()
    if head.num_rows > DRIVER_EDGES:
        return _propagate(e, nodes, max_iter)

    labels = union_find(zip(head.column("a").to_pylist(), head.column("b").to_pylist()))
    node_type = nodes.schema["node"].dataType
    cc = edges.sparkSession.createDataFrame(
        pa.table({"node": list(labels), "component": list(labels.values())}),
        StructType([StructField("node", node_type), StructField("component", node_type)]),
    )
    if vertices is None:
        return cc
    # an unlabelled vertex is its own component; a labelled one's label is
    # never above its own id, so the min keeps it
    own = vertices.select(F.col(src).alias("node"), F.col(src).alias("component"))
    return (
        cc.union(own.filter(F.col("node").isNotNull()))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def _propagate(e: DataFrame, nodes: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with pointer jumping over the (a, b) edges."""
    und = e.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = nodes.distinct().withColumn("label", F.col("node")).localCheckpoint()
    und = und.localCheckpoint()

    for _ in range(max_iter):
        # min label over self ∪ neighbors
        neigh = (
            und.join(labels, und["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .union(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow label -> its own label
        lab2 = neigh.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        jumped = (
            neigh.join(lab2, neigh["label"] == lab2["l_node"], "left")
            .select(
                "node", F.least(F.col("label"), F.col("l_label")).alias("label")
            )
            .localCheckpoint()
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))
