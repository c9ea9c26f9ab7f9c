"""Fixed-iteration PageRank in exact integer arithmetic — the iterative
relational algorithm class (label propagation, SimRank, k-core...) done
Spark-first: each iteration is one join + one aggregate, the driver loop
only ASSEMBLES plans, and lineage is cut per iteration so the DAG does not
grow superlinearly (the standard iterative-Spark discipline; without the
localCheckpoint, iteration t re-derives iterations 0..t-1 in every branch
and planning time alone goes quadratic).

Scores are scaled integers (r0 = `scale` per node) and every step is a
positive integer division, truncation-identical in Spark (`div`) and
DuckDB (`//`):

    contrib(u) = r(u) div outdeg(u)
    r'(v)      = (scale * (den - num)) div den
                 + (num * sum_{u->v} contrib(u)) div den

with damping d = num/den (default 85/100). So a DuckDB oracle can replay
the SAME fixed number of iterations as unrolled CTEs and hash-match the
final scores exactly — the floats-never-match problem of iterative graph
algorithms sidestepped the same way the sketch family does it.

Semantics note (documented variant): dangling-node mass is NOT
redistributed — a node with no outgoing edges absorbs its rank's damped
share (the common "no dangling fix" simplification; with the default
bidirectional corpus graphs below there are no dangling nodes anyway).
Total mass is therefore conserved only on dangling-free graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _named(col_name: str, as_name: str):
    """col(...) with .alias(...) only when the name actually changes: a
    self-alias (col("src").alias("src")) inserts an Alias node that blocks
    Catalyst's redundant-distinct collapse on the nodes relation — the
    union's inner distinct-Exchanges survive and the edge subtree is
    planned (and executed) twice per consumer. Measured round-12: 3
    Exchanges / 41 ops vs 1 Exchange / 19 ops for the identical relation,
    and the live-vs-frozen ppr A/B gap (3.9 s vs 1.4 s) was entirely this."""
    c = F.col(col_name)
    return c if col_name == as_name else c.alias(as_name)


def pagerank_integer(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    scale: int = 10**9,
    d_num: int = 85,
    d_den: int = 100,
    checkpoint_every: int = 4,
) -> DataFrame:
    """(node, rank) after `iters` synchronous iterations from a uniform
    integer start of `scale` per node. `edges` is a directed edge list
    (duplicates are collapsed); nodes = every distinct endpoint.

    `checkpoint_every`: lineage-cut cadence. The rank recurrence is a
    LINEAR chain (each iteration reads the previous once), so nothing
    recomputes without checkpoints — the cut only caps plan depth /
    planning time for long runs, while every cut costs one extra job
    barrier (measured: per-iteration cuts made a 3-iteration run
    scheduler-bound). Every few iterations is the right trade."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 < d_num <= d_den:
        raise ValueError(f"damping must be in (0, 1], got {d_num}/{d_den}")
    e = edges.select(_named(src_col, "src"), _named(dst_col, "dst")).distinct()
    # bounded relations reused every iteration: NO eager materialization —
    # round-11 measurement (hits.py note): localCheckpoint turns each into
    # an UnknownPartitioning RDD scan, forcing every consumer join back
    # through Exchange+Sort; leaving them as plans lets ReuseExchange share
    # ONE exchange per relation across all iterations
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # out-degree rides ON the edge list (one join, outside the loop): each
    # iteration is then exactly ONE join + ONE aggregate — at 600k edges /
    # sf0.1 this cut the 3-iteration wall from 5.5 s to the join-agg floor
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "src")
    teleport = (scale * (d_den - d_num)) // d_den

    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for t in range(1, iters + 1):
        contrib = (
            ranks.join(e_deg, ranks["node"] == e_deg["src"], "inner")
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr(f"({d_num} * coalesce(s, 0)) div {d_den}")
            ).cast("long").alias("rank"),
        )
        if t % checkpoint_every == 0 and t < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 3,
    scale: int = 10**9,
    d_num: int = 85,
    d_den: int = 100,
) -> str:
    """The DuckDB twin: the same fixed iterations UNROLLED as CTEs.
    `edges_cte` must be a complete CTE body named `edges(src, dst)`
    (duplicates allowed — deduped here, mirroring the operator)."""
    teleport = (scale * (d_den - d_num)) // d_den
    parts = [
        f"WITH {edges_cte},",
        "e AS (SELECT DISTINCT src, dst FROM edges),",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes),",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"c{t} AS (SELECT e.dst, SUM(r.rank // o.outdeg) AS s "
            f"FROM r{t-1} r JOIN outdeg o ON r.node = o.src "
            f"JOIN e ON e.src = r.node GROUP BY e.dst),"
        )
        parts.append(
            f"r{t} AS (SELECT n.node, CAST({teleport} + "
            f"({d_num} * COALESCE(c.s, 0)) // {d_den} AS BIGINT) AS rank "
            f"FROM nodes n LEFT JOIN c{t} c ON n.node = c.dst)"
            + ("," if t < iters else "")
        )
    parts.append(f"SELECT node, rank FROM r{iters}")
    return "\n".join(parts)


def ppr_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    scale: int = 10**9,
    d_num: int = 85,
    d_den: int = 100,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to `seeds` —
    the "importance relative to THESE nodes" ranking behind
    related-entity discovery and topic-conditioned influence (the
    seeded sibling of pagerank_integer; same exact-integer discipline,
    same unrolled-CTE twin via ppr_oracle_sql).

    Mass starts entirely at the seeds (rank0 = scale * N / |S| on seeds,
    0 elsewhere) and every iteration returns (1-d) of the total to the
    seeds, so unreached nodes hold rank 0 — the signature PPR locality
    property that makes it USEFUL at 100 TB: rank support grows only as
    far as `iters` hops from the seed set.

    |S| and N enter as two bounded .count() scalar actions (the
    documented summary-action class — seed sets and node counts are
    metadata, never data-sized streams).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 < d_num <= d_den:
        raise ValueError(f"damping must be in (0, 1], got {d_num}/{d_den}")
    # NO persist on the static relations (round-12 re-adjudication): the
    # r11 persist()-both choice was the round's one driver-measured
    # regression (0.85x) and the interleaved same-session A/B is decisive
    # — persist mins 2.82/2.44/2.14/2.40 s vs plain 1.78/1.49/1.39/1.46 s
    # (g14 gate, 3 rounds). At the 3-round gate geometry ReuseExchange
    # dedups the recurrence's repeated subtrees at runtime, so the
    # InMemoryRelation's columnar (de)serialization per read is pure
    # overhead — the same mechanism that made edges.persist() lose in
    # bfs.py/hits.py. This is g7 pagerank_integer's formulation.
    e = edges.select(_named(src_col, "src"), _named(dst_col, "dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "src")
    s = seeds.select("node").distinct()
    n_nodes, n_seeds = nodes.count(), s.count()
    if n_seeds == 0:
        raise ValueError("seed set is empty")
    start = (scale * n_nodes) // n_seeds
    seed_teleport = ((d_den - d_num) * scale * n_nodes) // (d_den * n_seeds)
    flagged = nodes.join(
        s.withColumn("_is_seed", F.lit(1)), "node", "left"
    ).select("node", F.coalesce(F.col("_is_seed"), F.lit(0)).alias("is_seed"))

    ranks = flagged.select(
        "node", (F.col("is_seed") * F.lit(start)).cast("long").alias("rank")
    )
    for t in range(1, iters + 1):
        contrib = (
            ranks.join(e_deg, ranks["node"] == e_deg["src"], "inner")
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = flagged.join(
            contrib, flagged["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.col("is_seed") * F.lit(seed_teleport)
                + F.expr(f"({d_num} * coalesce(s, 0)) div {d_den}")
            ).cast("long").alias("rank"),
        )
        if t % checkpoint_every == 0 and t < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def ppr_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    iters: int = 3,
    scale: int = 10**9,
    d_num: int = 85,
    d_den: int = 100,
) -> str:
    """DuckDB twin of ppr_integer: identical iterations unrolled.
    `seeds_cte` must be a CTE body named `seeds(node)`. The start /
    seed-teleport constants are computed IN SQL from the same counts the
    operator takes as scalar actions (HUGEINT floor division == Python
    int division on positive operands), so one oracle string is correct
    at every scale factor."""
    parts = [
        f"WITH {edges_cte},",
        f"{seeds_cte},",
        "e AS (SELECT DISTINCT src, dst FROM edges),",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),",
        "sd AS (SELECT DISTINCT node FROM seeds),",
        "flg AS (SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END"
        " AS is_seed FROM nodes n LEFT JOIN sd s ON s.node = n.node),",
        "kn AS (SELECT (SELECT COUNT(*) FROM nodes) AS n,"
        " (SELECT COUNT(*) FROM sd) AS s),",
        f"kc AS (SELECT CAST((CAST({scale} AS HUGEINT) * n) // s AS BIGINT)"
        f" AS start, CAST((CAST({d_den - d_num} AS HUGEINT) * {scale} * n)"
        f" // ({d_den} * s) AS BIGINT) AS tp FROM kn),",
        "r0 AS (SELECT f.node, CAST(f.is_seed * kc.start AS BIGINT) AS rank"
        " FROM flg f CROSS JOIN kc),",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"c{t} AS (SELECT e.dst, SUM(r.rank // o.outdeg) AS s "
            f"FROM r{t-1} r JOIN outdeg o ON r.node = o.src "
            f"JOIN e ON e.src = r.node GROUP BY e.dst),"
        )
        parts.append(
            f"r{t} AS (SELECT f.node, CAST(f.is_seed * kc.tp + "
            f"({d_num} * COALESCE(c.s, 0)) // {d_den} AS BIGINT) AS rank "
            f"FROM flg f CROSS JOIN kc LEFT JOIN c{t} c ON f.node = c.dst)"
            + ("," if t < iters else "")
        )
    parts.append(f"SELECT node, rank FROM r{iters}")
    return "\n".join(parts)
