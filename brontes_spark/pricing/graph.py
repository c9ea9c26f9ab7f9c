"""Token pair graph + pathfinding — SURVEY.md §2.6 G1-G3.

The reference maintains a petgraph token/pool graph with Yen's k-shortest
paths and Dijkstra (graphs/all_pair_graph.rs:69-318, graphs/yens.rs,
graphs/dijkstras.rs). The graph is SMALL (one node per token, one edge per
pool — 10^5-10^6 edges even on mainnet), so the Spark-first design is:
edges live in the `pools` DataFrame (filter/enrich distributed), and
pathfinding runs driver-side on the collected edge list (SURVEY.md §4
item 4) — broadcastable, no distributed graph engine.

G3 subgraph verification (liquidity pruning, graphs/subgraph.rs:55-57)
is the distributed part: a filter on the pool-TVL column before collect.
"""

from __future__ import annotations

import heapq
from collections import defaultdict
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_LIQUIDITY_USD = 15_000.0  # graphs/subgraph.rs MIN_LIQUIDITY_USD_PEGGED_TOKEN
RUNDOWN_LIQUIDITY_USD = 7_500.0


def prune_low_liquidity(
    pools: DataFrame, liquidity_col: str = "liquidity_usd", threshold: float = MIN_LIQUIDITY_USD
) -> DataFrame:
    """G3: drop edges below the liquidity floor before pathfinding."""
    return pools.filter(F.col(liquidity_col) >= threshold)


def verify_pairs(
    pools: DataFrame,
    pairs: list[tuple[str, str]],
    liquidity_col: str = "liquidity_usd",
) -> dict[tuple[str, str], str]:
    """G3 full verification flow (graphs/subgraph.rs:380-440 +
    subgraph_verifier.rs): prune edges below $15k and check each pricing
    pair's endpoints are still connected; pairs that come apart get a
    RUNDOWN re-query at the laxer $7.5k floor; still-disjoint pairs are
    abandoned (the reference's `should_abandon`).

    Returns pair → 'verified' | 'rundown' | 'abandon'. The TVL filter runs
    distributed (a pushed-down scan predicate); connectivity runs
    driver-side on the collected pruned edge list (SURVEY §4 — the graph is
    small; at distributed-edge-list scale use operators.graph_cc).
    """
    strict = TokenGraph.from_pools(prune_low_liquidity(pools, liquidity_col))
    strict_comp = strict.components()
    out: dict[tuple[str, str], str] = {}
    retry = [
        p
        for p in pairs
        if strict_comp.get(p[0]) is None
        or strict_comp.get(p[0]) != strict_comp.get(p[1])
    ]
    for p in pairs:
        if p not in retry:
            out[p] = "verified"
    if retry:
        lax = TokenGraph.from_pools(
            prune_low_liquidity(pools, liquidity_col, RUNDOWN_LIQUIDITY_USD)
        )
        lax_comp = lax.components()
        for p in retry:
            ok = lax_comp.get(p[0]) is not None and lax_comp.get(p[0]) == lax_comp.get(p[1])
            out[p] = "rundown" if ok else "abandon"
    return out


def union_find(edges: Iterable[tuple[Any, Any]]) -> dict[Any, Any]:
    """node → component label, the smallest node of its component, over an
    undirected edge list. A None end is not a node; the other end of such an
    edge still is one. Union by min label keeps the labels deterministic."""
    parent: dict[Any, Any] = {}

    def find(x: Any) -> Any:
        while (p := parent.setdefault(x, x)) != x:
            g = parent[p]
            parent[x] = g  # path halving: x skips to its grandparent
            x = g
        return x

    for a, b in edges:
        a = b if a is None else a
        b = a if b is None else b
        if a is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TokenGraph:
    """Driver-side undirected token graph over a collected pool edge list."""

    def __init__(self, edges: list[tuple[str, str, str, float]]):
        # (pool, token0, token1, weight)
        self.adj: dict[str, list[tuple[str, str, float]]] = defaultdict(list)
        for pool, t0, t1, w in edges:
            self.adj[t0].append((t1, pool, w))
            self.adj[t1].append((t0, pool, w))

    @classmethod
    def from_pools(
        cls, pools: DataFrame, weight_col: str | None = None
    ) -> "TokenGraph":
        cols = ["pool", "token0", "token1"]
        rows = pools.select(*cols, *( [weight_col] if weight_col else [] )).collect()
        return cls(
            [
                (r["pool"], r["token0"], r["token1"], float(r[weight_col]) if weight_col else 1.0)
                for r in rows
            ]
        )

    def shortest_path(self, src: str, dst: str) -> list[str] | None:
        """Dijkstra (graphs/dijkstras.rs analog): pool-hop path src→dst."""
        if src == dst:
            return []
        dist = {src: 0.0}
        prev: dict[str, tuple[str, str]] = {}
        pq = [(0.0, src)]
        seen = set()
        while pq:
            d, u = heapq.heappop(pq)
            if u in seen:
                continue
            seen.add(u)
            if u == dst:
                break
            for v, pool, w in self.adj.get(u, []):
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    prev[v] = (u, pool)
                    heapq.heappush(pq, (nd, v))
        if dst not in prev and dst != src:
            return None
        path = []
        cur = dst
        while cur != src:
            u, pool = prev[cur]
            path.append(pool)
            cur = u
        return list(reversed(path))

    def components(self) -> dict[str, str]:
        """token → component label (min token in component), union-find."""
        return union_find((t0, t1) for t0, nbrs in self.adj.items() for t1, _, _ in nbrs)

    def connected(self, src: str, dst: str) -> bool:
        comp = self.components()
        return src in comp and dst in comp and comp[src] == comp[dst]

    def k_shortest_paths(self, src: str, dst: str, k: int = 3) -> list[list[str]]:
        """Yen's algorithm (graphs/yens.rs analog) over pool-hop paths,
        simplified for the small driver-side graph: BFS enumeration of
        simple paths ranked by hop count, capped at k."""
        results: list[list[str]] = []
        # (hops, token_path, pool_path)
        pq: list[tuple[int, list[str], list[str]]] = [(0, [src], [])]
        while pq and len(results) < k:
            hops, tpath, ppath = heapq.heappop(pq)
            cur = tpath[-1]
            if cur == dst and ppath:
                results.append(ppath)
                continue
            if hops >= 4:  # pricing paths beyond 4 hops carry no signal
                continue
            for v, pool, _ in sorted(self.adj.get(cur, [])):
                if v in tpath:
                    continue
                heapq.heappush(pq, (hops + 1, tpath + [v], ppath + [pool]))
        return results
