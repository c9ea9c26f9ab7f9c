"""Registry gates for these operator families: the iterative-graph
second wave (label propagation, HITS, BFS hops, weighted SSSP,
personalized PageRank), the per-inspector golden-PnL gates (sandwich /
JIT / liquidation / CEX-DEX markout + quotes / searcher activity /
composed jit_sandwich — oracles RECOMPUTE the reference PnLs in SQL from
planted legs), the statistics suite (Pearson / Spearman / Mann-Whitney /
KS / Welch t / one-way ANOVA / two-proportion z / correlation matrix /
Benford / CUSUM / autocorrelation / seasonality), data-quality and table
ops (dq checks, table diff, k-anonymity, skew profile, compaction
planning, RRF fusion, Pareto, association rules, quantile normalize,
winsorize, rolling distinct, RFM segments), text-ML features (chi-square
selection, Naive Bayes training, readability), the SCD2 point-in-time
as-of join, Theil-Sen robust slopes, JSON extraction, and group-aware CV
folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import EV_CTE, QuerySpec, REGISTRY, register
from .wave9 import _PR_EDGES_SQL  # shared PageRank edge CTE (promoted r9)


def _labelprop_oracle(rounds: int) -> str:
    ctes = [
        """e0 AS (
      SELECT DISTINCT LEAST(s, t) AS s, GREATEST(s, t) AS t FROM (
        SELECT doc_id AS s, doc_id + 1 AS t FROM documents
        UNION ALL
        SELECT doc_id AS s, (doc_id // 50) * 50 AS t FROM documents
      ) raw WHERE s != t)""",
        "bidir AS (SELECT s, t FROM e0 UNION ALL SELECT t AS s, s AS t FROM e0)",
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM bidir)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""l{r + 1} AS (
      SELECT node, n_label AS label FROM (
        SELECT b.s AS node, l.label AS n_label, COUNT(*) AS cnt,
               row_number() OVER (PARTITION BY b.s
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM bidir b JOIN l{r} l ON l.node = b.t
        GROUP BY b.s, l.label) x WHERE rn = 1)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{rounds}"
    )


@register(
    "g10_label_prop",
    oracle=None,  # set below: generated unrolled-round twin
    survey_ref="synchronous label propagation (operators/labelprop.py, "
    "Raghavan et al. 2007 made deterministic: simultaneous updates + "
    "total (count DESC, label ASC) tie order) — community detection "
    "completing the iterative graph family (CC, PageRank, k-core, "
    "triangles); one edge⋈label join + one count agg + one argmax per "
    "round, lineage cut per round; the chain+block-hub fixture (d—d+1, "
    "d—50-block hub) converges to block communities; DuckDB twin replays "
    "the SAME 3 rounds as generated CTEs (the g7/g9 pattern); promoted at r10 (the r9 window is exactly full — see header)",
)
def g10_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.labelprop import label_propagation
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    edges = docs.select(d.alias("s"), (d + 1).alias("t")).unionAll(
        docs.select(d.alias("s"), ((d / 50).cast("long") * 50).alias("t"))
    )
    return label_propagation(edges, rounds=3)


REGISTRY["g10_label_prop"] = QuerySpec(
    name="g10_label_prop",
    build=REGISTRY["g10_label_prop"].build,
    oracle=_labelprop_oracle(rounds=3),
    survey_ref=REGISTRY["g10_label_prop"].survey_ref,
)


@register(
    "o12_rrf_fusion",
    # two REAL single-criterion retrievers (parts by revenue, parts by
    # ship volume) fused; the relational shape is identical to fusing
    # BM25 + dense-ANN lists (tests pin that composition directly)
    oracle="""
    WITH rev AS (
      SELECT l_returnflag AS query, l_partkey AS id,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))) DESC,
                        l_partkey) AS rk
      FROM lineitem GROUP BY l_returnflag, l_partkey),
    qty AS (
      SELECT l_returnflag AS query, l_partkey AS id,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY SUM(l_quantity) DESC, l_partkey) AS rk
      FROM lineitem GROUP BY l_returnflag, l_partkey),
    u AS (
      SELECT query, id, 1000000000 // (60 + rk) AS term
      FROM (SELECT * FROM rev WHERE rk <= 20
            UNION ALL SELECT * FROM qty WHERE rk <= 20) z),
    f AS (
      SELECT query, id, CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(term) AS BIGINT) AS score9
      FROM u GROUP BY query, id),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query ORDER BY score9 DESC, id) AS fused_rank
      FROM f)
    SELECT query, id, n_lists, score9, CAST(fused_rank AS BIGINT) AS fused_rank
    FROM r WHERE fused_rank <= 10
    """,
    survey_ref="Reciprocal Rank Fusion (operators/fusion.py, Cormack et "
    "al. 2009) — the hybrid-retrieval merge (BM25 + dense ANN + recency) "
    "that needs ranks only, no score calibration: per-term "
    "floor(1e9/(k+rank)) keeps the fused score an exact bigint; union of "
    "top-N lists + one hash agg + WindowGroupLimit top-k, nothing "
    "data-sized (the retrievers upstream did the heavy work); promoted at r10",
)
def o12_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fusion import rrf_fuse
    from ..sources.testdata import load_table
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")

    def ranked(order_expr):
        agg = li.groupBy(
            F.col("l_returnflag").alias("query"),
            F.col("l_partkey").alias("id"),
        ).agg(order_expr.alias("_v"))
        w = W.partitionBy("query").orderBy(F.col("_v").desc(), F.col("id"))
        return (
            agg.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 20)
            .select("query", "id", "rk")
        )

    rev = ranked(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")))
    qty = ranked(F.sum("l_quantity"))
    return rrf_fuse([rev, qty], "query", "id", "rk", k=60, top=10)


@register(
    "x20_pearson_corr",
    # the single double step (int64->double, *, sqrt, /) is correctly
    # rounded at every operation in both engines, so the floor agrees;
    # casting num/d1/d2 to BIGINT before DOUBLE keeps both sides on the
    # same int64->double conversion (never a >2^53 decimal/HUGEINT cast)
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT user_id,
             (ts_ns - (ts_ns % 1000000000 + 1000000000) % 1000000000)
               // 1000000000 AS t_raw,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM ev),
    r AS (
      SELECT user_id,
             t_raw - MIN(t_raw) OVER (PARTITION BY user_id) AS t, y
      FROM b),
    a AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(t * y) AS HUGEINT) AS sty,
             CAST(SUM(t * t) AS HUGEINT) AS stt,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM r GROUP BY 1),
    f AS (
      SELECT user_id, n,
             CAST(n * sty - st * sy AS BIGINT) AS num,
             CAST(n * stt - st * st AS BIGINT) AS d1,
             CAST(n * syy - sy * sy AS BIGINT) AS d2
      FROM a)
    SELECT user_id AS key, CAST(n AS BIGINT) AS n,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             CAST(FLOOR(1000000000.0 * CAST(num AS DOUBLE)
                  / SQRT(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)))
                  AS BIGINT)
           END AS corr9
    FROM f
    """,
    survey_ref="per-key Pearson correlation (operators/ols.pearson_corr) "
    "— bivariate statistics on the OLS exact-sum core: integer num/d1/d2, "
    "ONE final double chain (int64→double, *, IEEE sqrt, /) where every "
    "op is correctly rounded so both engines produce the bit-identical "
    "double and the corr9 floor agrees; one key exchange (window+agg "
    "share it); promoted at r10",
)
def x20_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ols import pearson_corr
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return pearson_corr(
        ev.select("user_id", "ts_ns", cents.alias("cents")),
        "user_id",
        "ts_ns",
        "cents",
        t_unit=1_000_000_000,
    ).select(F.col("user_id").alias("key"), "n", "corr9")


@register(
    "x21_rolling_distinct",
    # 7-day rolling distinct users per day; the oracle is the W-scan
    # correlated form the operator's collapse+explode exists to avoid
    oracle=f"""
    WITH {EV_CTE},
    a AS (
      SELECT DISTINCT user_id AS key,
             (ts_ns - (ts_ns % 86400000000000 + 86400000000000)
              % 86400000000000) // 86400000000000 AS day
      FROM ev),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM a),
    grid AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span)
    SELECT g.day AS day,
           CAST((SELECT COUNT(DISTINCT key) FROM a
                 WHERE a.day BETWEEN g.day - 6 AND g.day) AS BIGINT)
             AS n_active
    FROM grid g
    """,
    survey_ref="sliding-window distinct counts / rolling WAU "
    "(operators/rolling_distinct.py) — COUNT(DISTINCT) does not "
    "decompose over sliding windows, so: collapse to distinct (key, day) "
    "FIRST (bounds all later work by active-key-days, not events), "
    "explode each into its W visible report days, one distinct agg per "
    "report day; span-grid zero-fill without a calendar join; the "
    "HLL-merge swap-in for W>90 documented; promoted at r10",
)
def x21_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rolling_distinct import rolling_distinct
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return rolling_distinct(ev, "user_id", "ts_ns", window_days=7)


def _hits_oracle(rounds: int) -> str:
    ctes = [
        """e AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        "nodes AS (SELECT DISTINCT src AS node FROM e "
        "UNION SELECT DISTINCT dst FROM e)",
        "h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)",
    ]
    for r in range(rounds):
        ctes.append(
            f"""a{r + 1} AS (
      SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS auth
      FROM nodes n LEFT JOIN (
        SELECT e.dst, SUM(h.hub) AS s
        FROM e JOIN h{r} h ON h.node = e.src GROUP BY e.dst) s
      ON s.dst = n.node)"""
        )
        ctes.append(
            f"""h{r + 1} AS (
      SELECT n.node, CAST(COALESCE(s.s, 0) AS BIGINT) AS hub
      FROM nodes n LEFT JOIN (
        SELECT e.src, SUM(a.auth) AS s
        FROM e JOIN a{r + 1} a ON a.node = e.dst GROUP BY e.src) s
      ON s.src = n.node)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a.node, a.auth, h.hub FROM a{rounds} a "
        f"JOIN h{rounds} h ON h.node = a.node"
    )


@register(
    "g11_hits",
    oracle=None,  # set below: generated unrolled-round twin
    survey_ref="fixed-round integer HITS (operators/hits.py, Kleinberg "
    "1999) — hubs & authorities over the directed customer->supplier "
    "trade graph, completing the centrality family beside PageRank: "
    "normalization dropped (a positive per-round scalar — rankings and "
    "within-side ratios unchanged) so every score stays an exact bigint "
    "the unrolled-CTE DuckDB twin reproduces digit-for-digit; two joins "
    "+ two aggregates per round over the cached edge list, lineage cut "
    "per round; magnitude envelope documented (deg^(2·rounds) under "
    "2^63); promoted at r10",
)
def g11_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hits import hits_integer
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    return hits_integer(pairs, rounds=2)


REGISTRY["g11_hits"] = QuerySpec(
    name="g11_hits",
    build=REGISTRY["g11_hits"].build,
    oracle=_hits_oracle(rounds=2),
    survey_ref=REGISTRY["g11_hits"].survey_ref,
)


@register(
    "o13_table_diff",
    # old = orders as-is; new = deterministic in-plan mutation (drop
    # %97-keys, flip priority on %89-keys, add shifted synthetic keys) —
    # both engines synthesize the identical 'new' snapshot
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
    new AS (
      SELECT o_orderkey,
             o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X-FLIPPED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'Z', 'SYNTH'
      FROM orders WHERE o_orderkey % 101 = 0),
    j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS d_status,
             o.o_orderpriority IS DISTINCT FROM n.o_orderpriority AS d_prio
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey,
           CASE WHEN in_old AND NOT in_new THEN 'removed'
                WHEN in_new AND NOT in_old THEN 'added'
                ELSE 'changed' END AS status,
           CASE WHEN in_old AND in_new THEN
             concat_ws(',',
               CASE WHEN d_status THEN 'o_orderstatus' END,
               CASE WHEN d_prio THEN 'o_orderpriority' END)
           ELSE '' END AS changed_cols
    FROM j
    WHERE (NOT in_old) OR (NOT in_new) OR d_status OR d_prio
    """,
    survey_ref="keyed table diff (operators/table_diff.py) — the "
    "migration/backfill/CDC validation primitive (re-run a block range "
    "after a classifier fix, diff the MevBlocks): ONE full-outer hash "
    "join, NULL-safe per-column comparison vector in pure codegen, "
    "detail output bounded by the true change set (the unchanged bulk "
    "is dropped; diff_counts reports it from the same join); promoted at r10",
)
def o13_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.table_diff import table_diff
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_orderstatus", "o_orderpriority")
    k = F.col("o_orderkey")
    new = (
        old.filter(k % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(k % 89 == 0, F.lit("X-FLIPPED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
        .unionAll(
            old.filter(k % 101 == 0).select(
                (k + 100_000_000).alias("o_orderkey"),
                F.lit("Z").alias("o_orderstatus"),
                F.lit("SYNTH").alias("o_orderpriority"),
            )
        )
    )
    return table_diff(old, new, ["o_orderkey"])


@register(
    "x22_winsorize",
    # per-event-type winsorized value stats at [p5, p95]; positional
    # percentile_disc bounds via exact integer rank selection
    oracle=f"""
    WITH {EV_CTE},
    v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             event_id
      FROM ev),
    r AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v),
    b AS (
      SELECT event_type,
             MAX(CASE WHEN rn = (5 * n + 99) // 100 THEN c END) AS lo,
             MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN c END) AS hi
      FROM r GROUP BY event_type),
    w AS (
      SELECT v.event_type,
             LEAST(GREATEST(v.c, b.lo), b.hi) AS wc
      FROM v JOIN b ON b.event_type = v.event_type)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(wc) AS BIGINT) AS lo_c, CAST(MAX(wc) AS BIGINT) AS hi_c,
           CAST(SUM(wc) AS BIGINT) AS sum_c
    FROM w GROUP BY event_type
    """,
    survey_ref="group-wise winsorization (operators/winsorize.py) — clip "
    "to empirical [p5, p95] per event type, the repair sibling of x12's "
    "MAD detection: positional percentile_disc bounds via exact integer "
    "rank ceil(q·n) (no float touches rank selection), ONE key-shuffle "
    "window pass + |keys|-row broadcast bounds join; winsorized sums "
    "exact in cents; promoted at r10",
)
def x22_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.winsorize import winsorize
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = winsorize(
        ev.select("event_type", cents.alias("c"), "event_id"),
        "event_type",
        "c",
        "event_id",
        q_lo=(5, 100),
        q_hi=(95, 100),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("clamped").alias("lo_c"),
        F.max("clamped").alias("hi_c"),
        F.sum("clamped").alias("sum_c"),
    )


@register(
    "o14_dq_checks",
    # a clean-data suite (zeros) plus checks DESIGNED to fire on the
    # testdata (range tighter than reality, FK against a filtered parent)
    # so the gate proves both directions
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_violations
    FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders
          GROUP BY 1 HAVING COUNT(*) > 1) d
    UNION ALL
    SELECT 'lineitem_orderkey_not_null',
           CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(COUNT(*) FILTER (l_returnflag NOT IN ('A','N','R')
                                 OR l_returnflag IS NULL) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem_fk_even_orders_only',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0) o
      ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'quantity_in_1_50',
           CAST(COUNT(*) FILTER (l_quantity IS NULL OR l_quantity < 1
                                 OR l_quantity > 50) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'quantity_in_1_10_fires',
           CAST(COUNT(*) FILTER (l_quantity IS NULL OR l_quantity < 1
                                 OR l_quantity > 10) AS BIGINT)
    FROM lineitem
    """,
    survey_ref="declarative data-quality checks (operators/dq.py — the "
    "dbt-tests/Deequ surface): unique / not-null / accepted-values / "
    "referential-integrity / range constraints each compiled to one "
    "scan+aggregate or anti-join, unioned into a (check, n_violations) "
    "report; the gate runs a clean suite (zeros) AND deliberately-firing "
    "checks (tightened range, filtered parent) so both directions are "
    "pinned; promoted at r10",
)
def o14_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import (
        check_accepted,
        check_foreign_key,
        check_in_range,
        check_not_null,
        check_unique,
        run_checks,
    )
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    even_orders = orders.filter(F.col("o_orderkey") % 2 == 0)
    return run_checks([
        check_unique(orders, ["o_orderkey"], "orders_pk_unique"),
        check_not_null(li, "l_orderkey", "lineitem_orderkey_not_null"),
        check_accepted(li, "l_returnflag", ["A", "N", "R"], "returnflag_domain"),
        check_foreign_key(li, "l_orderkey", orders, "o_orderkey",
                          "lineitem_fk_orders"),
        check_foreign_key(li, "l_orderkey", even_orders, "o_orderkey",
                          "lineitem_fk_even_orders_only"),
        check_in_range(li, "l_quantity", 1, 50, "quantity_in_1_50"),
        check_in_range(li, "l_quantity", 1, 10, "quantity_in_1_10_fires"),
    ])


@register(
    "x23_cusum",
    # every statistic is an exact bigint: cents enter via the decimal cast,
    # mu0/k/h are integer literals, and both engines run the identical
    # prefix-sum / running-min windows over the identical total order
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT user_id, event_id, ts_ns,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM ev),
    p AS (
      SELECT user_id, event_id, ts_ns,
             SUM(cents - 5000 - 500) OVER w AS pp,
             SUM(5000 - cents - 500) OVER w AS pn
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
                   ROWS UNBOUNDED PRECEDING)),
    s AS (
      -- the running-min window repeats the FULL (ts_ns, event_id) tiebreak
      -- of the prefix-sum window above: with duplicate ts_ns per user a
      -- ts_ns-only order would make the prefix running-min nondeterministic
      -- in DuckDB and diverge from the Spark operator's order_cols
      -- (ADVICE r8 item 1)
      SELECT user_id, ts_ns,
             pp - LEAST(0, MIN(pp) OVER w) AS sp,
             pn - LEAST(0, MIN(pn) OVER w) AS sn
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT user_id AS key, COUNT(*) AS n,
           CAST(MAX(sp) AS BIGINT) AS max_pos,
           CAST(MAX(sn) AS BIGINT) AS max_neg,
           CAST(COALESCE(SUM(CASE WHEN sp > 50000 OR sn > 50000
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_alarm_rows,
           MIN(CASE WHEN sp > 50000 OR sn > 50000 THEN ts_ns END)
             AS first_alarm_ts
    FROM s GROUP BY 1
    """,
    survey_ref="CUSUM change-point detection (operators/changepoint.py) — "
    "Page's sequential drift detector, the ORDERED sibling of I14's "
    "mean+2sigma screen. The max(0, S+d) recursion that looks like a "
    "sequential fold collapses to prefix-sum minus running-min, so the "
    "whole detector is ONE key-partitioned ordered window (running sum, "
    "running min over it, per-key summary aggregate — all on a single "
    "exchange, pure codegen, no UDF); exact integer cents against "
    "mu0=5000c k=500c h=50000c fires 24 up-drift and 11 down-drift users "
    "of 150 at sf0.01, exercising both sides; the resetting variant is "
    "documented as genuinely sequential and deliberately out; promoted at r10",
)
def x23_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.changepoint import cusum_summary
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    rows = ev.select(
        "user_id", "event_id", "ts_ns", cents.alias("cents")
    )
    return cusum_summary(
        rows,
        "user_id",
        ["ts_ns", "event_id"],
        "ts_ns",
        "cents",
        target=5000,
        allowance=500,
        threshold=50000,
    ).select(F.col("user_id").alias("key"), "n", "max_pos", "max_neg",
             "n_alarm_rows", "first_alarm_ts")


def _bfs_oracle(rounds: int) -> str:
    ctes = [
        """eraw AS (
      SELECT DISTINCT 'c' || o_custkey AS s, 's' || l_suppkey AS t
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        "edges AS (SELECT s, t FROM eraw UNION ALL SELECT t AS s, s AS t FROM eraw)",
        """d0 AS (
      SELECT 's' || s_suppkey AS node, 0 AS dist, 's' || s_suppkey AS root
      FROM supplier WHERE s_suppkey % 10 = 0)""",
        "f0 AS (SELECT node, root FROM d0)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
      SELECT e.t AS node, MIN(f.root) AS root
      FROM edges e JOIN f{r - 1} f ON f.node = e.s GROUP BY e.t)"""
        )
        ctes.append(
            f"""n{r} AS (
      SELECT c.node, {r} AS dist, c.root
      FROM c{r} c LEFT JOIN d{r - 1} d ON d.node = c.node
      WHERE d.node IS NULL)"""
        )
        ctes.append(
            f"d{r} AS (SELECT * FROM d{r - 1} UNION ALL SELECT * FROM n{r})"
        )
        ctes.append(f"f{r} AS (SELECT node, root FROM n{r})")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist, root FROM d{rounds}"


@register(
    "g12_bfs_hops",
    oracle=None,  # set below: generated unrolled-round twin
    survey_ref="distributed multi-source BFS with nearest-seed assignment "
    "(operators/bfs.py) — the scale-out member of the reference's G2 "
    "graph-walk family (its driver-side Dijkstra is right for the ~1e4-node "
    "token graph; this is for graphs that do NOT fit a driver): hop "
    "distance + graph-Voronoi root labels from 10 seed suppliers over the "
    "DEDUPED bidirected trade graph, 3 rounds; per round ONE edge hash "
    "join + one min-root agg + one anti-join, frontier shrinks as the "
    "ball saturates, lineage cut per round; smallest-root tie-break makes "
    "it a pure function of (edges, seeds, rounds) so the DuckDB twin "
    "replays the SAME rounds as generated CTEs (g7/g9/g10 pattern); "
    "promoted at r10",
)
def g12_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bfs import bfs_nearest_seed
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("s"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("t"),
        )
        .distinct()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("t").alias("s"), F.col("s").alias("t"))
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return bfs_nearest_seed(edges, seeds, rounds=3)


REGISTRY["g12_bfs_hops"] = QuerySpec(
    name="g12_bfs_hops",
    build=REGISTRY["g12_bfs_hops"].build,
    oracle=_bfs_oracle(rounds=3),
    survey_ref=REGISTRY["g12_bfs_hops"].survey_ref,
)


@register(
    "txt_chi2_features",
    # every quantity is a COUNT, so chi2 is an exact rational: both
    # engines build num = 1e9*N*det^2 in wide integers (decimal(38,0) /
    # HUGEINT) and take ONE positive-operand integer division
    oracle="""
    WITH tok AS (
      SELECT lang,
             list_distinct(list_filter(string_split(lower(text), ' '),
                                       x -> x != '')) AS toks
      FROM documents),
    nc AS (SELECT lang, COUNT(*) AS n_class FROM tok GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    occ AS (SELECT lang, unnest(toks) AS term FROM tok),
    ac AS (SELECT lang AS class, term, COUNT(*) AS a FROM occ GROUP BY 1, 2),
    wd AS (SELECT class, term, a,
                  CAST(SUM(a) OVER (PARTITION BY term) AS BIGINT) AS df
           FROM ac),
    f AS (SELECT w.class, w.term, w.a, w.df, nc.n_class, tot.n
          FROM wd w JOIN nc ON nc.lang = w.class CROSS JOIN tot),
    g AS (SELECT class, term, a, df, n_class, n,
                 a * (n - df - n_class + a)
                   - (df - a) * (n_class - a) AS det,
                 -- HUGEINT like the numerator: den peaks at ~N^4/16,
                 -- past BIGINT around N ~ 110k docs (ADVICE r8 item 2)
                 CAST(df AS HUGEINT) * (n - df) * n_class * (n - n_class)
                   AS den
          FROM f),
    h AS (SELECT class, term, a, df, n_class,
                 CAST((CAST(1000000000 AS HUGEINT) * n * det * det) // den
                      AS BIGINT) AS chi2_9
          FROM g WHERE den > 0),
    r AS (SELECT *, row_number() OVER (PARTITION BY class
                                       ORDER BY chi2_9 DESC, term) AS rank
          FROM h)
    SELECT class, term, a, df, n_class, chi2_9, rank
    FROM r WHERE rank <= 25
    """,
    survey_ref="chi-squared feature selection (operators/chi2.py) — the "
    "vocabulary screen behind fastText-style quality/langid classifier "
    "training (C4/CCNet lineage): presence-based 2x2 contingency per "
    "(term, class) with chi2_9 = floor(1e9*N*det^2/den) in exact wide "
    "integers; ONE distinct-(doc,term) explode scan, df as a window over "
    "the term partition (no second scan), broadcast class sizes, "
    "constant-folded N dim, rank<=25 via WindowGroupLimit; degenerate "
    "df==N / n_class==N strata excluded on both engines; promoted at r10",
)
def txt_chi2_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.chi2 import chi2_topk_terms
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return chi2_topk_terms(docs, "lang", ws_tokens(F.col("text")), k=25)


@register(
    "o15_k_anonymity",
    # pure GROUP BY counts — exact integers; NULL QI classes group
    # normally in both engines, NULL sensitive adds one explicit state
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size,
             COUNT(DISTINCT c_acctbal)
               + MAX(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
               AS n_sensitive
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, class_size,
           CAST(n_sensitive AS BIGINT) AS n_sensitive,
           class_size < 8 AS k_violation,
           n_sensitive < 8 AS l_violation
    FROM g WHERE class_size < 8 OR n_sensitive < 8
    """,
    survey_ref="k-anonymity / l-diversity release screen "
    "(operators/kanon.py — Sweeney 2002 / Machanavajjhala 2007): every "
    "(nation, segment) quasi-identifier class must hold >=k records AND "
    ">=l distinct sensitive values before an extract ships; ONE hash "
    "aggregate on the QI tuple (count + count-distinct compile to one "
    "two-phase agg), filter to violators — the actionable relation of "
    "the generalize-and-re-run release loop; NULL-QI classes audited, "
    "not dropped; promoted at r10",
)
def o15_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kanon import kanon_violations
    from ..sources.testdata import load_table

    cust = load_table(spark, sf_dir, "customer")
    return kanon_violations(
        cust, ["c_nationkey", "c_mktsegment"], "c_acctbal", k=8, l_div=8
    )


@register(
    "o16_benford",
    # the irrational log10 expectations are 1e9-scaled integer LITERALS
    # (the operator's spec, identical by construction); the chi-square
    # contribution is one positive-operand integer division over exact
    # wide integers
    oracle="""
    WITH p9(digit, p9) AS (VALUES
      (1, 301029995), (2, 176091259), (3, 124938736), (4, 96910013),
      (5, 79181246), (6, 66946789), (7, 57991946), (8, 51152522),
      (9, 45757490)),
    obs AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit,
             COUNT(*) AS n_obs
      FROM orders WHERE o_totalprice > 0 GROUP BY 1),
    tot AS (SELECT SUM(n_obs) AS n FROM obs),
    j AS (
      SELECT p.digit, COALESCE(o.n_obs, 0) AS n_obs, p.p9, tot.n
      FROM p9 p LEFT JOIN obs o ON o.digit = p.digit CROSS JOIN tot)
    SELECT CAST(digit AS BIGINT) AS digit, n_obs, CAST(p9 AS BIGINT) AS p9,
           CAST(((CAST(1000000000 AS HUGEINT) * n_obs - n * p9)
                 * (CAST(1000000000 AS HUGEINT) * n_obs - n * p9))
                // (n * p9) AS BIGINT) AS chi2_9
    FROM j
    """,
    survey_ref="Benford first-digit conformance screen "
    "(operators/benford.py) — the forensic/data-quality audit for "
    "financial magnitude columns (the MEV accounting surfaces are such "
    "columns): leading digit via exact string head on cents integers "
    "(no doubles, no logs), expectations as 1e9-scaled integer literal "
    "spec constants, per-digit chi2_9 in exact decimal(38)/HUGEINT with "
    "ONE integer division; absent digits surface as n_obs=0 rows (the "
    "loudest violation must not vanish); one column-pruned scan + 9-row "
    "agg + broadcast dims; promoted at r10",
)
def o16_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.benford import benford_screen
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    return benford_screen(orders, "cents")


@register(
    "txt_nb_train",
    # training IS aggregation: every model quantity is a count, and the
    # Laplace likelihood ships as an exact (num, den) rational pair
    oracle="""
    WITH base AS (
      SELECT lang AS class,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents WHERE lang IS NOT NULL),
    ndc AS (SELECT class, COUNT(*) AS n_docs_class FROM base GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM base),
    occ AS (SELECT class, unnest(toks) AS term FROM base),
    tf AS (SELECT class, term, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
    ct AS (SELECT class, CAST(SUM(tf) AS BIGINT) AS class_tokens
           FROM tf GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT term) AS vocab FROM tf)
    SELECT t.class, t.term, t.tf, t.tf + 1 AS like_num,
           c.class_tokens + v.vocab AS like_den,
           ndc.n_docs_class, nd.n_docs, c.class_tokens, v.vocab
    FROM tf t
    JOIN ct c USING (class) JOIN ndc USING (class)
    CROSS JOIN v CROSS JOIN nd
    """,
    survey_ref="multinomial Naive Bayes training (operators/nb.py) — the "
    "count-native classifier behind CCNet/C4-style quality and language "
    "filters, paired with chi2 vocabulary selection: ONE token-explode "
    "scan + two hash aggregates (tf, class totals), model emitted as "
    "exact integer rationals (tf+1)/(class_tokens+V) with priors — no "
    "logs, no doubles, engine-exact; the scorer (nb_classify, broadcast "
    "model + left join for sparse unseen-term mass) is the documented "
    "double boundary, pinned against an independent Python reference in "
    "tests/test_nb.py; promoted at r10",
)
def txt_nb_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.nb import nb_train
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return nb_train(docs, "lang", ws_tokens(F.col("text")))


def _rfm_cut_cte(metric: str, tag: str) -> str:
    picks = ", ".join(
        f"MAX(CASE WHEN rn = ({i} * n.n + 4) // 5 THEN v END) AS c{i}"
        for i in range(1, 5)
    )
    return f"""{tag} AS (
      SELECT {picks}
      FROM (SELECT {metric} AS v,
                   row_number() OVER (ORDER BY {metric}) AS rn
            FROM base) CROSS JOIN n)"""


def _rfm_oracle() -> str:
    bucket = lambda m, t: (  # noqa: E731
        f"CAST(1 + (CASE WHEN {m} > {t}.c1 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {m} > {t}.c2 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {m} > {t}.c3 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {m} > {t}.c4 THEN 1 ELSE 0 END) AS INT)"
    )
    return f"""
    WITH {EV_CTE},
    agg AS (
      SELECT user_id, MAX(ts_ns) AS last_ts, COUNT(*) AS frequency,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS monetary
      FROM ev GROUP BY 1),
    mx AS (SELECT MAX(last_ts) AS gmax FROM agg),
    base AS (
      SELECT user_id, mx.gmax - last_ts AS recency_ns, frequency, monetary
      FROM agg CROSS JOIN mx),
    n AS (SELECT COUNT(*) AS n FROM base),
    {_rfm_cut_cte("recency_ns", "rcut")},
    {_rfm_cut_cte("frequency", "fcut")},
    {_rfm_cut_cte("monetary", "mcut")}
    SELECT user_id AS key, recency_ns, frequency, monetary,
           {bucket("recency_ns", "rcut")} AS r_bucket,
           {bucket("frequency", "fcut")} AS f_bucket,
           {bucket("monetary", "mcut")} AS m_bucket
    FROM base CROSS JOIN rcut CROSS JOIN fcut CROSS JOIN mcut
    """


@register(
    "x24_rfm_segments",
    oracle=None,  # set below: generated cut-pivot twin
    survey_ref="RFM segmentation on exact-quantile bucketize "
    "(operators/bucketize.py) — feature discretization WITHOUT the "
    "global-ntile single-partition sort: quintile cuts via the two-pass "
    "histogram->refine rank-selection core (one hash agg + one bounded "
    "refine shuffle per metric over the per-user relation), then "
    "pure-codegen comparison chains (bucket = 1 + sum[v > cut_i], zero "
    "extra shuffle); percentile_disc-lower cuts, ties collapse to the "
    "lower bucket, duplicate cuts skip labels identically on both "
    "engines; promoted at r10",
)
def x24_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketize import rfm_segments
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    rows = ev.select("user_id", "ts_ns", cents.alias("cents"))
    return rfm_segments(rows, "user_id", "ts_ns", "cents", k=5).select(
        F.col("user_id").alias("key"), "recency_ns", "frequency", "monetary",
        "r_bucket", "f_bucket", "m_bucket"
    )


REGISTRY["x24_rfm_segments"] = QuerySpec(
    name="x24_rfm_segments",
    build=REGISTRY["x24_rfm_segments"].build,
    oracle=_rfm_oracle(),
    survey_ref=REGISTRY["x24_rfm_segments"].survey_ref,
)


@register(
    "x25_autocorr",
    # the x20 parity pattern: exact integer num/d1/d2 (HUGEINT/decimal38),
    # then one int64->double, *, IEEE sqrt, / chain — every op correctly
    # rounded, so the corr9 floor agrees bit-for-bit
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT user_id, event_id, ts_ns,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM ev),
    p AS (
      SELECT user_id, cents AS y,
             LAG(cents, 1) OVER (PARTITION BY user_id
                                 ORDER BY ts_ns, event_id) AS x
      FROM b),
    c AS (SELECT user_id, x, y FROM p WHERE x IS NOT NULL),
    a AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM c GROUP BY 1),
    f AS (
      SELECT user_id, n,
             CAST(n * sxy - sx * sy AS BIGINT) AS num,
             CAST(n * sxx - sx * sx AS BIGINT) AS d1,
             CAST(n * syy - sy * sy AS BIGINT) AS d2
      FROM a)
    SELECT user_id AS key, CAST(1 AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             CAST(FLOOR(1000000000.0 * CAST(num AS DOUBLE)
                  / SQRT(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)))
                  AS BIGINT)
           END AS corr9
    FROM f
    """,
    survey_ref="lag-1 autocorrelation (operators/ols.autocorr on the new "
    "general pearson_corr_xy face) — the sample ACF point estimate in "
    "pairwise form, the drift-screen sibling CUSUM then localizes in "
    "time; ONE ordered window (lag) sharing the key exchange with the "
    "exact-sum correlation aggregate, x20's correctly-rounded final "
    "double chain; promoted at r10",
)
def x25_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ols import autocorr
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    rows = ev.select("user_id", "event_id", "ts_ns", cents.alias("cents"))
    return autocorr(
        rows, "user_id", ["ts_ns", "event_id"], "cents", lag=1
    ).select(F.col("user_id").alias("key"), "lag", "n", "corr9")


@register(
    "o17_compaction_plan",
    # the file listing synthesizes deterministically from orders (one
    # "file" per order date, size = rows x 97-byte proxy width) so both
    # engines plan over the identical metadata relation
    oracle="""
    WITH f AS (
      SELECT CAST(o_orderdate AS VARCHAR) AS file_id,
             COUNT(*) * 97 AS size_bytes
      FROM orders GROUP BY 1),
    p AS (
      SELECT file_id, size_bytes,
             SUM(size_bytes) OVER (ORDER BY size_bytes DESC, file_id ASC
                                   ROWS UNBOUNDED PRECEDING) - size_bytes
               AS before
      FROM f)
    SELECT file_id AS file, CAST(size_bytes AS BIGINT) AS size_bytes,
           CAST(before // 4000 AS BIGINT) AS bin
    FROM p
    """,
    survey_ref="small-file compaction planning (operators/compaction.py) "
    "— the OPTIMIZE scheduler as ONE ordered window over the "
    "metadata-sized file listing: (size DESC, file) layout order, "
    "running-byte boundary binning every target_bytes (bin = bytes-before "
    "div target), oversized files isolate in their own bins, every bin "
    "bounded by target + max_file; no driver loop, no sequential "
    "first-fit fold; the global window is deliberate and bounded by "
    "listing cardinality, never data; promoted at r10",
)
def o17_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compaction import compaction_plan
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy("o_orderdate").agg(
        (F.count(F.lit(1)) * 97).alias("size_bytes")
    ).select(
        F.col("o_orderdate").cast("string").alias("file_id"), "size_bytes"
    )
    return compaction_plan(files, "file_id", "size_bytes", target_bytes=4000)


@register(
    "o18_assoc_rules",
    # every statistic is a basket count; support/confidence/lift ship as
    # exact scaled-integer floors (one positive integer division each)
    oracle="""
    WITH m AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey % 50 AS item
      FROM lineitem),
    ni AS (SELECT item, COUNT(*) AS n_i FROM m GROUP BY 1),
    nb AS (SELECT COUNT(DISTINCT b) AS n FROM m),
    p AS (
      SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS n_ab
      FROM m a JOIN m c ON a.b = c.b AND a.item < c.item
      GROUP BY 1, 2 HAVING COUNT(*) >= 90)
    SELECT p.item_a, p.item_b,
           na.n_i AS n_a, nc.n_i AS n_b, p.n_ab,
           CAST((CAST(1000000000 AS HUGEINT) * p.n_ab) // nb.n AS BIGINT)
             AS support_9,
           CAST((CAST(1000000000 AS HUGEINT) * p.n_ab) // na.n_i AS BIGINT)
             AS conf_a_to_b_9,
           CAST((CAST(1000000000 AS HUGEINT) * p.n_ab) // nc.n_i AS BIGINT)
             AS conf_b_to_a_9,
           CAST((CAST(1000000000 AS HUGEINT) * nb.n * p.n_ab)
                // (CAST(na.n_i AS HUGEINT) * nc.n_i) AS BIGINT) AS lift_9
    FROM p
    JOIN ni na ON na.item = p.item_a
    JOIN ni nc ON nc.item = p.item_b
    CROSS JOIN nb
    """,
    survey_ref="association rules over baskets (operators/assoc.py — "
    "Agrawal & Srikant 1994's 2-itemset core): support / confidence / "
    "lift as exact scaled-integer rationals; pair generation is a "
    "basket-key self-join bounded by basket size (never corpus x "
    "corpus, the PMI posture), min-support prunes BEFORE the broadcast "
    "item-count lift join, N constant-folds; mega-basket skew documented "
    "with the domain-cap/salting upgrade path; TPC-H orders x part "
    "category (mod-50) baskets, min_pair_count=90 exercises the prune "
    "on both sides; promoted at r10",
)
def o18_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.assoc import association_rules
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("b"),
        (F.col("l_partkey") % 50).alias("item"),
    )
    return association_rules(li, "b", "item", min_pair_count=90).select(
        "item_a", "item_b", "n_a", "n_b", "n_ab",
        "support_9", "conf_a_to_b_9", "conf_b_to_a_9", "lift_9"
    )


@register(
    "o19_pareto",
    # the threshold test is cross-multiplied integers (5*cum >= 4*total),
    # top1 share one positive integer division — no percentage doubles
    oracle="""
    WITH contrib AS (
      SELECT s.s_nationkey AS grp, l.l_suppkey AS member,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2),
    r AS (
      SELECT grp, member, cents,
             SUM(cents) OVER (PARTITION BY grp ORDER BY cents DESC, member
                              ROWS UNBOUNDED PRECEDING) AS cum,
             row_number() OVER (PARTITION BY grp
                                ORDER BY cents DESC, member) AS rk,
             SUM(cents) OVER (PARTITION BY grp) AS total
      FROM contrib)
    SELECT grp, COUNT(*) AS n_members, CAST(MAX(total) AS BIGINT) AS total,
           MIN(CASE WHEN total > 0 AND 5 * cum >= 4 * total THEN rk END)
             AS n_cover,
           CAST(CASE WHEN MAX(total) > 0 THEN
             (CAST(1000000000 AS HUGEINT)
              * MAX(CASE WHEN rk = 1 THEN cents END)) // MAX(total)
           END AS BIGINT) AS top1_share_9
    FROM r GROUP BY 1
    """,
    survey_ref="Pareto concentration (operators/pareto.py) — 'how many "
    "suppliers cover 80% of a nation's revenue' (the corpus twin: 'how "
    "many domains supply 80% of tokens'); ONE key exchange end to end "
    "(rank + running sum + group total share the sort, the twap "
    "discipline), cross-multiplied integer threshold, exact cents; "
    "promoted at r10",
)
def o19_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pareto import pareto_cover
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    contrib = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("grp"),
                 F.col("l_suppkey").alias("member"))
        .agg(F.sum("cents").alias("cents"))
    )
    return pareto_cover(contrib, "grp", "member", "cents", num=4, den=5)


def _sssp_oracle(rounds: int) -> str:
    ctes = [
        """eraw AS (
      SELECT 'c' || o_custkey AS s, 's' || l_suppkey AS t,
             CAST(MIN(l_quantity) AS BIGINT) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2)""",
        "edges AS (SELECT s, t, w FROM eraw"
        " UNION ALL SELECT t AS s, s AS t, w FROM eraw)",
        """d0 AS (
      SELECT 's' || s_suppkey AS node, CAST(0 AS BIGINT) AS dist,
             's' || s_suppkey AS root
      FROM supplier WHERE s_suppkey % 10 = 0)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
      SELECT e.t AS node, d.dist + e.w AS dist, d.root
      FROM edges e JOIN d{r - 1} d ON d.node = e.s)"""
        )
        ctes.append(
            f"""d{r} AS (
      SELECT node, dist, root FROM (
        SELECT node, dist, root,
               row_number() OVER (PARTITION BY node
                                  ORDER BY dist, root) AS rn
        FROM (SELECT * FROM d{r - 1} UNION ALL SELECT * FROM c{r})) x
      WHERE rn = 1)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist, root FROM d{rounds}"


@register(
    "g13_sssp_weighted",
    oracle=None,  # set below: generated unrolled-round twin
    survey_ref="weighted multi-source shortest paths "
    "(operators/bfs.sssp_bellman_ford) — fixed-round Bellman-Ford "
    "completing the graph family's weighted dimension: per round one "
    "edge hash join + one (dist, root)-struct argmin over settled ∪ "
    "relaxed (later rounds IMPROVE distances, unlike hop-BFS), "
    "non-negative integer min-quantity weights on the deduped bidirected "
    "trade graph, smallest-root distance-tie-break; DuckDB twin replays "
    "the SAME 3 rounds as generated rank-1 CTEs; promoted at r10",
)
def g13_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bfs import sssp_bellman_ford
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("s"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("t"),
        )
        .agg(F.min("l_quantity").cast("long").alias("w"))
    )
    edges = pairs.unionAll(
        pairs.select(F.col("t").alias("s"), F.col("s").alias("t"), "w")
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return sssp_bellman_ford(edges, seeds, rounds=3).select(
        "node", F.col("dist").cast("long").alias("dist"), "root"
    )


REGISTRY["g13_sssp_weighted"] = QuerySpec(
    name="g13_sssp_weighted",
    build=REGISTRY["g13_sssp_weighted"].build,
    oracle=_sssp_oracle(rounds=3),
    survey_ref=REGISTRY["g13_sssp_weighted"].survey_ref,
)


@register(
    "o20_skew_profile",
    # counts, ranks, and two exact scaled-integer ratios; the 1-row
    # summary broadcasts onto the hot-key list so one gate pins both faces
    oracle=f"""
    WITH {EV_CTE},
    c AS (SELECT user_id AS key, COUNT(*) AS cnt FROM ev GROUP BY 1),
    r AS (SELECT key, cnt,
                 row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank
          FROM c),
    s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 COUNT(*) AS n_keys, MAX(cnt) AS max_cnt
          FROM c)
    SELECT r.key, r.cnt, r.rank, s.n_rows, s.n_keys, s.max_cnt,
           CAST((CAST(1000000000 AS HUGEINT) * s.max_cnt * s.n_keys)
                // s.n_rows AS BIGINT) AS skew_ratio_9,
           CAST((CAST(1000000000 AS HUGEINT) * s.max_cnt)
                // s.n_rows AS BIGINT) AS p_hot_9
    FROM r CROSS JOIN s WHERE r.rank <= 5
    """,
    survey_ref="join-key skew profiling (operators/skew.py) — the "
    "pre-flight check that picks plain-shuffle vs AQE skew-split vs "
    "salted join (the top-k hot list feeds salted_join's hot-key set "
    "directly, and KMV join_size_estimate answers the companion "
    "output-size question): one map-side-combined count aggregate, "
    "rank<=k hot list, exact scaled-integer skew_ratio/p_hot; promoted at r10",
)
def o20_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import key_skew_profile, key_skew_summary
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    prof = key_skew_profile(ev, "user_id", top_k=5)
    summ = key_skew_summary(ev, "user_id")
    return prof.join(F.broadcast(summ))


@register(
    "txt_readability",
    # each count is one codegen regexp pass (engine-verified identical
    # semantics); flesch_9 is one truncating integer division — the
    # truncation (not floor) convention is the documented rounding and
    # both engines truncate toward zero identically
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x != '')) AS BIGINT) AS words,
             GREATEST(CAST(1 AS BIGINT),
               CAST(length(regexp_replace(text, '[.!?]+', 'V', 'g'))
                    - length(regexp_replace(text, '[.!?]+', '', 'g'))
                    AS BIGINT)) AS sentences,
             CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
                  - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
                  AS BIGINT) AS syllables
      FROM documents)
    SELECT doc_id, words, sentences, syllables,
           CASE WHEN words > 0 THEN CAST(
             (CAST(206835000000 AS HUGEINT) * sentences * words
              - CAST(1015000000 AS HUGEINT) * words * words
              - CAST(84600000000 AS HUGEINT) * syllables * sentences)
             // (CAST(1000 AS HUGEINT) * sentences * words) AS BIGINT)
           END AS flesch_9
    FROM c
    """,
    survey_ref="readability scoring (functions/text.readability_counts + "
    "with_flesch_9) — the dictionary-free Flesch reading-ease quality "
    "signal beside the Gopher rules: words / sentence-boundary groups / "
    "vowel-group syllable proxies, each ONE zero-shuffle codegen regexp "
    "pass (no explode — whitespace breaks vowel runs at word boundaries "
    "on its own), flesch_9 as one truncating integer division over "
    "decimal(38)/HUGEINT; promoted at r10",
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import readability_counts, with_flesch_9
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    counts = readability_counts(F.col("text"))
    base = docs.select(
        "doc_id",
        counts["words"].alias("words"),
        counts["sentences"].alias("sentences"),
        counts["syllables"].alias("syllables"),
    )
    return with_flesch_9(base, "words", "sentences", "syllables")


_PPR_SEEDS_SQL = (
    "seeds(node) AS (SELECT 's' || s_suppkey FROM supplier "
    "WHERE s_suppkey % 10 = 0)"
)


def _ppr_oracle() -> str:
    from ..operators.pagerank import ppr_oracle_sql

    return ppr_oracle_sql(_PR_EDGES_SQL, _PPR_SEEDS_SQL, iters=3)


@register(
    "g14_ppr",
    oracle=None,  # set below: generated unrolled-iteration twin
    survey_ref="personalized PageRank (operators/pagerank.ppr_integer) — "
    "teleport mass restricted to the 10 seed suppliers over the "
    "bidirectional trade graph: importance RELATIVE to a seed set, the "
    "related-entity/topic-conditioned ranking whose locality (rank "
    "support grows only iters hops from the seeds) is what makes it a "
    "100 TB citizen; same exact-integer per-iteration arithmetic and "
    "unrolled-CTE twin as g7, with the start/teleport constants computed "
    "from counts on BOTH engines so one oracle serves every sf; promoted at r10",
)
def g14_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import ppr_integer
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return ppr_integer(edges, seeds, iters=3)


REGISTRY["g14_ppr"] = QuerySpec(
    name="g14_ppr",
    build=REGISTRY["g14_ppr"].build,
    oracle=_ppr_oracle(),
    survey_ref=REGISTRY["g14_ppr"].survey_ref,
)


@register(
    "o21_corr_matrix",
    # one aggregate computes every sum/square/cross-product; the oracle
    # unpivots the same single row via UNION ALL branches over a shared CTE
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 100000 AS price_k,
             CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
               AS disc_c,
             CAST(CAST(l_tax AS DECIMAL(4,2)) * 100 AS BIGINT) AS tax_c
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
    a AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(qty) AS HUGEINT) AS s0, CAST(SUM(qty*qty) AS HUGEINT) AS q0,
             CAST(SUM(price_k) AS HUGEINT) AS s1, CAST(SUM(price_k*price_k) AS HUGEINT) AS q1,
             CAST(SUM(disc_c) AS HUGEINT) AS s2, CAST(SUM(disc_c*disc_c) AS HUGEINT) AS q2,
             CAST(SUM(tax_c) AS HUGEINT) AS s3, CAST(SUM(tax_c*tax_c) AS HUGEINT) AS q3,
             CAST(SUM(qty*price_k) AS HUGEINT) AS p01,
             CAST(SUM(qty*disc_c) AS HUGEINT) AS p02,
             CAST(SUM(qty*tax_c) AS HUGEINT) AS p03,
             CAST(SUM(price_k*disc_c) AS HUGEINT) AS p12,
             CAST(SUM(price_k*tax_c) AS HUGEINT) AS p13,
             CAST(SUM(disc_c*tax_c) AS HUGEINT) AS p23
      FROM b),
    l AS (
      SELECT 'qty' AS col_a, 'price_k' AS col_b, n, p01 AS sxy, s0 AS sx, s1 AS sy, q0 AS sxx, q1 AS syy FROM a
      UNION ALL SELECT 'qty', 'disc_c', n, p02, s0, s2, q0, q2 FROM a
      UNION ALL SELECT 'qty', 'tax_c', n, p03, s0, s3, q0, q3 FROM a
      UNION ALL SELECT 'price_k', 'disc_c', n, p12, s1, s2, q1, q2 FROM a
      UNION ALL SELECT 'price_k', 'tax_c', n, p13, s1, s3, q1, q3 FROM a
      UNION ALL SELECT 'disc_c', 'tax_c', n, p23, s2, s3, q2, q3 FROM a),
    f AS (
      SELECT col_a, col_b, n,
             CAST(n * sxy - sx * sy AS BIGINT) AS num,
             CAST(n * sxx - sx * sx AS BIGINT) AS d1,
             CAST(n * syy - sy * sy AS BIGINT) AS d2
      FROM l)
    SELECT col_a, col_b, n,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             CAST(FLOOR(1000000000.0 * CAST(num AS DOUBLE)
                  / SQRT(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)))
                  AS BIGINT)
           END AS corr9
    FROM f
    """,
    survey_ref="one-pass correlation matrix (operators/ols.corr_matrix) "
    "— all k sums, squares, and k(k-1)/2 cross-products in a SINGLE "
    "map-side-combined aggregate over one scan (cost of a count(*), "
    "independent of the pair count), pair rows unpivoted from the 1-row "
    "aggregate with a literal stack; listwise-complete sample, x20's "
    "correctly-rounded final double chain per pair; lineitem "
    "qty/price/discount/tax cents; promoted at r10",
)
def o21_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ols import corr_matrix
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
               " div 100000").alias("price_k"),
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("long").alias("disc_c"),
        (F.col("l_tax").cast("decimal(4,2)") * 100).cast("long").alias("tax_c"),
    )
    return corr_matrix(li, ["qty", "price_k", "disc_c", "tax_c"])


@register(
    "o22_mann_whitney",
    # doubled midranks clear the .5 tie halves, so U and the identity
    # U_A + U_B = n_A*n_B are exact integers; rb_9 is one truncating
    # integer division (the flesch_9 convention, identical both engines)
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type = 'purchase' AS is_a,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM ev
      WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL),
    h AS (
      SELECT v, CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM b GROUP BY 1),
    r AS (
      SELECT ca, cb,
             CAST(SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) - ca - cb AS below
      FROM h),
    a AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
             CAST(SUM(ca * (2 * (1 + below) + ca + cb - 1)) AS BIGINT) AS r2a
      FROM r),
    f AS (
      SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2_a FROM a),
    g AS (
      SELECT n_a, n_b, u2_a, 2 * n_a * n_b - u2_a AS u2_b FROM f)
    SELECT n_a, n_b, u2_a, u2_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             CAST((CAST(u2_a - u2_b AS HUGEINT) * 1000000000)
                  // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
           END AS rb_9
    FROM g
    """,
    survey_ref="Mann-Whitney U (operators/mannwhitney.py) — the engine's "
    "first hypothesis-test surface: exact-integer nonparametric A/B via "
    "doubled midranks (U, the U_A+U_B=nAnB identity, and rank-biserial "
    "effect size all exact); ONE data-sized hash aggregate to the "
    "distinct-value histogram, then one ordered window over the value "
    "DOMAIN (partition-less deliberately — domain-sized, with upstream "
    "quantization as the tie/size policy); purchase-vs-error cents at "
    "the gate; promoted at r10",
)
def o22_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mannwhitney import mann_whitney_u
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    rows = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return mann_whitney_u(rows, "event_type", "cents", "purchase", "error")


@register(
    "o23_ks_test",
    # cross-multiplied ECDFs keep the max an exact integer; one positive
    # integer division scales it
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type = 'purchase' AS is_a,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM ev
      WHERE event_type IN ('purchase', 'error') AND value IS NOT NULL),
    h AS (
      SELECT v, CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM b GROUP BY 1),
    c AS (
      SELECT ca, cb,
             CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cuma,
             CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cumb,
             CAST(SUM(ca) OVER () AS BIGINT) AS na,
             CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM h),
    g AS (
      SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
             MAX(ABS(cuma * nb - cumb * na)) AS d_num
      FROM c)
    SELECT n_a, n_b, d_num,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             CAST((CAST(d_num AS HUGEINT) * 1000000000)
                  // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
           END AS d_9
    FROM g
    """,
    survey_ref="Kolmogorov-Smirnov two-sample statistic "
    "(operators/mannwhitney.ks_two_sample) — the pointwise-gap "
    "complement to MW's dominance view: D as an exact rational via "
    "cross-multiplied integer ECDFs (no division inside the max), same "
    "histogram->ordered-window shape, purchase-vs-error cents; promoted at r10",
)
def o23_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mannwhitney import ks_two_sample
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    rows = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return ks_two_sample(rows, "event_type", "cents", "purchase", "error")


@register(
    "o24_spearman",
    # doubled midranks are exact integers, so Spearman IS the pearson
    # exact-sum chain on ranks; one correctly-rounded double floor
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT (ts_ns - (ts_ns % 1000000000 + 1000000000) % 1000000000)
               // 1000000000 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL),
    hx AS (SELECT x, COUNT(*) AS c FROM b GROUP BY 1),
    rx AS (SELECT x, 2 * (CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED
                  PRECEDING) AS BIGINT) - c) + c + 1 AS mr2x FROM hx),
    hy AS (SELECT y, COUNT(*) AS c FROM b GROUP BY 1),
    ry AS (SELECT y, 2 * (CAST(SUM(c) OVER (ORDER BY y ROWS UNBOUNDED
                  PRECEDING) AS BIGINT) - c) + c + 1 AS mr2y FROM hy),
    j AS (SELECT rx.mr2x AS mx, ry.mr2y AS my
          FROM b JOIN rx ON rx.x = b.x JOIN ry ON ry.y = b.y),
    a AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(mx) AS HUGEINT) AS sx, CAST(SUM(my) AS HUGEINT) AS sy,
             CAST(SUM(mx * my) AS HUGEINT) AS sxy,
             CAST(SUM(mx * mx) AS HUGEINT) AS sxx,
             CAST(SUM(my * my) AS HUGEINT) AS syy
      FROM j),
    f AS (
      SELECT n, CAST(n * sxy - sx * sy AS BIGINT) AS num,
             CAST(n * sxx - sx * sx AS BIGINT) AS d1,
             CAST(n * syy - sy * sy AS BIGINT) AS d2
      FROM a)
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN d1 > 0 AND d2 > 0 THEN
             CAST(FLOOR(1000000000.0 * CAST(num AS DOUBLE)
                  / SQRT(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)))
                  AS BIGINT)
           END AS rho9
    FROM f
    """,
    survey_ref="Spearman rank correlation "
    "(operators/mannwhitney.spearman_corr) — the monotonic-association "
    "complement to Pearson's linear view: exact doubled midranks (MW "
    "trick) feed the pearson exact-sum chain unchanged; purchase-event "
    "time-vs-spend at the gate; envelope documented (4n^4/3 < 2^63 -> "
    "n ~ 1.2M per statistic, sample above); promoted at r10",
)
def o24_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mannwhitney import spearman_corr
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    rows = ev.filter(F.col("event_type") == "purchase").select(
        F.expr("(ts_ns - pmod(ts_ns, 1000000000)) div 1000000000").alias("t_s"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return spearman_corr(rows, "t_s", "cents")


@register(
    "ev_json_extract",
    # both engines build the IDENTICAL nested document by concatenation,
    # then extract scalars inside the probed parity envelope (leaf paths,
    # array index, missing/null -> NULL); k doubles through an arithmetic
    # round-trip to prove the typed getter, not just text passthrough.
    # NULL-semantics probes (VERDICT r9 directive 7 — DuckDB and Spark
    # diverge on JSON edges more than any other surface): top-level miss,
    # NESTED miss under an existing object ($.m.zzz), miss under a missing
    # object ($.zzz.deep), out-of-range array index ($.a[7]), and an
    # explicit JSON-null literal ($.n) — all five must be SQL NULL on both
    # engines (probed in-session r10: they are)
    oracle=f"""
    WITH {EV_CTE},
    j AS (
      SELECT event_id,
             '{{"m": ' || props || ', "t": "' || event_type
               || '", "n": null, "a": [' || CAST(user_id AS VARCHAR) || ', '
               || CAST(event_id AS VARCHAR) || ']}}' AS doc
      FROM ev),
    x AS (
      SELECT event_id,
             TRY_CAST(json_extract_string(doc, '$.m.k') AS BIGINT) AS k,
             json_extract_string(doc, '$.t') AS t,
             TRY_CAST(json_extract_string(doc, '$.a[0]') AS BIGINT) AS uid,
             TRY_CAST(json_extract_string(doc, '$.a[1]') AS BIGINT) AS eid,
             json_extract_string(doc, '$.missing') AS miss,
             json_extract_string(doc, '$.m.zzz') AS nested_miss,
             json_extract_string(doc, '$.zzz.deep') AS deep_miss,
             json_extract_string(doc, '$.a[7]') AS arr_oob,
             json_extract_string(doc, '$.n') AS jnull,
             TRY_CAST(json_extract_string(doc, '$.t') AS BIGINT) AS t_as_int
      FROM j)
    SELECT event_id, k * 2 AS k2, t, uid, eid,
           CASE WHEN miss IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END
             AS miss_is_null,
           CASE WHEN nested_miss IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END
             AS nested_miss_is_null,
           CASE WHEN deep_miss IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END
             AS deep_miss_is_null,
           CASE WHEN arr_oob IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END
             AS arr_oob_is_null,
           CASE WHEN jnull IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END
             AS json_null_is_null,
           CASE WHEN t_as_int IS NULL THEN CAST(1 AS BIGINT) ELSE 0 END
             AS typed_miscast_is_null
    FROM x
    """,
    survey_ref="JSON path extraction (functions/json.py) — the "
    "semi-structured column surface replacing regexp mining of the "
    "events props JSON: get_json_object / json_extract_string inside "
    "the PROBED parity envelope (scalar leaves, zero-based array index, "
    "missing/JSON-null -> SQL NULL on both engines; object-subtree "
    "re-serialization documented OUT of the envelope), typed getters "
    "with try-cast malformed-row tolerance; pure codegen, zero shuffle, "
    "column-pruning friendly; promoted at r10",
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.json import json_get, json_get_long
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    doc = F.concat(
        F.lit('{"m": '), F.col("props"), F.lit(', "t": "'),
        F.col("event_type"), F.lit('", "n": null, "a": ['),
        F.col("user_id").cast("string"), F.lit(", "),
        F.col("event_id").cast("string"), F.lit("]}"),
    )
    j = ev.select("event_id", doc.alias("doc"))
    return j.select(
        "event_id",
        (json_get_long(F.col("doc"), "$.m.k") * 2).alias("k2"),
        json_get(F.col("doc"), "$.t").alias("t"),
        json_get_long(F.col("doc"), "$.a[0]").alias("uid"),
        json_get_long(F.col("doc"), "$.a[1]").alias("eid"),
        json_get(F.col("doc"), "$.missing").isNull().cast("long").alias(
            "miss_is_null"
        ),
        json_get(F.col("doc"), "$.m.zzz").isNull().cast("long").alias(
            "nested_miss_is_null"
        ),
        json_get(F.col("doc"), "$.zzz.deep").isNull().cast("long").alias(
            "deep_miss_is_null"
        ),
        json_get(F.col("doc"), "$.a[7]").isNull().cast("long").alias(
            "arr_oob_is_null"
        ),
        json_get(F.col("doc"), "$.n").isNull().cast("long").alias(
            "json_null_is_null"
        ),
        # typed getter on a non-numeric leaf: try-cast -> NULL, never error
        json_get_long(F.col("doc"), "$.t").isNull().cast("long").alias(
            "typed_miscast_is_null"
        ),
    )


@register(
    "x26_seasonality",
    # the calendar grid derives from epoch INTEGERS (1970-01-01 was a
    # Thursday: dow = (days + 4) % 7, 0 = Sunday) — Spark's dayofweek()
    # is 1-based-Sunday while DuckDB's is 0-based-Sunday, so portable
    # pipelines never touch either engine's calendar function for grids
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT (ts_ns - (ts_ns % 1000000000 + 1000000000) % 1000000000)
               // 1000000000 AS ts_s,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM ev),
    g AS (
      SELECT ((ts_s // 86400) + 4) % 7 AS dow,
             (ts_s % 86400) // 3600 AS hour, cents
      FROM b)
    SELECT dow, hour, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM g GROUP BY 1, 2
    """,
    survey_ref="seasonality profile (day-of-week x hour-of-day activity "
    "grid) — the time-profile rollup behind load shaping and anomaly "
    "baselines, with the engine-parity lesson as the point: the grid "
    "derives from epoch-second INTEGER arithmetic ((days+4)%7, UTC) "
    "because Spark and DuckDB disagree on dayofweek() numbering; one "
    "hash aggregate, exact cents; promoted at r10",
)
def x26_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    # integer division end to end (the `div` discipline — no double hop)
    g = ev.select(
        F.expr("(ts_ns - pmod(ts_ns, 1000000000)) div 1000000000").alias("ts_s"),
        cents.alias("cents"),
    ).select(
        F.expr("((ts_s div 86400) + 4) % 7").alias("dow"),
        F.expr("(ts_s % 86400) div 3600").alias("hour"),
        "cents",
    )
    return g.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents_sum")
    )


@register(
    "x27_quantile_normalize",
    # the twin uses the lazy one-node global row_number; the operator
    # uses the histogram/sequence rank map — the VALUE at a pooled rank
    # is tie-order independent, so both produce identical rows
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_id, event_type AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM ev WHERE value IS NOT NULL),
    rn AS (
      SELECT event_id, grp, cents,
             CAST(row_number() OVER (PARTITION BY grp
                                     ORDER BY cents, event_id) AS BIGINT)
               AS rank_in_group
      FROM b),
    ng AS (SELECT grp, COUNT(*) AS n_g FROM b GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n FROM b),
    rs AS (
      SELECT rn.event_id, rn.grp, rn.cents, rn.rank_in_group,
             CAST((rn.rank_in_group * nt.n + ng.n_g - 1) // ng.n_g
                  AS BIGINT) AS pooled_rank
      FROM rn JOIN ng ON ng.grp = rn.grp CROSS JOIN nt),
    pool AS (
      SELECT cents AS normalized,
             CAST(row_number() OVER (ORDER BY cents) AS BIGINT) AS r
      FROM b)
    SELECT rs.event_id, rs.grp, rs.cents, rs.rank_in_group,
           rs.pooled_rank, pool.normalized
    FROM rs JOIN pool ON pool.r = rs.pooled_rank
    """,
    survey_ref="quantile normalization (operators/qnorm.py — Bolstad et "
    "al. 2003's batch-effect corrector; here: make per-source quality "
    "scores comparable): percentile_disc-lower pooled mapping with "
    "r* = ceil(rn*N/n_g) in exact integers; the scale path replaces the "
    "global-row_number anti-pattern with a domain histogram whose rank "
    "intervals explode into an N-row equi-join map (shuffled by rank, "
    "never one-task-sorted); event_type groups over cents; promoted at r10",
)
def x27_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.qnorm import quantile_normalize
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    rows = ev.select(
        "event_id",
        F.col("event_type").alias("grp"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return quantile_normalize(rows, "grp", "cents", ["event_id"]).select(
        "event_id", "grp", "cents", "rank_in_group", "pooled_rank", "normalized"
    )


@register(
    "ml_fold_assign",
    # fold = md5('0|' || user) % 5 — the functions/hashing.md5_long twin;
    # counts are exact and the group-atomicity invariant is structural
    oracle=f"""
    WITH {EV_CTE},
    f AS (
      SELECT ('0x' || substr(md5('0|' || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 5 AS fold,
             event_type, user_id
      FROM ev WHERE user_id IS NOT NULL)
    SELECT fold, event_type AS class, COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_groups
    FROM f GROUP BY 1, 2
    """,
    survey_ref="group-aware CV fold assignment (operators/folds.py) — "
    "leakage-safe deterministic splits: fold = md5(seed|group) % k, so "
    "same group -> same fold by construction and any engine reproduces "
    "the split bit-for-bit; zero-shuffle codegen assignment + one "
    "hash-agg balance report (rows/groups per fold x class), with "
    "exact-n stratified sampling as the documented alternative when "
    "exact sizes beat group atomicity; promoted at r10",
)
def ml_fold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.folds import fold_report
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return fold_report(ev, "user_id", "event_type", k=5)


# --- per-inspector golden-PnL driver words (staged r9, promoted r10) ------
#
# VERDICT r8 directive 5: I5 sandwich PnL, I12 liquidation, and I10 JIT
# were pytest-golden-only — a composite failure in mev_composer_bundles
# would not localize. These three gates run EACH inspector standalone on
# the planted fixture tables, and unlike the composer gate's literal
# golden VALUES, the oracles RECOMPUTE the PnL from the planted inputs:
# per-bundle searcher action legs (post coverage-dedup — the T6 rule that
# in-swap transfers drop is pinned separately by the accounting golden
# tests), the per-block planted token prices, and the planted gas
# arithmetic gas_used*effective_gas_price/1e18*eth_price — so a wrong
# delta sign, a missed leg, a price-join bug, or broken gas accounting
# all diverge from the oracle even if the final literal happened to
# coincide. The standalone outputs deliberately INCLUDE the block-109
# rows the composer later absorbs into jit_sandwich (O2/O3 precedence) —
# that difference from the composer gate is the localization value.
# Reference goldens: sandwich/mod.rs:1149+ ($88 / $97 / 2x$3 and the
# pre-composition $17), liquidations.rs:170-208 ($19), jit tests ($4).


def _fixture_ledger(spark: SparkSession) -> tuple[dict[str, DataFrame], DataFrame]:
    """The planted tables and the per-tx ledger `run_composer` builds from
    them."""
    from ..inspectors.accounting import build_ledger
    from ..sources.fixtures import load_fixtures

    t = load_fixtures(spark)
    return t, build_ledger(t["actions"], t["tx_info"], t["dex_prices"], t["block_info"])


def _fixture_cex_dex(spark: SparkSession, fn, feed: str) -> DataFrame:
    """Run one CEX-DEX variant over the planted tables and their `feed`,
    with the gas rows as its ledger (it reads only their gas columns)."""
    from ..inspectors.accounting import gas_usd
    from ..sources.fixtures import load_fixtures

    t = load_fixtures(spark)
    return fn(
        t["actions"], t["dex_prices"], t["block_info"], t[feed],
        gas_usd(t["tx_info"], t["block_info"]),
    )


def _bundle_shape(df: DataFrame) -> DataFrame:
    from ..functions.decimals import to_dbl

    return df.select(
        "block_number",
        F.concat_ws(",", "tx_hashes").alias("tx_hashes"),
        "eoa", "mev_contract", "mev_type",
        to_dbl("profit_usd").alias("profit_usd"),
        to_dbl("revenue_usd").alias("revenue_usd"),
        to_dbl("gas_usd").alias("gas_usd"),
    )


#: planted gas arithmetic, shared by the three oracles: every fixture tx
#: is 100000 gas at 1e13 wei -> exactly 1 ETH at eth_price $1
_GAS_USD_SQL = (
    "CAST(CAST(100000 AS HUGEINT) * 10000000000000 AS DECIMAL(38,18)) "
    "/ CAST(1000000000000000000 AS DECIMAL(38,0)) * 1"
)


@register(
    "i5_sandwich_pnl",
    oracle=f"""
    WITH legs(bundle, block_number, tx_hashes, eoa, mev_contract, mev_type,
              token, amount) AS (VALUES
      -- block 100: front 0xf0 swaps 1000 A -> 10 B, back 0xb0 10 B -> 1090 A
      (1, 100, '0xf0,0xv1,0xv2,0xb0', '0xsearcher1', '0xmev1', 'sandwich', 'A', -1000),
      (1, 100, '0xf0,0xv1,0xv2,0xb0', '0xsearcher1', '0xmev1', 'sandwich', 'B', 10),
      (1, 100, '0xf0,0xv1,0xv2,0xb0', '0xsearcher1', '0xmev1', 'sandwich', 'B', -10),
      (1, 100, '0xf0,0xv1,0xv2,0xb0', '0xsearcher1', '0xmev1', 'sandwich', 'A', 1090),
      -- block 107 Big Mac: two frontruns + one backrun
      (2, 107, '0xbm_f1,0xbm_v1,0xbm_f2,0xbm_v2,0xbm_b', '0xsearcher3', NULL, 'sandwich:big_mac', 'A', -500),
      (2, 107, '0xbm_f1,0xbm_v1,0xbm_f2,0xbm_v2,0xbm_b', '0xsearcher3', NULL, 'sandwich:big_mac', 'B', 5),
      (2, 107, '0xbm_f1,0xbm_v1,0xbm_f2,0xbm_v2,0xbm_b', '0xsearcher3', NULL, 'sandwich:big_mac', 'A', -500),
      (2, 107, '0xbm_f1,0xbm_v1,0xbm_f2,0xbm_v2,0xbm_b', '0xsearcher3', NULL, 'sandwich:big_mac', 'B', 5),
      (2, 107, '0xbm_f1,0xbm_v1,0xbm_f2,0xbm_v2,0xbm_b', '0xsearcher3', NULL, 'sandwich:big_mac', 'B', -10),
      (2, 107, '0xbm_f1,0xbm_v1,0xbm_f2,0xbm_v2,0xbm_b', '0xsearcher3', NULL, 'sandwich:big_mac', 'A', 1100),
      -- block 108: two gap-partitioned sandwiches, same searcher
      (3, 108, '0xg_f1,0xg_v1,0xg_b1', '0xsearcher4', NULL, 'sandwich', 'A', -100),
      (3, 108, '0xg_f1,0xg_v1,0xg_b1', '0xsearcher4', NULL, 'sandwich', 'B', 1),
      (3, 108, '0xg_f1,0xg_v1,0xg_b1', '0xsearcher4', NULL, 'sandwich', 'B', -1),
      (3, 108, '0xg_f1,0xg_v1,0xg_b1', '0xsearcher4', NULL, 'sandwich', 'A', 105),
      (4, 108, '0xg_f2,0xg_v2,0xg_b2', '0xsearcher4', NULL, 'sandwich', 'A', -100),
      (4, 108, '0xg_f2,0xg_v2,0xg_b2', '0xsearcher4', NULL, 'sandwich', 'B', 1),
      (4, 108, '0xg_f2,0xg_v2,0xg_b2', '0xsearcher4', NULL, 'sandwich', 'B', -1),
      (4, 108, '0xg_f2,0xg_v2,0xg_b2', '0xsearcher4', NULL, 'sandwich', 'A', 105),
      -- block 109 pre-composition sandwich: swap legs PLUS the same-tx
      -- mint/burn legs (searcher deltas sum over ALL the tx's actions)
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'A', -1000),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'B', -10),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'A', -100),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'B', 1),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'A', 1030),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'B', 9.8),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'B', -1),
      (5, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'sandwich', 'A', 110)),
    px(token, price) AS (VALUES ('A', 1), ('B', 105)),
    ntx(bundle, n_searcher_txs) AS (VALUES (1, 2), (2, 3), (3, 2), (4, 2), (5, 2)),
    rev AS (
      SELECT bundle, block_number, tx_hashes, eoa, mev_contract, mev_type,
             SUM(CAST(amount AS DECIMAL(38,18)) * price) AS revenue
      FROM legs JOIN px USING (token)
      GROUP BY 1, 2, 3, 4, 5, 6),
    g AS (SELECT bundle, n_searcher_txs * ({_GAS_USD_SQL}) AS gas FROM ntx)
    SELECT CAST(block_number AS BIGINT) AS block_number, tx_hashes, eoa,
           mev_contract, mev_type,
           CAST(revenue - gas AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(gas AS DOUBLE) AS gas_usd
    FROM rev JOIN g USING (bundle)
    WHERE revenue - gas > 0
    """,
    survey_ref="I5 sandwich PnL standalone (inspectors/sandwich.py; "
    "reference goldens sandwich/mod.rs:1149+): candidate scan (I1) + gap "
    "partition (I2) + pool-overlap >=50% (I3) + <=6 shrink trims (I4) + "
    "delta accounting x planted prices - gas; oracle RECOMPUTES "
    "$88/$97/$3/$3/$17 from the planted swap+mint+burn legs, never the "
    "literal outputs; includes the pre-composition block-109 row the "
    "composer gate absorbs into jit_sandwich (that delta is the "
    "localization value of the standalone word)",
)
def i5_sandwich_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..inspectors.sandwich import sandwich_bundles

    t, ledger = _fixture_ledger(spark)
    return _bundle_shape(sandwich_bundles(t["actions"], t["tx_info"], ledger))


@register(
    "i12_liquidation_bundles",
    oracle=f"""
    WITH liq(block_number, tx_hash, liquidator, col_token, seized,
             debt_token, covered) AS (VALUES
      (103, '0xliq', '0xliquidator', 'A', 60, 'DAI', 100)),
    px(block_number, token, price) AS (VALUES
      -- A is planted at $2 ONLY in block 103 (dex_prices_rows)
      (103, 'A', 2), (103, 'DAI', 1)),
    rev AS (
      SELECT l.block_number, l.tx_hash, l.liquidator,
             CAST(l.seized AS DECIMAL(38,18)) * pc.price
               - CAST(l.covered AS DECIMAL(38,18)) * pd.price AS revenue
      FROM liq l
      JOIN px pc ON pc.block_number = l.block_number AND pc.token = l.col_token
      JOIN px pd ON pd.block_number = l.block_number AND pd.token = l.debt_token)
    SELECT CAST(block_number AS BIGINT) AS block_number, tx_hash AS tx_hashes,
           liquidator AS eoa, CAST(NULL AS VARCHAR) AS mev_contract,
           'liquidation' AS mev_type,
           CAST(revenue - ({_GAS_USD_SQL}) AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(({_GAS_USD_SQL}) AS DOUBLE) AS gas_usd
    FROM rev
    """,
    survey_ref="I12 liquidation standalone (inspectors/liquidations.py; "
    "reference golden liquidations.rs:170-208): revenue = USD(seized "
    "collateral) - USD(covered debt), one bundle per tx; oracle "
    "RECOMPUTES $19 = 60*$2 - 100*$1 - $1 gas from the planted "
    "liquidation action, block-103 prices, and gas arithmetic",
)
def i12_liquidation_bundles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..inspectors.liquidations import liquidation_bundles

    t, ledger = _fixture_ledger(spark)
    return _bundle_shape(liquidation_bundles(t["actions"], ledger))


@register(
    "i10_jit_bundles",
    oracle=f"""
    WITH legs(bundle, block_number, tx_hashes, eoa, mev_contract,
              token, amount) AS (VALUES
      -- block 102: mint 1000 A + 10 B (searcher pays), burn returns
      -- 1300 A + 7.2 B
      (1, 102, '0xjf,0xjv,0xjb', '0xsearcher2', '0xmev2', 'A', -1000),
      (1, 102, '0xjf,0xjv,0xjb', '0xsearcher2', '0xmev2', 'B', -10),
      (1, 102, '0xjf,0xjv,0xjb', '0xsearcher2', '0xmev2', 'A', 1300),
      (1, 102, '0xjf,0xjv,0xjb', '0xsearcher2', '0xmev2', 'B', 7.2),
      -- block 109 pre-composition JIT: mint/burn legs plus the same-tx
      -- swap legs (the pair txs carry swaps too)
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'A', -1000),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'B', -10),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'A', -100),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'B', 1),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'A', 1030),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'B', 9.8),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'B', -1),
      (2, 109, '0xjs_f,0xjs_v,0xjs_b', '0xsearcher2', NULL, 'A', 110)),
    px(token, price) AS (VALUES ('A', 1), ('B', 105)),
    rev AS (
      SELECT bundle, block_number, tx_hashes, eoa, mev_contract,
             SUM(CAST(amount AS DECIMAL(38,18)) * price) AS revenue
      FROM legs JOIN px USING (token)
      GROUP BY 1, 2, 3, 4, 5),
    g AS (SELECT 2 * ({_GAS_USD_SQL}) AS gas)
    SELECT CAST(block_number AS BIGINT) AS block_number, tx_hashes, eoa,
           mev_contract, 'jit' AS mev_type,
           CAST(revenue - gas AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(gas AS DOUBLE) AS gas_usd
    FROM rev CROSS JOIN g
    """,
    survey_ref="I10 JIT standalone (inspectors/jit.py; reference golden "
    "jit/jit_liquidity.rs tests): same-actor mint->burn pair on one pool "
    "with strictly-between victims; oracle RECOMPUTES $4 = (1300-1000)*$1 "
    "+ (7.2-10)*$105 - 2x$1 gas from the planted mint/burn legs (and the "
    "block-109 pre-composition $17 row from mint/burn+swap legs)",
)
def i10_jit_bundles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..inspectors.jit import jit_bundles

    t, ledger = _fixture_ledger(spark)
    return _bundle_shape(jit_bundles(t["actions"], t["tx_info"], ledger))


@register(
    "i8_cex_dex_markout",
    # the oracle RECOMPUTES the expanding-window VWAP from the planted
    # trades with the operator's own widen-until-volume rule (the x4
    # oracle's cutoff CTE specialized to the +-1s steps), then the
    # markout: revenue = (amount_out - amount_in * vwap) * quote_price.
    # vwap = 106/100 lands on a decimal-exact 1.06, so the Spark side's
    # double->decimal(38,18) re-cast (Double.toString shortest repr) and
    # the oracle's exact-decimal arithmetic coincide bit-for-bit — the
    # planted geometry is chosen to keep that hop lossless.
    oracle="""
    WITH tr(ts_off_us, price, vol) AS (VALUES
      (-500000,  CAST('1.05' AS DECIMAL(18,6)), CAST(40 AS DECIMAL(18,6))),
      (1500000,  CAST('1.06' AS DECIMAL(18,6)), CAST(40 AS DECIMAL(18,6))),
      (2500000,  CAST('1.08' AS DECIMAL(18,6)), CAST(20 AS DECIMAL(18,6))),
      (9000000,  CAST('5.00' AS DECIMAL(18,6)), CAST(1000 AS DECIMAL(18,6)))),
    stepped AS (
      SELECT GREATEST(1, CAST(CEIL(CASE WHEN ts_off_us <= 0
                 THEN -ts_off_us / 1000000.0
                 ELSE ts_off_us / 1000000.0 END) AS INT)) AS step,
             price, vol
      FROM tr),
    per_step AS (
      SELECT step, SUM(vol) AS svol, SUM(price * vol) AS spv
      FROM stepped WHERE step <= 5 GROUP BY 1),
    cum AS (
      SELECT *, SUM(svol) OVER (ORDER BY step) AS cum_vol FROM per_step),
    cutoff AS (
      SELECT MIN(CASE WHEN cum_vol >= 100 THEN step END) AS cutoff_step
      FROM cum),
    vw AS (
      SELECT CAST(SUM(spv) AS DECIMAL(38,18)) / CAST(SUM(svol) AS DECIMAL(38,18))
               AS vwap
      FROM cum, cutoff WHERE step <= cutoff_step),
    pnl AS (
      SELECT CAST(111 AS DECIMAL(38,18)) - CAST(100 AS DECIMAL(38,18)) * vwap
               AS revenue
      FROM vw)
    SELECT CAST(104 AS BIGINT) AS block_number, '0xcd' AS tx_hashes,
           '0xsearcher1' AS eoa, CAST(NULL AS VARCHAR) AS mev_contract,
           'cex_dex' AS mev_type,
           CAST(revenue - 1 AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(1 AS DOUBLE) AS gas_usd
    FROM pnl
    """,
    survey_ref="I8 CEX-DEX markout standalone (inspectors/cex_dex.py; "
    "reference cex_dex_markout.rs:105-745): expanding-window VWAP over "
    "the planted trades (widens past the +-1s step because only 40 of "
    "the required 100 volume arrives there), best-of global/per-exchange "
    "legs, 3x max_arb_delta guard; oracle RECOMPUTES vwap = 106/100 and "
    "$4 = (111 - 100*1.06)*$1 - $1 gas from the planted trade VALUES",
)
def i8_cex_dex_markout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..inspectors.cex_dex import cex_dex_bundles

    return _bundle_shape(_fixture_cex_dex(spark, cex_dex_bundles, "cex_trades"))


@register(
    "i9_cex_dex_quotes",
    # as-of mid-quote variant: nearest planted quote within the 2s
    # tolerance is the ts0-0.5s row (the ts0-3.5s row is outside), so
    # mid = (1.08+1.06)/2 = 1.07 exactly in decimal on both engines
    oracle="""
    WITH q(ts_off_us, ask, bid) AS (VALUES
      (-500000,  CAST('1.08' AS DECIMAL(18,6)), CAST('1.06' AS DECIMAL(18,6))),
      (-3500000, CAST('2.00' AS DECIMAL(18,6)), CAST('1.90' AS DECIMAL(18,6)))),
    nearest AS (
      SELECT (ask + bid) / 2 AS mid
      FROM q WHERE ABS(ts_off_us) <= 2000000
      ORDER BY ABS(ts_off_us) LIMIT 1),
    pnl AS (
      -- widths chosen so DuckDB's width-summing product rule stays inside
      -- DECIMAL(38): (18,2)x(18,12) -> (36,14)
      SELECT CAST(111 AS DECIMAL(30,14))
               - CAST(100 AS DECIMAL(18,2)) * CAST(mid AS DECIMAL(18,12))
               AS revenue
      FROM nearest)
    SELECT CAST(104 AS BIGINT) AS block_number, '0xcd' AS tx_hashes,
           '0xsearcher1' AS eoa, CAST(NULL AS VARCHAR) AS mev_contract,
           'cex_dex_quotes' AS mev_type,
           CAST(revenue - 1 AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(1 AS DOUBLE) AS gas_usd
    FROM pnl
    """,
    survey_ref="I9 CEX-DEX quotes variant standalone (inspectors/"
    "cex_dex.py:32, reference cex_dex/quotes mode): X1 as-of mid-quote "
    "lookup with 2s tolerance prices the same swap the markout variant "
    "prices with trades — oracle RECOMPUTES $3 = (111 - 100*1.07) - $1 "
    "from the planted quote VALUES; the composer's precedence keeps the "
    "markout bundle and drops this one (pinned by o2/o3 + composer gate)",
)
def i9_cex_dex_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..inspectors.cex_dex import cex_dex_quotes_bundles

    return _bundle_shape(_fixture_cex_dex(spark, cex_dex_quotes_bundles, "cex_quotes"))


@register(
    "i13_searcher_activity",
    # unclaimed profitable transfer: 30 A at the planted $1 minus $1 gas
    oracle=f"""
    WITH xfer(block_number, tx_hash, eoa, token, amount) AS (VALUES
      (110, '0xsa', '0xsearcher1', 'A', 30)),
    px(token, price) AS (VALUES ('A', 1)),
    rev AS (
      SELECT block_number, tx_hash, eoa,
             SUM(CAST(amount AS DECIMAL(38,18)) * price) AS revenue
      FROM xfer JOIN px USING (token) GROUP BY 1, 2, 3)
    SELECT CAST(block_number AS BIGINT) AS block_number, tx_hash AS tx_hashes,
           eoa, CAST(NULL AS VARCHAR) AS mev_contract,
           'searcher_tx' AS mev_type,
           CAST(revenue - ({_GAS_USD_SQL}) AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(({_GAS_USD_SQL}) AS DOUBLE) AS gas_usd
    FROM rev
    """,
    survey_ref="I13 searcher-activity standalone word (composer.py:118 "
    "builds the searcher_tx family; reference searcher_activity.rs): the "
    "composer output filtered to mev_type='searcher_tx' must be exactly "
    "the planted unclaimed-transfer bundle — oracle RECOMPUTES $29 = "
    "30*$1 - $1 gas from the planted transfer; localizes searcher_tx "
    "family breakage that the composite mev_composer_bundles gate would "
    "only report as a whole-gate failure",
)
def i13_searcher_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mev_fixture import _composed

    _, out = _composed(spark)
    return _bundle_shape(out["bundles"].filter(F.col("mev_type") == "searcher_tx"))


@register(
    "o2_jit_sandwich_compose",
    # block 109's composer output must be EXACTLY ONE composed
    # jit_sandwich row: O2 (compose) built it from the overlapping
    # standalone sandwich ($17) and jit ($17) rows, and O3 (precedence
    # dedup) absorbed both parents — a broken compose or dedup yields
    # extra/missing rows and fails rows_match before values even hash.
    # Revenue recomputed from the planted mint/burn+swap legs (the same
    # leg table the standalone i5/i10 oracles derive their block-109
    # rows from).
    oracle=f"""
    WITH legs(token, amount) AS (VALUES
      ('A', -1000), ('B', -10), ('A', -100), ('B', 1),
      ('A', 1030), ('B', CAST('9.8' AS DECIMAL(18,6))), ('B', -1), ('A', 110)),
    px(token, price) AS (VALUES ('A', 1), ('B', 105)),
    rev AS (
      SELECT SUM(CAST(amount AS DECIMAL(38,18)) * price) AS revenue
      FROM legs JOIN px USING (token)),
    g AS (SELECT 2 * ({_GAS_USD_SQL}) AS gas)
    SELECT CAST(109 AS BIGINT) AS block_number,
           -- the composed row's hash list is the parents' sorted union
           -- (composer.py compose step), not block order
           '0xjs_b,0xjs_f,0xjs_v' AS tx_hashes,
           '0xsearcher2' AS eoa, CAST(NULL AS VARCHAR) AS mev_contract,
           'jit_sandwich' AS mev_type,
           CAST(revenue - gas AS DOUBLE) AS profit_usd,
           CAST(revenue AS DOUBLE) AS revenue_usd,
           CAST(gas AS DOUBLE) AS gas_usd
    FROM rev CROSS JOIN g
    """,
    survey_ref="O2 compose + O3 precedence dedup standalone word "
    "(inspectors/composer.py:63/173; reference composer/mod.rs:71-343, "
    "mev_filters.rs:32-110): composer output restricted to block 109 — "
    "exactly one jit_sandwich bundle whose $17 = (40A - 0.2B valued at "
    "$1/$105) - 2x$1 gas the oracle RECOMPUTES from the planted legs; "
    "the standalone sandwich (i5) and jit (i10) gates pin the two "
    "parents this row absorbed",
)
def o2_jit_sandwich_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mev_fixture import _composed

    _, out = _composed(spark)
    return _bundle_shape(out["bundles"].filter(F.col("block_number") == 109))


# --- round-9 second wave: robust/parametric statistics + PIT lookup ------

def _welch_oracle() -> str:
    # the oracle interpolates the OPERATOR'S OWN double-chain SQL
    # (operators/ttest.WELCH_*_SQL) so both engines run the verbatim-
    # identical IEEE expression over identical int64 sums — the
    # fixed-evaluation-shape policy with the shape shared by construction
    from ..operators.ttest import WELCH_DF9_SQL, WELCH_T9_SQL

    ok = (
        "na > 1 AND nb > 1 AND "
        "(na * CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa) "
        "+ (nb * CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb) > 0"
    )
    return f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type = 'purchase' AS is_a,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM ev
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
    s AS (
      SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN is_a THEN v ELSE 0 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE v END) AS BIGINT) AS sb,
             CAST(SUM(CASE WHEN is_a THEN v * v ELSE 0 END) AS BIGINT) AS qa,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE v * v END) AS BIGINT) AS qb
      FROM b)
    SELECT na AS n_a, nb AS n_b, sa AS sum_a, sb AS sum_b,
           qa AS sumsq_a, qb AS sumsq_b,
           CASE WHEN {ok} THEN {WELCH_T9_SQL} END AS t_9,
           CASE WHEN {ok} THEN {WELCH_DF9_SQL} END AS df_9
    FROM s
    """


@register(
    "o25_welch_ttest",
    oracle=None,  # interpolated below: shares the operator's double chain
    survey_ref="Welch two-sample t + Welch-Satterthwaite df "
    "(operators/ttest.py) — the parametric A/B sibling of the "
    "Mann-Whitney/KS/Spearman family: exact int64 (n, sum, sumsq) per "
    "group (one hash aggregate, the only data-sized pass), then ONE "
    "fixed-shape IEEE double chain shared VERBATIM with the oracle "
    "(int64->double is the conversion both engines round identically; "
    "squares as self-products, never libm POW); n*q < 2^63 envelope "
    "documented with NULL-on-degenerate semantics",
)
def o25_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ttest import welch_ttest
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).withColumn(
        "cents", F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    )
    return welch_ttest(ev, "event_type", "cents", "purchase", "view")


REGISTRY["o25_welch_ttest"] = QuerySpec(
    name="o25_welch_ttest",
    build=o25_welch_ttest,
    oracle=_welch_oracle(),
    survey_ref=REGISTRY["o25_welch_ttest"].survey_ref,
)


@register(
    "o26_anova_oneway",
    # per-group term quantized to an exact 1e3-scaled (milli) integer
    # (ssb_3/ssw_3, matching the operator's tg = s_g^2 * 1000 div n_g)
    # BEFORE the
    # cross-group sum: a double sum over groups would be order-dependent
    # and engine-divergent; integer sums are not. HUGEINT `//` truncates
    # like Spark's `div` (measured; both operands non-negative here
    # anyway). The quantization is part of the statistic's definition.
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM ev WHERE value IS NOT NULL),
    per_g AS (
      SELECT g, COUNT(*) AS ng, SUM(v) AS sg, SUM(v * v) AS qg,
             (CAST(sg AS HUGEINT) * sg * 1000) // ng AS tg
      FROM b GROUP BY g),
    agg AS (
      SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS q,
             SUM(tg) AS sum_tg
      FROM per_g),
    sc AS (
      SELECT k, n,
             sum_tg - ((CAST(s AS HUGEINT) * s * 1000) // n) AS ssb_3,
             CAST(q AS HUGEINT) * 1000 - sum_tg AS ssw_3
      FROM agg)
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(ssb_3 AS BIGINT) AS ssb_3, CAST(ssw_3 AS BIGINT) AS ssw_3,
           CASE WHEN k > 1 AND n > k AND ssw_3 > 0 THEN
             CAST((ssb_3 * CAST(n - k AS HUGEINT) * 1000000000)
                  // (ssw_3 * CAST(k - 1 AS HUGEINT)) AS BIGINT)
           END AS f_9
    FROM sc
    """,
    survey_ref="one-way ANOVA F across ALL event types "
    "(operators/ttest.anova_oneway): per-group sum-of-squares terms "
    "floored to 1e3-scaled exact int64s so the cross-group reduction "
    "is an order-independent INTEGER sum (a double sum across groups "
    "would diverge between engines), F_9 as one truncating integer "
    "division; |s_g| <= ~3e13 envelope documented",
)
def o26_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ttest import anova_oneway
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).withColumn(
        "cents", F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    )
    return anova_oneway(ev, "event_type", "cents")


@register(
    "x28_pit_join",
    # facts = purchases; dim = the o10-style SCD2 event_type history of
    # the same user. The oracle states the DECLARATIVE interval
    # semantics (valid_from <= ts < valid_to) as a plain join — the gate
    # therefore pins that the one-shuffle as-of + guard implementation
    # IS the interval join, including the equal-valid_from edge where
    # the empty [ts, ts) version must lose to its same-timestamp
    # successor (tiebreak='version').
    oracle="""
    WITH ev AS (SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type FROM events),
    ch AS (
      SELECT user_id, ts_ns, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
    v AS (SELECT * FROM ch WHERE prev_type IS NULL OR prev_type != event_type),
    iv AS (
      SELECT user_id, event_type, ts_ns AS valid_from,
             lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS INT) AS version
      FROM v),
    facts AS (
      SELECT event_id, user_id, ts_ns FROM ev WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, f.ts_ns,
           i.event_type AS dim_event_type, i.version AS dim_version
    FROM facts f JOIN iv i
      ON i.user_id = f.user_id
     AND i.valid_from <= f.ts_ns
     AND (i.valid_to IS NULL OR f.ts_ns < i.valid_to)
    """,
    survey_ref="point-in-time (PIT) dimension lookup "
    "(operators/asof.point_in_time_join) — the feature-store primitive "
    "that keeps training data leakage-free: backward as-of on "
    "valid_from (ONE key shuffle, no interval explosion) + the "
    "fact_ts < valid_to coverage guard (provably redundant for "
    "contiguous SCD2 histories, load-bearing for gapped ones); composes "
    "the o10 SCD2 build with the X1 as-of kernel",
)
def x28_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    versions = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select(
            "user_id",
            "event_type",
            F.col("ts_ns").alias("valid_from"),
            F.lead("ts_ns").over(w).alias("valid_to"),
            F.row_number().over(w).cast("int").alias("version"),
        )
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts_ns")
    )
    out = asof_join(
        facts, versions, ["user_id"], "ts_ns", "valid_from",
        tiebreak="version", payload_prefix="dim_", direction="backward",
    )
    return out.filter(
        F.col("dim_valid_to").isNull() | (F.col("ts_ns") < F.col("dim_valid_to"))
    ).select("event_id", "user_id", "ts_ns", "dim_event_type", "dim_version")


@register(
    "x29_theil_sen",
    # median element selected under the (IEEE double num/den, num, den)
    # total order — identical on both engines; the even-count average of
    # the two middle RATIONALS is exact integer arithmetic with ONE
    # truncating division (HUGEINT `//` truncates toward zero like
    # Spark's `div`: measured -5//3 = -1 — signed slopes need that)
    oracle=f"""
    WITH {EV_CTE},
    p AS (
      SELECT user_id, ts_ns,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL),
    pairs AS (
      SELECT a.user_id AS k, b.c - a.c AS num, b.ts_ns - a.ts_ns AS den
      FROM p a JOIN p b
        ON a.user_id = b.user_id AND b.ts_ns > a.ts_ns),
    ranked AS (
      SELECT k, num, den,
             row_number() OVER (PARTITION BY k
               ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS m
      FROM pairs),
    picked AS (
      SELECT k, m,
             MAX(CASE WHEN rn = (m + 1) // 2 THEN num END) AS num_lo,
             MAX(CASE WHEN rn = (m + 1) // 2 THEN den END) AS den_lo,
             MAX(CASE WHEN rn = m // 2 + 1 THEN num END) AS num_hi,
             MAX(CASE WHEN rn = m // 2 + 1 THEN den END) AS den_hi
      FROM ranked
      WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
      GROUP BY k, m)
    SELECT k AS key, CAST(m AS BIGINT) AS n_pairs,
           num_lo, den_lo, num_hi, den_hi,
           CAST((CAST(1000000000 AS HUGEINT)
                 * (CAST(num_lo AS HUGEINT) * den_hi
                    + CAST(num_hi AS HUGEINT) * den_lo))
                // (CAST(2 AS HUGEINT) * den_lo * den_hi) AS BIGINT) AS slope_9
    FROM picked
    """,
    survey_ref="Theil-Sen robust slope (operators/theilsen.py, Sen 1968) "
    "— 29%-breakdown median-of-pairwise-slopes trend per user over "
    "purchase cents vs time: pair explode is O(n_k^2) PER KEY riding the "
    "key equi-join (never corpus x corpus), median element via one "
    "row_number window on the same partitioning, even-count middle pair "
    "averaged in exact rationals; robust complement of x19_ols_trend",
)
def x29_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.theilsen import theil_sen_slope
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    ev = ev.withColumn(
        "cents", F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    )
    return theil_sen_slope(ev, "user_id", "ts_ns", "cents")


def _two_prop_oracle() -> str:
    from ..operators.ttest import TWO_PROP_Z9_SQL

    ok = "na > 0 AND nb > 0 AND xa + xb > 0 AND xa + xb < na + nb"
    return f"""
    WITH {EV_CTE},
    b AS (
      SELECT user_id,
             user_id % 2 AS arm,
             event_type = 'purchase' AS conv
      FROM ev WHERE user_id IS NOT NULL),
    per_unit AS (
      SELECT arm, user_id, MAX(CASE WHEN conv THEN 1 ELSE 0 END) AS c
      FROM b GROUP BY 1, 2),
    s AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS xa,
             CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS xb
      FROM per_unit)
    SELECT na AS n_a, xa AS x_a, nb AS n_b, xb AS x_b,
           CASE WHEN {ok} THEN {TWO_PROP_Z9_SQL} END AS z_9
    FROM s
    """


@register(
    "o27_two_proportion_z",
    oracle=None,  # interpolated below: shares the operator's double chain
    survey_ref="pooled two-proportion z test "
    "(operators/ttest.two_proportion_ztest) — the significance layer over "
    "funnel conversion counts (x9's companion): per-UNIT conversion via "
    "one distinct-unit aggregate (duplicate events cannot inflate "
    "counts), exact int64 (n, x) per arm, then the one fixed-shape IEEE "
    "double chain shared verbatim with the oracle; deterministic "
    "cross-engine arm split user_id % 2; NULL z on "
    "empty-arm / zero-variance pooled rates",
)
def o27_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ttest import two_proportion_ztest
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    base = ev.select(
        "user_id",
        F.expr("user_id % 2").alias("arm"),
        (F.col("event_type") == "purchase").alias("conv"),
    )
    return two_proportion_ztest(base, "user_id", "arm", "conv", 0, 1)


REGISTRY["o27_two_proportion_z"] = QuerySpec(
    name="o27_two_proportion_z",
    build=o27_two_proportion_z,
    oracle=_two_prop_oracle(),
    survey_ref=REGISTRY["o27_two_proportion_z"].survey_ref,
)
