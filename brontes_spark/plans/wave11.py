"""Registry gates for these operator families: the Boruvka minimum
spanning forest (with a Kruskal cycle-property oracle independent of the
operator's round structure), the ordinal/categorical association pair
(Kendall tau-b, chi-square independence + Cramér's V), the graph third
wave (neighborhood-overlap link prediction, k-truss edge peeling,
bipartite co-occurrence projection), the corpus-governance concentration
metrics (Gini + HHI), and the ML-evaluation family (MRR/hit@k, exact
Mann-Whitney ROC-AUC, per-class confusion/precision/recall/F1, Cohen's
kappa, calibration/Brier reliability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import EV_CTE, register


#: Kruskal cut/cycle-property oracle for the Boruvka operator — deliberately
#: NOT a round-replay twin: under the strict total order (w, u, v) an edge is
#: in the minimum spanning forest iff its endpoints are not connected using
#: only strictly smaller edges (Kruskal's acceptance test verbatim), so the
#: recursive CTE computes, per edge rank r, the reach set of u over edges with
#: rank < r and keeps the edges whose v is unreachable. An algorithm-
#: independent characterization: if the distributed Boruvka merge logic picked
#: one wrong edge, no shared round structure can mask it.
_MST_ORACLE = """
WITH RECURSIVE base AS (
  SELECT doc_id AS d FROM documents WHERE doc_id < 64),
raw AS (
  -- intra-block stars: leaf -> its block-of-8 center (center rows are
  -- self-loops the canonicalizer must drop)
  SELECT d AS s, (d // 8) * 8 AS t, 10 + (d * 7) % 13 AS w FROM base
  UNION ALL
  -- parallel-edge copies, strictly heavier: must collapse to the min
  SELECT d, (d // 8) * 8, 110 + (d * 7) % 13 FROM base
  UNION ALL
  -- center ring: connects the 8 blocks into one component
  SELECT d, (d + 8) % 64, 50 + (d * 5) % 17 FROM base WHERE d % 8 = 0),
canon AS (
  SELECT LEAST(s, t) AS u, GREATEST(s, t) AS v, MIN(w) AS w
  FROM raw WHERE s != t GROUP BY 1, 2),
ed AS (
  SELECT u, v, w, row_number() OVER (ORDER BY w, u, v) AS r FROM canon),
reach(r, node) AS (
  SELECT r, u FROM ed
  UNION
  SELECT reach.r,
         CASE WHEN f.u = reach.node THEN f.v ELSE f.u END
  FROM reach JOIN ed f
    ON f.r < reach.r AND (f.u = reach.node OR f.v = reach.node))
SELECT CAST(ed.u AS BIGINT) AS u, CAST(ed.v AS BIGINT) AS v,
       CAST(ed.w AS BIGINT) AS weight
FROM ed
WHERE NOT EXISTS (
  SELECT 1 FROM reach WHERE reach.r = ed.r AND reach.node = ed.v)
"""


@register(
    "g15_mst",
    oracle=_MST_ORACLE,
    survey_ref="Boruvka minimum spanning forest (operators/mst.py:43, "
    "Boruvka 1926) — the single-linkage/HAC backbone over a similarity "
    "graph and the O(V) connectivity-evidence set for near-dup clusters; "
    "VERDICT r9 directive 4 (the one r9 operator shipped pytest-only; staged r10, promoted r11). "
    "Fixture: a 64-node star-of-blocks + center ring planted on documents "
    "doc_id<64 with deterministic hash weights, strictly-heavier parallel "
    "copies (groupBy-min collapse) and center self-loops (dropped) — small "
    "by design so the gate times the MERGE LOGIC, not the per-round "
    "scheduling floor the full sf graph pays; "
    "connected, so the forest is the 63-edge spanning tree. Oracle = "
    "Kruskal's cycle property as a recursive CTE (edge in MSF iff "
    "endpoints disconnected under strictly smaller edges), independent of "
    "the Boruvka round structure. Scale path unchanged from the operator: "
    "per round one edges x labels join + map-side-combinable min_by + CC "
    "on the selected-edge graph only (<= V/2^round rows)",
)
def g15_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mst import minimum_spanning_forest
    from ..sources.testdata import load_table

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(d < 64)
    center = (d / 8).cast("long") * 8
    star = docs.select(
        d.alias("src"), center.alias("dst"), (F.lit(10) + (d * 7) % 13).alias("weight")
    )
    dup = docs.select(
        d.alias("src"), center.alias("dst"), (F.lit(110) + (d * 7) % 13).alias("weight")
    )
    ring = docs.filter(d % 8 == 0).select(
        d.alias("src"),
        ((d + 8) % 64).alias("dst"),
        (F.lit(50) + (d * 5) % 17).alias("weight"),
    )
    edges = star.unionAll(dup).unionAll(ring)
    # 64 nodes -> components at least halve per round -> 6 rounds suffice
    return minimum_spanning_forest(edges, rounds=6)


@register(
    "x30_kendall_tau",
    # pair counts are exact integers (sign comparisons); tau_b closes in
    # ONE fixed-shape double chain over them — n0 enters as an INTEGER
    # product n*(n-1) divided by 2 in doubles on both engines, and
    # subtract/multiply/sqrt/divide are IEEE correctly-rounded, so the
    # bit pattern matches. x = DAY-bucketed timestamp (forces real x-tie
    # mass), y = exact cents.
    oracle=f"""
    WITH {EV_CTE},
    p AS (
      SELECT user_id AS k,
             ts_ns // 86400000000000 AS vx,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vy
      FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL),
    s AS (
      SELECT k, vx, vy,
             row_number() OVER (PARTITION BY k ORDER BY vx, vy) AS seq
      FROM p),
    pr AS (
      SELECT a.k,
             SIGN(a.vx - b.vx) AS sx, SIGN(a.vy - b.vy) AS sy
      FROM s a JOIN s b ON a.k = b.k AND a.seq < b.seq),
    agg AS (
      SELECT k,
             SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS concordant,
             SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS discordant,
             SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS ties_x,
             SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS ties_y
      FROM pr GROUP BY k),
    n AS (SELECT k, COUNT(*) AS n FROM p GROUP BY k),
    o AS (
      SELECT n.k, n.n,
             CAST(COALESCE(concordant, 0) AS BIGINT) AS concordant,
             CAST(COALESCE(discordant, 0) AS BIGINT) AS discordant,
             CAST(COALESCE(ties_x, 0) AS BIGINT) AS ties_x,
             CAST(COALESCE(ties_y, 0) AS BIGINT) AS ties_y
      FROM n LEFT JOIN agg ON agg.k = n.k)
    SELECT k AS user_id, n, concordant, discordant, ties_x, ties_y,
           CASE WHEN CAST(n * (n - 1) AS DOUBLE) / 2 - ties_x > 0
                 AND CAST(n * (n - 1) AS DOUBLE) / 2 - ties_y > 0
                THEN CAST(concordant - discordant AS DOUBLE)
                     / SQRT((CAST(n * (n - 1) AS DOUBLE) / 2 - ties_x)
                            * (CAST(n * (n - 1) AS DOUBLE) / 2 - ties_y))
           END AS tau_b
    FROM o
    """,
    survey_ref="Kendall tau-b rank correlation (operators/kendall.py) — "
    "tie-aware ordinal association completing the correlation family "
    "(x20 Pearson, o24 Spearman); per-user day-bucket-vs-cents over "
    "purchases (day bucketing plants real x-tie mass so the tie "
    "corrections are load-bearing, not vacuously zero); exact int64 pair "
    "counts + one fixed-shape IEEE double chain; scale shape = x29's "
    "per-key pair explode riding ONE key equi-join, linear in keys at "
    "constant series length; staged r10, promoted r11",
)
def x30_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kendall import kendall_tau_b
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    ev = ev.select(
        "user_id",
        F.expr("ts_ns div 86400000000000").alias("day"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    return kendall_tau_b(ev, "user_id", "day", "cents")


@register(
    "o28_chi2_independence",
    # the o26 quantization verbatim: per-cell (O*N - r*c)^2 * 1e9 /
    # (N*r*c) floored in wide integers (HUGEINT // == decimal(38) div on
    # non-negative operands) BEFORE the cross-cell sum; Cramer's V closes
    # in one IEEE double chain. dow grid from epoch INTEGERS (the x26
    # rule: never either engine's calendar function).
    oracle=f"""
    WITH {EV_CTE},
    base AS (
      SELECT event_type AS ra,
             (ts_ns // 86400000000000 + 4) % 7 AS cb
      FROM ev),
    cells AS (SELECT ra, cb, COUNT(*) AS o FROM base GROUP BY ra, cb),
    rt AS (SELECT ra, SUM(o) AS rt FROM cells GROUP BY ra),
    ct AS (SELECT cb, SUM(o) AS ct FROM cells GROUP BY cb),
    tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT ra) AS n_rows_cat,
                   COUNT(DISTINCT cb) AS n_cols_cat
            FROM cells),
    terms AS (
      SELECT CAST((CAST(c.o AS HUGEINT) * t.n - CAST(r.rt AS HUGEINT) * ci.ct)
                  * (CAST(c.o AS HUGEINT) * t.n - CAST(r.rt AS HUGEINT) * ci.ct)
                  * 1000000000
                  // (CAST(t.n AS HUGEINT) * r.rt * ci.ct) AS BIGINT) AS t9
      FROM cells c
      JOIN rt r ON r.ra = c.ra
      JOIN ct ci ON ci.cb = c.cb
      CROSS JOIN tot t),
    chi2 AS (SELECT COALESCE(SUM(t9), 0) AS chi2_9 FROM terms)
    SELECT CAST(t.n AS BIGINT) AS n,
           CAST(t.n_rows_cat AS BIGINT) AS n_rows_cat,
           CAST(t.n_cols_cat AS BIGINT) AS n_cols_cat,
           CAST((t.n_rows_cat - 1) * (t.n_cols_cat - 1) AS BIGINT) AS dof,
           CAST(chi2.chi2_9 AS BIGINT) AS chi2_9,
           CASE WHEN t.n_rows_cat > 1 AND t.n_cols_cat > 1 THEN
             SQRT((CAST(chi2.chi2_9 AS DOUBLE) / 1e9)
                  / (CAST(t.n AS DOUBLE)
                     * CAST(LEAST(t.n_rows_cat - 1, t.n_cols_cat - 1) AS DOUBLE)))
           END AS cramers_v
    FROM tot t CROSS JOIN chi2
    """,
    survey_ref="chi-square test of independence + Cramer's V "
    "(operators/contingency.py) — categorical-association screen "
    "(event_type x epoch-derived weekday) completing the correlation "
    "family for categorical pairs; per-cell terms quantized to exact "
    "1e9-scaled integers before the order-independent cross-cell sum "
    "(the o26 ANOVA discipline), V as one IEEE double chain; every "
    "data-sized stage a map-side-combinable hash aggregate; staged r10, "
    "promoted r11",
)
def o28_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.contingency import chi2_independence
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        "event_type",
        ((F.expr("ts_ns div 86400000000000") + 4) % 7).alias("dow"),
    )
    return chi2_independence(ev, "event_type", "dow")


@register(
    "g16_linkpred",
    # SQL mirror of the wedge-join: canonical undirected edges, degrees,
    # center-oriented adjacency, u<v wedge pairs, integer RA terms
    # (BIGINT // == Spark div), Jaccard as exact rational + ONE
    # correctly-rounded double division
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b FROM (
        SELECT doc_id AS s, doc_id + 1 AS t FROM documents
        UNION ALL
        SELECT doc_id AS s, (doc_id // 50) * 50 AS t FROM documents
      ) raw WHERE s != t),
    und AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
    deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY a),
    adj AS (
      SELECT und.a AS z, und.b AS n, deg.deg AS deg_z
      FROM und JOIN deg ON deg.node = und.a),
    wedges AS (
      SELECT l.z, l.n AS u, r.n AS v, l.deg_z
      FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n),
    scored AS (
      SELECT u, v, COUNT(*) AS common_neighbors,
             SUM(CAST(1000000000000 AS BIGINT) // deg_z) AS ra_12
      FROM wedges GROUP BY u, v),
    j AS (
      SELECT s.u, s.v, s.common_neighbors, s.ra_12,
             du.deg AS deg_u, dv.deg AS deg_v
      FROM scored s
      JOIN deg du ON du.node = s.u
      JOIN deg dv ON dv.node = s.v)
    SELECT u, v,
           CAST(common_neighbors AS BIGINT) AS common_neighbors,
           CAST(ra_12 AS BIGINT) AS ra_12,
           CAST(common_neighbors AS BIGINT) AS jaccard_num,
           CAST(deg_u + deg_v - common_neighbors AS BIGINT) AS jaccard_den,
           CAST(common_neighbors AS DOUBLE)
             / CAST(deg_u + deg_v - common_neighbors AS DOUBLE) AS jaccard
    FROM j
    """,
    survey_ref="neighborhood-overlap link prediction "
    "(operators/linkpred.py): common neighbors, Jaccard, and the "
    "resource-allocation index (Zhou, Lu & Zhang 2009) for every "
    "distance-2 pair of the g10 chain+hub document graph — candidate "
    "generation for graph dedup review queues; RA deliberately replaces "
    "Adamic-Adar (1/ln terms sum order-dependently; RA quantizes to "
    "exact floor(1e12/deg) int64 terms), Jaccard ships as exact "
    "rational + one IEEE division; wedge enumeration is ONE center-keyed "
    "self-join (the g8 triangle shape) with a documented hub cap; "
    "staged r10, promoted r11",
)
def g16_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkpred import link_prediction_scores
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    edges = docs.select(d.alias("src"), (d + 1).alias("dst")).unionAll(
        docs.select(d.alias("src"), ((d / 50).cast("long") * 50).alias("dst"))
    )
    return link_prediction_scores(edges, "src", "dst")


@register(
    "ev_item_cooccur",
    # item = event_type x props-k decile: enough distinct items (~50)
    # for real pair structure; cap=12 exercises the deterministic
    # (interactions DESC, item ASC) truncation on the busiest users
    oracle=f"""
    WITH {EV_CTE},
    inter AS (
      SELECT user_id AS u,
             event_type || '#' || CAST(
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
               AS VARCHAR) AS i
      FROM ev),
    per_ui AS (SELECT u, i, COUNT(*) AS n_inter FROM inter GROUP BY u, i),
    capped AS (
      SELECT u, i FROM (
        SELECT u, i,
               row_number() OVER (PARTITION BY u
                                  ORDER BY n_inter DESC, i) AS rk
        FROM per_ui) x WHERE rk <= 12),
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b
      FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i)
    SELECT item_a, item_b, COUNT(*) AS n_users
    FROM pairs GROUP BY item_a, item_b
    HAVING COUNT(*) >= 3
    """,
    survey_ref="bipartite co-occurrence projection "
    "(operators/bipartite.py, Sarwar et al. 2001 item-item shape) — the "
    "item-item graph over (user, event_type x value-decile) "
    "interactions; per-user top-cap under (interactions DESC, item ASC) "
    "bounds the quadratic explode BEFORE the pair join "
    "(WindowGroupLimit map-side — the SNM/LSH hub-suppression "
    "discipline), then one user-keyed self-join + one pair count; "
    "staged r10, promoted r11",
)
def ev_item_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.json import json_get_long
    from ..operators.bipartite import bipartite_cooccurrence
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.concat(
            F.col("event_type"),
            F.lit("#"),
            F.expr(
                "CAST(TRY_CAST(get_json_object(props, '$.k') AS BIGINT)"
                " div 10 AS STRING)"
            ),
        ).alias("item"),
    )
    return bipartite_cooccurrence(
        ev, "user_id", "item", per_user_cap=12, min_count=3
    )


@register(
    "ml_mrr_eval",
    # ranking = per-user event_types by (count DESC, type ASC); relevant
    # = 'purchase'; reciprocal ranks quantized to floor(1e9/rank) int64
    # terms so the corpus MRR is an order-independent integer sum closed
    # by one IEEE double division; no-relevant queries contribute 0
    oracle=f"""
    WITH {EV_CTE},
    cnt AS (
      SELECT user_id AS q, event_type,
             COUNT(*) AS n FROM ev GROUP BY user_id, event_type),
    ranked AS (
      SELECT q, event_type,
             row_number() OVER (PARTITION BY q
                                ORDER BY n DESC, event_type) AS rnk
      FROM cnt),
    fr AS (
      SELECT q, MIN(rnk) AS fr FROM ranked
      WHERE event_type = 'purchase' GROUP BY q),
    nq AS (SELECT COUNT(DISTINCT q) AS n_queries FROM ranked),
    stats AS (
      SELECT COALESCE(SUM(CAST(1000000000 AS BIGINT) // fr), 0) AS mrr_sum_9,
             COALESCE(SUM(CASE WHEN fr <= 1 THEN 1 ELSE 0 END), 0) AS hit_at_1,
             COALESCE(SUM(CASE WHEN fr <= 3 THEN 1 ELSE 0 END), 0) AS hit_at_3
      FROM fr)
    SELECT CAST(n_queries AS BIGINT) AS n_queries,
           CAST(mrr_sum_9 AS BIGINT) AS mrr_sum_9,
           CAST(mrr_sum_9 AS DOUBLE) / 1e9 / CAST(n_queries AS DOUBLE) AS mrr,
           CAST(hit_at_1 AS BIGINT) AS hit_at_1,
           CAST(hit_at_3 AS BIGINT) AS hit_at_3
    FROM nq CROSS JOIN stats
    """,
    survey_ref="ranking-quality eval (operators/ranking_eval.py): MRR + "
    "hit@k over a (query, rank, relevance) table — the offline eval loop "
    "for the retrieval stack (txt_bm25_topk, ANN top-k, o12 RRF); "
    "reciprocal ranks quantized to exact floor(1e9/rank) int64 terms "
    "(order-independent corpus sum, one closing IEEE division), "
    "no-relevant queries contribute 0 by stated convention; one "
    "rank-filtered min aggregate + one 1-row reduction; staged r10, "
    "promoted r11",
)
def ml_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.ranking_eval import ranking_metrics
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = cnt.select(
        F.col("user_id").alias("q"),
        F.col("event_type"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("n").desc(), F.col("event_type")
            )
        )
        .alias("rnk"),
        (F.col("event_type") == "purchase").alias("rel"),
    )
    return ranking_metrics(ranked, "q", "rnk", "rel", ks=(1, 3))


@register(
    "o29_concentration",
    # exact-rational quantization (the o26/o28 convention): SI/S2/T are
    # decimal(38) integer sums, gini_9/hhi_9 close with one truncating
    # division (HUGEINT // == decimal(38) div, operands non-negative);
    # SI is tie-rank invariant so the row_number tiebreak cannot leak
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM ev WHERE value IS NOT NULL),
    r AS (
      SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x) AS rk
      FROM b),
    agg AS (
      SELECT g, COUNT(*) AS n, SUM(x) AS total,
             SUM(CAST(x AS HUGEINT) * x) AS s2,
             SUM(CAST(rk AS HUGEINT) * x) AS si
      FROM r GROUP BY g)
    SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CAST(total AS BIGINT) AS total,
           CASE WHEN total > 0 THEN CAST(
             (CAST(2 AS HUGEINT) * si - (CAST(n AS HUGEINT) + 1) * total)
             * 1000000000 // (CAST(n AS HUGEINT) * total) AS BIGINT)
           END AS gini_9,
           CASE WHEN total > 0 THEN CAST(
             CAST(s2 AS HUGEINT) * 1000000000
             // (CAST(total AS HUGEINT) * total) AS BIGINT)
           END AS hhi_9
    FROM agg
    """,
    survey_ref="Gini + Herfindahl-Hirschman concentration "
    "(operators/concentration.py) per event_type over exact cents — the "
    "corpus-governance metric family (domain-share / source-mass "
    "concentration audits for training-data mixes, the corpus_domain_cap "
    "gate's measurement companion); exact decimal(38) integer sums "
    "(rank-weighted SI is tie-rank invariant), 1e9-quantized with one "
    "truncating division, NULL on zero-mass groups; ONE per-group window "
    "sharing its exchange with the group aggregate; staged r10, promoted "
    "r11",
)
def o29_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.concentration import group_concentration
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    return group_concentration(ev, "event_type", "cents")


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled peel rounds (the g10 labelprop pattern): each round
    recomputes per-edge common-neighbor support with a wedge join and
    keeps support >= k-2; filters are idempotent past the fixpoint, so
    the bounded unroll equals the operator's early-stopped result."""
    ctes = [
        """e0 AS (
      SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v FROM (
        SELECT doc_id AS s, doc_id + 1 AS t FROM documents
        UNION ALL
        SELECT doc_id AS s, (doc_id // 50) * 50 AS t FROM documents
        UNION ALL
        SELECT a.doc_id AS s, b.doc_id AS t
        FROM documents a JOIN documents b
          ON a.doc_id % 50 = 0 AND b.doc_id % 50 = 0
         AND a.doc_id < b.doc_id
      ) raw WHERE s != t)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""und{r} AS (
      SELECT u AS a, v AS b FROM e{r}
      UNION ALL SELECT v AS a, u AS b FROM e{r})"""
        )
        ctes.append(
            f"""sup{r} AS (
      SELECT e.u, e.v, COUNT(*) AS s
      FROM e{r} e
      JOIN und{r} x ON x.a = e.u
      JOIN und{r} y ON y.a = e.v AND y.b = x.b
      GROUP BY e.u, e.v)"""
        )
        ctes.append(
            f"""e{r + 1} AS (
      SELECT e.u, e.v FROM e{r} e
      LEFT JOIN sup{r} s ON s.u = e.u AND s.v = e.v
      WHERE COALESCE(s.s, 0) >= {k - 2})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT u, v FROM e{rounds}"


@register(
    "g17_ktruss",
    oracle=_ktruss_oracle(k=4, rounds=3),
    survey_ref="k-truss decomposition (operators/ktruss.py, Cohen 2008) "
    "— edge-level cohesion peeling completing the graph family (g9 "
    "k-core peels nodes, this peels edges by triangle support; the "
    "filter that kills chains of coincidental pairwise near-dup matches "
    "while keeping mutually-confirmed clusters). Fixture: the g10 "
    "chain+hub document graph plus a K10 clique among the block centers "
    "— at k=4 the chain/star mass peels away over two cascading rounds "
    "and exactly the 45 clique edges survive (verified by brute-force "
    "fixpoint in tests/test_ktruss.py's mirror). Oracle replays the "
    "SAME bounded rounds as unrolled CTEs (idempotent past fixpoint). "
    "Scale shape per round: ONE wedge equi-join on the shared endpoint "
    "(the g8/g16 shape) + one map-side-combinable count + lineage cut; "
    "monotone peeling, unique fixpoint, no tie-breaks; staged r10, "
    "promoted r11",
)
def g17_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ktruss import k_truss
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    chain_hub = docs.select(d.alias("src"), (d + 1).alias("dst")).unionAll(
        docs.select(d.alias("src"), ((d / 50).cast("long") * 50).alias("dst"))
    )
    centers = docs.filter(d % 50 == 0).select(d.alias("c"))
    clique = (
        centers.select(F.col("c").alias("src"))
        .join(centers.select(F.col("c").alias("dst")))
        .filter(F.col("src") < F.col("dst"))
    )
    return k_truss(chain_hub.unionAll(clique), k=4, rounds=3)


@register(
    "ml_auc",
    # the Mann-Whitney identity in SQL (Hanley & McNeil 1982): doubled
    # midranks over the distinct-score histogram keep tie halves exact
    # integers; auc closes with one correctly-rounded double division
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT (event_type = 'purchase') AS pos,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
      FROM ev WHERE value IS NOT NULL),
    hist AS (
      SELECT s,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cb
      FROM b GROUP BY s),
    ranked AS (
      SELECT ca, cb,
             SUM(ca + cb) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - ca - cb AS below
      FROM hist),
    agg AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb,
             SUM(ca * (2 * (1 + below) + ca + cb - 1)) AS r2a
      FROM ranked),
    u AS (SELECT na, nb, r2a - na * (na + 1) AS u2a FROM agg)
    SELECT CAST(na AS BIGINT) AS n_pos, CAST(nb AS BIGINT) AS n_neg,
           CAST(u2a AS BIGINT) AS auc_num2,
           CAST(2 * na * nb AS BIGINT) AS auc_den2,
           CASE WHEN na > 0 AND nb > 0 THEN CAST(
             CAST(u2a AS HUGEINT) * 1000000000
             // (CAST(2 AS HUGEINT) * na * nb) AS BIGINT) END AS auc_9,
           CASE WHEN na > 0 AND nb > 0 THEN
             CAST(u2a AS DOUBLE) / CAST(2 * na * nb AS DOUBLE)
           END AS auc
    FROM u
    """,
    survey_ref="exact ROC-AUC (operators/ml_eval.roc_auc, Hanley & "
    "McNeil 1982 Mann-Whitney identity) — does cents score separate "
    "purchases from the rest; no threshold sweep, no data sort: one "
    "hash aggregate to the distinct-score histogram + one ordered "
    "window over the score DOMAIN (the o22 mannwhitney posture), "
    "doubled-midrank integers make ties exact, auc_9 quantized + one "
    "IEEE division; completes the ML-eval family with ml_mrr_eval and "
    "ml_fold_assign; staged r10, promoted r11",
)
def ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import roc_auc
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        (F.col("event_type") == "purchase").alias("pos"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    return roc_auc(ev, "pos", "cents")


@register(
    "ml_confusion",
    # prediction = a deterministic hash "classifier" over props.k so the
    # confusion matrix has real off-diagonal mass; classes seen only in
    # labels or only in predictions both keep rows (full outer of the
    # marginals); ratios are 1e9-quantized exact rationals, NULL on
    # zero denominators
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type AS y,
             CASE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
               WHEN 0 THEN 'click' WHEN 1 THEN 'view'
               WHEN 2 THEN 'purchase' ELSE 'signup' END AS p
      FROM ev),
    cells AS (SELECT y, p, COUNT(*) AS n FROM b GROUP BY y, p),
    sup AS (SELECT y AS cls, SUM(n) AS support FROM cells GROUP BY y),
    prd AS (SELECT p AS cls, SUM(n) AS predicted FROM cells GROUP BY p),
    tp AS (SELECT y AS cls, n AS tp FROM cells WHERE y = p),
    o AS (
      SELECT COALESCE(sup.cls, prd.cls) AS cls,
             COALESCE(support, 0) AS support,
             COALESCE(predicted, 0) AS predicted,
             COALESCE(tp, 0) AS tp
      FROM sup FULL OUTER JOIN prd ON prd.cls = sup.cls
      LEFT JOIN tp ON tp.cls = COALESCE(sup.cls, prd.cls))
    SELECT cls, CAST(support AS BIGINT) AS support,
           CAST(predicted AS BIGINT) AS predicted,
           CAST(tp AS BIGINT) AS tp,
           CAST(predicted - tp AS BIGINT) AS fp,
           CAST(support - tp AS BIGINT) AS fn,
           CASE WHEN predicted > 0 THEN CAST(CAST(tp AS HUGEINT) * 1000000000
             // predicted AS BIGINT) END AS precision_9,
           CASE WHEN support > 0 THEN CAST(CAST(tp AS HUGEINT) * 1000000000
             // support AS BIGINT) END AS recall_9,
           CASE WHEN 2 * tp + (predicted - tp) + (support - tp) > 0 THEN
             CAST(CAST(2 * tp AS HUGEINT) * 1000000000
               // (2 * tp + (predicted - tp) + (support - tp)) AS BIGINT)
           END AS f1_9
    FROM o
    """,
    survey_ref="per-class confusion / precision / recall / F1 "
    "(operators/ml_eval.classification_report) — pure integer counting "
    "over ONE (label, pred) cell aggregate + marginals over the "
    "|classes^2| cell relation; classes present only in labels or only "
    "in predictions keep rows (a never-predicted class must not hide); "
    "ratios as 1e9-quantized exact rationals, NULL zero-division; the "
    "gate's 'classifier' is a deterministic props-hash so off-diagonal "
    "mass is real ('error' is never predicted -> precision NULL row); "
    "staged r10, promoted r11",
)
def ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import classification_report
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        F.col("event_type").alias("y"),
        F.expr(
            "CASE TRY_CAST(get_json_object(props, '$.k') AS BIGINT) % 4"
            " WHEN 0 THEN 'click' WHEN 1 THEN 'view'"
            " WHEN 2 THEN 'purchase' ELSE 'signup' END"
        ).alias("p"),
    )
    return classification_report(ev, "y", "p")


@register(
    "ml_kappa",
    # chance-corrected agreement as an exact rational of integer
    # marginals; HUGEINT // truncates toward zero like Spark's decimal
    # div (measured, the theilsen convention) so the signed kappa_9
    # quantization matches
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type AS y,
             CASE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
               WHEN 0 THEN 'click' WHEN 1 THEN 'view'
               WHEN 2 THEN 'purchase' ELSE 'signup' END AS p
      FROM ev),
    cells AS (SELECT y, p, COUNT(*) AS n FROM b GROUP BY y, p),
    sup AS (SELECT y AS cls, SUM(n) AS s FROM cells GROUP BY y),
    prd AS (SELECT p AS cls, SUM(n) AS pr FROM cells GROUP BY p),
    pe AS (
      SELECT SUM(COALESCE(s, 0) * COALESCE(pr, 0)) AS pe_num
      FROM sup FULL OUTER JOIN prd ON prd.cls = sup.cls),
    tot AS (
      SELECT SUM(n) AS n,
             SUM(CASE WHEN y = p THEN n ELSE 0 END) AS agree
      FROM cells)
    SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
           CAST(pe_num AS BIGINT) AS pe_num,
           CASE WHEN CAST(n AS HUGEINT) * n != pe_num THEN CAST(
             (CAST(n AS HUGEINT) * agree - pe_num) * 1000000000
             // (CAST(n AS HUGEINT) * n - pe_num) AS BIGINT) END AS kappa_9,
           CASE WHEN CAST(n AS HUGEINT) * n != pe_num THEN
             CAST(CAST(n AS HUGEINT) * agree - pe_num AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE)
           END AS kappa
    FROM tot CROSS JOIN pe
    """,
    survey_ref="Cohen's kappa (operators/ml_eval.cohens_kappa, Cohen "
    "1960) — chance-corrected agreement between the props-hash "
    "classifier and event_type: exact rational of the confusion-cell "
    "integer marginals, signed kappa_9 via truncate-toward-zero "
    "division on both engines, one IEEE double division, NULL on "
    "constant tables; same one-cell-aggregate scale shape as "
    "ml_confusion; staged r10, promoted r11",
)
def ml_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import cohens_kappa
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        F.col("event_type").alias("y"),
        F.expr(
            "CASE TRY_CAST(get_json_object(props, '$.k') AS BIGINT) % 4"
            " WHEN 0 THEN 'click' WHEN 1 THEN 'view'"
            " WHEN 2 THEN 'purchase' ELSE 'signup' END"
        ).alias("p"),
    )
    return cohens_kappa(ev, "y", "p")


@register(
    "ml_calibration",
    # reliability bins over an exact basis-point score (cents % 10001
    # spans the full 0..10000 range deterministically); per-bin Brier
    # components in exact bp^2 integers — the global Brier derives as
    # sum(brier2_sum)/(n*1e8) downstream without another pass
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 10001 AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM ev WHERE value IS NOT NULL),
    binned AS (
      SELECT LEAST(p // 1000, 9) AS bin, p, y FROM b),
    agg AS (
      SELECT bin, COUNT(*) AS n, SUM(p) AS sum_p_bp, SUM(y) AS n_pos,
             SUM(CAST(p - y * 10000 AS HUGEINT) * (p - y * 10000)) AS b2
      FROM binned GROUP BY bin)
    SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
           CAST(sum_p_bp AS BIGINT) AS sum_p_bp,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(CAST(sum_p_bp AS HUGEINT) * 1000000000
                // (CAST(n AS HUGEINT) * 10000) AS BIGINT) AS mean_p_9,
           CAST(CAST(n_pos AS HUGEINT) * 1000000000
                // CAST(n AS HUGEINT) AS BIGINT) AS frac_pos_9,
           CAST(b2 AS BIGINT) AS brier2_sum
    FROM agg
    """,
    survey_ref="calibration / reliability report "
    "(operators/ml_eval.calibration_report) — per-bin mean predicted "
    "probability vs observed positive rate plus exact per-bin Brier "
    "components (basis-point integers; global Brier derives from the "
    "bin sums), the is-my-classifier-honest diagnostic completing the "
    "ML-eval family; ONE map-side bin aggregate, ratio math over "
    "n_bins rows; staged r10, promoted r11",
)
def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import calibration_report
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        (
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)") % 10001
        ).alias("p_bp"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    return calibration_report(ev, "p_bp", "y", n_bins=10)
