"""Ranking and classifier evaluation gates (precision-recall AUC, the
classification-report averages, NDCG@k, McNemar's paired test), the
class-balanced evaluation sample and weighted percentiles. Each gate pairs
its plan builder with a DuckDB oracle like every other registry module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import EV_CTE, register


@register(
    "ml_pr_auc",
    # the ml_auc posture on the precision-recall side: walk the
    # distinct-score histogram in DESCENDING score order, quantize each
    # dtp*tp/n term to floor(1e12*...) (HUGEIT // == Spark decimal div on
    # non-negative operands), sum order-independently, close with the
    # fixed-shape IEEE chain ap12/P/1e12
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT (event_type = 'purchase') AS pos,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
      FROM ev WHERE value IS NOT NULL),
    hist AS (
      SELECT s,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
             SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
      FROM b GROUP BY s),
    cum AS (
      SELECT cp, cn,
             SUM(cp) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(cp + cn) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nk
      FROM hist),
    agg AS (
      SELECT SUM(cp) AS n_pos, SUM(cn) AS n_neg, COUNT(*) AS n_scores,
             SUM(CAST(CAST(cp AS HUGEINT) * tp * 1000000000000
                      // CAST(nk AS HUGEINT) AS BIGINT)) AS ap12
      FROM cum)
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST(n_scores AS BIGINT) AS n_scores,
           CAST(ap12 AS BIGINT) AS ap_12_sum,
           CASE WHEN n_pos > 0 THEN CAST(CAST(ap12 AS HUGEINT)
             // (CAST(1000 AS HUGEINT) * n_pos) AS BIGINT) END AS ap_9,
           CASE WHEN n_pos > 0 THEN
             CAST(ap12 AS DOUBLE) / CAST(n_pos AS DOUBLE) / 1e12
           END AS average_precision
    FROM agg
    """,
    survey_ref="step-wise precision-recall AUC / average precision "
    "(operators/ml_eval.pr_auc, the non-interpolated sklearn definition) "
    "— does cents score rank purchases ahead of the rest, weighted where "
    "AP weights: the head of the ranking (the metric that moves when a "
    "rare-positive retrieval stack improves; complements ml_auc, which "
    "is prevalence-invariant); per-term floor(1e12*dtp*tp/n) exact "
    "integers over the descending score-domain walk, order-independent "
    "sum, one fixed-shape IEEE chain; same scale shape as ml_auc (one "
    "hash agg to the score histogram + one domain window + 1-row "
    "reduce)",
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import pr_auc
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        (F.col("event_type") == "purchase").alias("pos"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
    )
    return pr_auc(ev, "pos", "cents")


@register(
    "ml_report_avg",
    # the ml_confusion cell relation rolled up three ways; per-class
    # quantized ratios (zero-division -> 0) recomputed in SQL, then
    # macro = sum // n_classes and weighted = sum(support*ratio) // n
    # as exact HUGEINT divisions — identical to Spark's decimal div
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
    per AS (
      SELECT COALESCE(sup.cls, prd.cls) AS cls,
             COALESCE(support, 0) AS support,
             COALESCE(predicted, 0) AS predicted,
             COALESCE(tp, 0) AS tp
      FROM sup FULL OUTER JOIN prd ON prd.cls = sup.cls
      LEFT JOIN tp ON tp.cls = COALESCE(sup.cls, prd.cls)),
    q AS (
      SELECT cls, support, predicted, tp,
             predicted - tp AS fp, support - tp AS fn,
             CASE WHEN predicted > 0 THEN CAST(CAST(tp AS HUGEINT)
               * 1000000000 // predicted AS BIGINT) ELSE 0 END AS p9,
             CASE WHEN support > 0 THEN CAST(CAST(tp AS HUGEINT)
               * 1000000000 // support AS BIGINT) ELSE 0 END AS r9,
             CASE WHEN 2 * tp + (predicted - tp) + (support - tp) > 0
               THEN CAST(CAST(2 * tp AS HUGEINT) * 1000000000
                 // (2 * tp + (predicted - tp) + (support - tp)) AS BIGINT)
               ELSE 0 END AS f9
      FROM per),
    agg AS (
      SELECT SUM(support) AS n, COUNT(*) AS n_classes,
             SUM(tp) AS tpt, SUM(predicted) AS predt,
             SUM(fp) AS fpt, SUM(fn) AS fnt,
             SUM(p9) AS sp9, SUM(r9) AS sr9, SUM(f9) AS sf9,
             SUM(CAST(support AS HUGEINT) * p9) AS wp9,
             SUM(CAST(support AS HUGEINT) * r9) AS wr9,
             SUM(CAST(support AS HUGEINT) * f9) AS wf9
      FROM q)
    SELECT CAST(n AS BIGINT) AS n, CAST(n_classes AS BIGINT) AS n_classes,
           CASE WHEN predt > 0 THEN CAST(CAST(tpt AS HUGEINT) * 1000000000
             // predt AS BIGINT) END AS micro_precision_9,
           CASE WHEN n > 0 THEN CAST(CAST(tpt AS HUGEINT) * 1000000000
             // n AS BIGINT) END AS micro_recall_9,
           CASE WHEN 2 * tpt + fpt + fnt > 0 THEN
             CAST(CAST(2 * tpt AS HUGEINT) * 1000000000
               // (2 * tpt + fpt + fnt) AS BIGINT) END AS micro_f1_9,
           CAST(sp9 // n_classes AS BIGINT) AS macro_precision_9,
           CAST(sr9 // n_classes AS BIGINT) AS macro_recall_9,
           CAST(sf9 // n_classes AS BIGINT) AS macro_f1_9,
           CASE WHEN n > 0 THEN CAST(wp9 // CAST(n AS HUGEINT) AS BIGINT)
             END AS weighted_precision_9,
           CASE WHEN n > 0 THEN CAST(wr9 // CAST(n AS HUGEINT) AS BIGINT)
             END AS weighted_recall_9,
           CASE WHEN n > 0 THEN CAST(wf9 // CAST(n AS HUGEINT) AS BIGINT)
             END AS weighted_f1_9
    FROM agg
    """,
    survey_ref="micro/macro/weighted classification-report averages "
    "(operators/ml_eval.classification_report_averages) — "
    "the three standard multi-class rollups as pure "
    "column math over ml_confusion's cell relation: micro = pooled "
    "counts (== accuracy on single-label input), macro = unweighted "
    "mean of the 1e9-quantized per-class ratios with zero-division "
    "classes contributing 0 AND counting in the denominator (a dead "
    "class must drag the macro down), weighted = support-weighted same; "
    "the gate's props-hash classifier leaves 'error' never predicted, "
    "so macro < micro is structural; one extra 1-row aggregate over the "
    "|classes|^2 relation",
)
def ml_report_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import classification_report_averages
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        F.col("event_type").alias("y"),
        F.expr(
            "CASE TRY_CAST(get_json_object(props, '$.k') AS BIGINT) % 4"
            " WHEN 0 THEN 'click' WHEN 1 THEN 'view'"
            " WHEN 2 THEN 'purchase' ELSE 'signup' END"
        ).alias("p"),
    )
    return classification_report_averages(ev, "y", "p")


def _ndcg_oracle(k: int) -> str:
    """Interpolate the operator's OWN discount constants (driver-side
    literal integers — log2 is never evaluated by either engine) into
    the SQL twin. Ranking fixture: per user, active DAYS ranked by
    (event count DESC, day ASC); a day is relevant iff it saw a
    purchase — n_rel varies 0..many so the min(n_rel, k) idcg clip and
    the unscored-query exclusion are both load-bearing."""
    from ..operators.ranking_eval import ndcg_discounts

    d = ndcg_discounts(k)
    prefix = []
    acc = 0
    for v in d:
        acc += v
        prefix.append(acc)
    d_cases = " ".join(f"WHEN {r + 1} THEN {v}" for r, v in enumerate(d))
    p_cases = " ".join(f"WHEN {m + 1} THEN {v}" for m, v in enumerate(prefix))
    return f"""
    WITH {EV_CTE},
    days AS (
      SELECT user_id AS q, ts_ns // 86400000000000 AS day,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0 AS rel
      FROM ev GROUP BY user_id, day),
    ranked AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q
                                ORDER BY n DESC, day) AS rnk
      FROM days),
    per_q AS (
      SELECT q,
             SUM(CASE WHEN rel AND rnk <= {k}
                 THEN CASE rnk {d_cases} END ELSE 0 END) AS dcg_12,
             SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS n_rel
      FROM ranked GROUP BY q),
    scored AS (
      SELECT dcg_12,
             CASE LEAST(n_rel, {k}) {p_cases} END AS idcg_12
      FROM per_q WHERE n_rel > 0),
    stats AS (
      SELECT COUNT(*) AS n_scored,
             COALESCE(SUM(CAST(CAST(dcg_12 AS HUGEINT) * 1000000000
               // CAST(idcg_12 AS HUGEINT) AS BIGINT)), 0) AS ndcg_sum_9
      FROM scored),
    nq AS (SELECT COUNT(DISTINCT q) AS n_queries FROM ranked)
    SELECT CAST(n_queries AS BIGINT) AS n_queries,
           CAST(n_scored AS BIGINT) AS n_scored,
           CAST(ndcg_sum_9 AS BIGINT) AS ndcg_sum_9,
           CASE WHEN n_scored > 0 THEN CAST(ndcg_sum_9 // n_scored AS BIGINT)
             END AS mean_ndcg_9,
           CASE WHEN n_scored > 0 THEN
             CAST(ndcg_sum_9 AS DOUBLE) / 1e9 / CAST(n_scored AS DOUBLE)
           END AS mean_ndcg
    FROM nq CROSS JOIN stats
    """


@register(
    "ml_ndcg",
    oracle=_ndcg_oracle(k=5),
    survey_ref="binary-relevance NDCG@5 (operators/ranking_eval.ndcg_at_k) "
    "— completes the ranking-eval family: MRR rewards the FIRST hit, "
    "NDCG rewards packing ALL hits high; discounts floor(1e12/log2(r+1)) "
    "are driver-side literal integer constants shared verbatim by plan "
    "and oracle (log2 never evaluated by an engine — the RA-replaces-"
    "Adamic-Adar transcendental discipline applied to ranking), idcg = "
    "prefix-sum lookup at min(n_rel, k), ndcg_9 exact-quantized; queries "
    "with no relevant candidate are UNSCORED (excluded + counted in "
    "n_scored), the stated convention vs MRR's contribute-0; per-user "
    "active days ranked by (count DESC, day ASC), relevant = day saw a "
    "purchase, so n_rel spans 0..many and the idcg clip is load-bearing; "
    "one per-query conditional aggregate + 1-row reduce",
)
def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.ranking_eval import ndcg_at_k
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    days = ev.groupBy(
        "user_id", F.expr("ts_ns div 86400000000000").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) > 0).alias(
            "rel"
        ),
    )
    ranked = days.select(
        F.col("user_id").alias("q"),
        F.col("rel"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("day")))
        .alias("rnk"),
    )
    return ndcg_at_k(ranked, "q", "rnk", "rel", k=5)


@register(
    "sample_class_balanced",
    # items = (event_type, user) with weight = interaction count; the
    # A-ES per-stratum draw in SQL: unnest(range) explode, md5 keys with
    # the salt|cls:id:rep payload, max fold, per-class row_number
    oracle=f"""
    WITH {EV_CTE},
    w AS (
      SELECT event_type AS cls, user_id AS id, COUNT(*) AS wt
      FROM ev GROUP BY event_type, user_id),
    reps AS (
      SELECT cls, id, unnest(range(1, wt + 1)) AS rep FROM w WHERE wt >= 1),
    keys AS (
      SELECT cls, id,
             MAX(('0x' || substr(md5(
               'bal|' || cls || ':' || CAST(id AS VARCHAR)
               || ':' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT) AS key
      FROM reps GROUP BY cls, id),
    rk AS (
      SELECT cls, id, key,
             row_number() OVER (PARTITION BY cls
                                ORDER BY key DESC, id) AS rk
      FROM keys)
    SELECT cls, id, key, CAST(rk AS BIGINT) AS rk FROM rk WHERE rk <= 4
    """,
    survey_ref="per-class balanced weighted sampling "
    "(operators/sampling.balanced_weighted_sample) — "
    "the A-ES draw generalized to one independent draw per "
    "stratum: exactly min(4, class size) users per event_type, weighted "
    "by interaction count, without replacement; the ranking key is a "
    "pure function of (salt, class, id, draw index) so growing one "
    "class never changes another's sample and the rk<=n prefix is "
    "itself a valid smaller sample (nesting property, pinned in "
    "tests/test_sampling.py); draw rows fold map-side before the one "
    "data-sized shuffle, the per-class top-n compiles to "
    "WindowGroupLimit",
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import balanced_weighted_sample
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    items = ev.groupBy(
        F.col("event_type").alias("cls"), F.col("user_id").alias("id")
    ).agg(F.count(F.lit(1)).alias("wt"))
    return balanced_weighted_sample(items, "cls", "id", "wt", n_per_class=4)


@register(
    "ml_mcnemar",
    # two deterministic props-hash "classifiers" over the same rows: A is
    # the ml_confusion mapping, B a shifted mapping, so the discordant
    # cells carry real mass both ways; all math exact integers, chi2 via
    # one fixed-shape IEEE chain
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type AS y,
             CASE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
               WHEN 0 THEN 'click' WHEN 1 THEN 'view'
               WHEN 2 THEN 'purchase' ELSE 'signup' END AS pa,
             CASE (TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 7 + 1) % 4
               WHEN 0 THEN 'click' WHEN 1 THEN 'view'
               WHEN 2 THEN 'purchase' ELSE 'signup' END AS pb
      FROM ev),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS both_correct,
             SUM(CASE WHEN pa = y AND (pb IS NULL OR pb != y) THEN 1 ELSE 0 END) AS only_a,
             SUM(CASE WHEN (pa IS NULL OR pa != y) AND pb = y THEN 1 ELSE 0 END) AS only_b,
             SUM(CASE WHEN (pa IS NULL OR pa != y) AND (pb IS NULL OR pb != y)
                 THEN 1 ELSE 0 END) AS neither
      FROM b)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(both_correct AS BIGINT) AS both_correct,
           CAST(only_a AS BIGINT) AS only_a,
           CAST(only_b AS BIGINT) AS only_b,
           CAST(neither AS BIGINT) AS neither,
           CASE WHEN only_a + only_b > 0 THEN
             CAST(CAST(only_a - only_b AS HUGEINT) * (only_a - only_b)
               * 1000000000 // (only_a + only_b) AS BIGINT) END AS chi2_9,
           CASE WHEN only_a + only_b > 0 THEN
             CAST((only_a - only_b) * (only_a - only_b) AS DOUBLE)
               / CAST(only_a + only_b AS DOUBLE) END AS chi2
    FROM agg
    """,
    survey_ref="McNemar's paired-classifier test "
    "(operators/ml_eval.mcnemar_test) — comparing two classifiers on "
    "the SAME eval rows: only the discordant cells carry signal, chi2 = "
    "(only_a - only_b)^2 / (only_a + only_b) WITHOUT continuity "
    "correction (stated; the corrected variant derives from the shipped "
    "integer cells), NULL when the classifiers never disagree; the "
    "paired complement to o27's unpaired two-proportion z; ONE "
    "map-side-combinable aggregate",
)
def ml_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ml_eval import mcnemar_test
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        F.col("event_type").alias("y"),
        F.expr(
            "CASE TRY_CAST(get_json_object(props, '$.k') AS BIGINT) % 4"
            " WHEN 0 THEN 'click' WHEN 1 THEN 'view'"
            " WHEN 2 THEN 'purchase' ELSE 'signup' END"
        ).alias("pa"),
        F.expr(
            "CASE (TRY_CAST(get_json_object(props, '$.k') AS BIGINT) * 7 + 1) % 4"
            " WHEN 0 THEN 'click' WHEN 1 THEN 'view'"
            " WHEN 2 THEN 'purchase' ELSE 'signup' END"
        ).alias("pb"),
    )
    return mcnemar_test(ev, "y", "pa", "pb")


@register(
    "o30_weighted_percentiles",
    # weighted percentile_disc per event_type: value = exact cents,
    # weight = 1 + (props.k % 10); the defining inequality is evaluated
    # in wide integers on both engines (cumw*q_den >= totw*q_num), no
    # division anywhere, so the picked values match bit-for-bit
    oracle=f"""
    WITH {EV_CTE},
    b AS (
      SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             1 + TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS w
      FROM ev WHERE value IS NOT NULL),
    hist AS (
      SELECT g, v, SUM(w) AS wv FROM b
      WHERE w IS NOT NULL AND w > 0 GROUP BY g, v),
    cum AS (
      SELECT g, v,
             SUM(wv) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             SUM(wv) OVER (PARTITION BY g) AS totw
      FROM hist),
    wide AS (
      SELECT g, MAX(totw) AS total_w,
             MIN(CASE WHEN CAST(cumw AS HUGEINT) * 2
                 >= CAST(totw AS HUGEINT) * 1 THEN v END) AS p_1_2,
             MIN(CASE WHEN CAST(cumw AS HUGEINT) * 10
                 >= CAST(totw AS HUGEINT) * 9 THEN v END) AS p_9_10,
             MIN(CASE WHEN CAST(cumw AS HUGEINT) * 100
                 >= CAST(totw AS HUGEINT) * 99 THEN v END) AS p_99_100
      FROM cum GROUP BY g)
    SELECT g, CAST(q_num AS BIGINT) AS q_num, CAST(q_den AS BIGINT) AS q_den,
           value, CAST(total_w AS BIGINT) AS total_w
    FROM (
      SELECT g, 1 AS q_num, 2 AS q_den, p_1_2 AS value, total_w FROM wide
      UNION ALL
      SELECT g, 9, 10, p_9_10, total_w FROM wide
      UNION ALL
      SELECT g, 99, 100, p_99_100, total_w FROM wide) u
    """,
    survey_ref="exact per-group weighted percentiles "
    "(operators/sketches.weighted_percentiles_by_group) — the weighted "
    "generalization of the engine's exact order statistics, fully "
    "distributed (no driver histogram, unlike global quantiles_exact's "
    "documented bounded-summary collect): smallest value whose "
    "cumulative weight reaches q_num/q_den of the group total "
    "(percentile_disc 'lower'; returned values are actual data values); "
    "the inequality runs in decimal(38) integers — no division, no "
    "floats — so both engines pick identical values; one hash aggregate "
    "to the (group, value) weight histogram + one per-group domain "
    "window + a |qs|-way conditional min riding the same exchange",
)
def o30_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import weighted_percentiles_by_group
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
        (
            F.lit(1)
            + F.expr("TRY_CAST(get_json_object(props, '$.k') AS BIGINT)") % 10
        ).alias("w"),
    )
    return weighted_percentiles_by_group(
        ev, "g", "cents", "w", [(1, 2), (9, 10), (99, 100)]
    )
