"""Registry gates for these operator families: exact AllPairs
set-similarity join, LSH-verified fuzzy dedup, Public Suffix List
registered-domain, BM25, HyperLogLog, KMV containment, continuous
percentiles, interval-overlap join, salted join, z-order clustering,
table profiling, SCD2 history, 2-D skyline, corpus TV-drift +
temperature mixing, stratified exact-n sampling, Gram-matrix PCA gate,
Unicode script histogram, Gopher rules, PMI co-occurrence,
sorted-neighborhood dedup, Markov transitions, TWAP, OLS trends, linear
attribution, BPE pair stats, and the iterative graph family's first wave
(PageRank, triangles, k-core).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import EV_CTE, QuerySpec, REGISTRY, register

@register(
    "dedup_fuzzy_lsh_verified",
    # the oracle recomputes the SAME deterministic MinHash/LSH candidate
    # stream as the dedup_minhash_lsh gate (shared CTE), then brute-forces
    # the edit-distance verify on exactly those pairs — so the gate pins
    # the COMPOSITION (candidates ∘ verify), not just each stage alone
    oracle=None,  # interpolated below: needs llm_data's shingle CTE
    survey_ref="the 100 TB fuzzy-dedup shape (VERDICT r7 directive 3): "
    "MinHash/LSH candidate generation (one shingle shuffle, corpus-linear) "
    "feeding verify_pairs_levenshtein (operators/fuzzy.py) — the exact "
    "O(len*d) thresholded edit-distance kernel runs once per CANDIDATE, "
    "never corpus x corpus; at sf0.01 the LSH stream has 25 candidates of "
    "which max_dist=5 verifies 24 and rejects 1 (dist 8), exercising both "
    "outcomes; kernel count == candidate count at 10x data",
)
def dedup_fuzzy_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.fuzzy import verify_pairs_levenshtein
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(docs, "doc_id", "text", n=5, num_hashes=16, band_size=4)
    return verify_pairs_levenshtein(cands, docs, "doc_id", "text", max_dist=5)


def _fuzzy_lsh_oracle() -> str:
    from .llm_data import _SQL_SHINGLES

    return f"""
    WITH {_SQL_SHINGLES},
    based AS (
      SELECT doc_id, shingle_h % 2147483647 AS b31
      FROM sh),
    hashed AS (
      SELECT doc_id, seed.i AS seed,
             MIN(((2 * seed.i + 1) * b31 + (seed.i * 1000003 + 12345)) % 2147483647) AS mh
      FROM based, range(0, 16) seed(i)
      GROUP BY doc_id, seed.i),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS band_sig
      FROM hashed GROUP BY doc_id, seed // 4),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id)
    SELECT p.id_a, p.id_b, CAST(levenshtein(a.text, b.text) AS INT) AS dist
    FROM pairs p
    JOIN documents a ON p.id_a = a.doc_id
    JOIN documents b ON p.id_b = b.doc_id
    WHERE levenshtein(a.text, b.text) <= 5
    """


REGISTRY["dedup_fuzzy_lsh_verified"] = QuerySpec(
    name="dedup_fuzzy_lsh_verified",
    build=REGISTRY["dedup_fuzzy_lsh_verified"].build,
    oracle=_fuzzy_lsh_oracle(),
    survey_ref=REGISTRY["dedup_fuzzy_lsh_verified"].survey_ref,
)


#: adversarial PSL host per doc: nine rotating shapes covering a plain
#: normal rule, UK second-level, the 5-label US hierarchy, the *.ck
#: wildcard + !www.ck exception pair (bare-suffix, exception, and
#: registrable-subdomain cases), the JP designated-city exception, an
#: unlisted TLD (implicit '*' default rule), and an IPv4 literal. Spark
#: and the oracle synthesize the SAME strings from the same columns.
_PSL_HOST_SQL = """
    CASE CAST(doc_id % 9 AS INT)
      WHEN 0 THEN source || '.example.com'
      WHEN 1 THEN 'a.' || source || '.co.uk'
      WHEN 2 THEN source || '.pvt.k12.ma.us'
      WHEN 3 THEN 'www.ck'
      WHEN 4 THEN source || '.ck'
      WHEN 5 THEN 'b.' || source || '.ck'
      WHEN 6 THEN 'www.city.kawasaki.jp'
      WHEN 7 THEN source || '.unlisted' || CAST(doc_id % 7 AS INT)
      ELSE '10.0.0.' || CAST(doc_id % 200 AS INT)
    END
"""


def _psl_host_col() -> F.Column:
    d9 = (F.col("doc_id") % 9).cast("int")
    return (
        F.when(d9 == 0, F.concat(F.col("source"), F.lit(".example.com")))
        .when(d9 == 1, F.concat(F.lit("a."), F.col("source"), F.lit(".co.uk")))
        .when(d9 == 2, F.concat(F.col("source"), F.lit(".pvt.k12.ma.us")))
        .when(d9 == 3, F.lit("www.ck"))
        .when(d9 == 4, F.concat(F.col("source"), F.lit(".ck")))
        .when(d9 == 5, F.concat(F.lit("b."), F.col("source"), F.lit(".ck")))
        .when(d9 == 6, F.lit("www.city.kawasaki.jp"))
        .when(
            d9 == 7,
            F.concat(F.col("source"), F.lit(".unlisted"),
                     (F.col("doc_id") % 7).cast("int").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("10.0.0."), (F.col("doc_id") % 200).cast("int").cast("string"))
        )
    )


def _psl_oracle() -> str:
    from ..functions.psl import psl_rules_sql_values

    return f"""
    WITH rules(name, kind) AS (VALUES {psl_rules_sql_values()}),
    u AS (SELECT doc_id, 'https://' || {_PSL_HOST_SQL} || '/p' || doc_id AS url
          FROM documents),
    h AS (SELECT doc_id,
                 lower(regexp_extract(url, '^[^/]*//(?:[^/@?]*@)?([^/:?#]+)', 1)) AS h
          FROM u),
    hl AS (SELECT doc_id, h, string_split(h, '.') AS labels,
                  len(string_split(h, '.')) AS n
           FROM h),
    cand AS (
      SELECT hl.doc_id, hl.h, hl.n, idx.off,
             array_to_string(list_slice(labels, idx.off + 1, n), '.') AS suffix,
             CASE WHEN idx.off < n - 1
                  THEN array_to_string(list_slice(labels, idx.off + 2, n), '.')
             END AS wbase
      FROM hl, LATERAL (SELECT unnest(range(0, n)) AS off) idx),
    m AS (
      SELECT c.doc_id, c.h, c.n,
             MAX(CASE WHEN re.kind = 'exception' THEN 1000000 + (c.n - c.off - 1)
                      WHEN re.kind = 'normal' THEN c.n - c.off END) AS s_e,
             MAX(CASE WHEN rw.kind = 'wildcard' THEN c.n - c.off END) AS s_w
      FROM cand c
      LEFT JOIN rules re ON re.kind != 'wildcard' AND re.name = c.suffix
      LEFT JOIN rules rw ON rw.kind = 'wildcard' AND rw.name = c.wbase
      GROUP BY c.doc_id, c.h, c.n),
    ps AS (
      SELECT doc_id, h, n,
             COALESCE(GREATEST(s_e, s_w), 1) % 1000000 AS ps_labels
      FROM m)
    SELECT doc_id, h AS host,
           CASE WHEN regexp_matches(h, '^[0-9.]+$') THEN h
                WHEN n > ps_labels THEN array_to_string(
                  list_slice(string_split(h, '.'), n - ps_labels, n), '.')
           END AS registered_domain
    FROM ps
    """


@register(
    "txt_url_psl_domain",
    oracle=None,  # set below (needs the interpolated rules dim)
    survey_ref="Public-Suffix-List eTLD+1 as a packaged broadcast dim "
    "(functions/psl.py, VERDICT r7 directive 4): the publicsuffix.org "
    "algorithm — exception beats wildcard beats longest normal rule, "
    "implicit '*' default, NULL when the host IS a public suffix — as "
    "candidate-suffix explode + ONE broadcast join + max-struct fold, no "
    "UDFs; the oracle twin joins the SAME rules dim (VALUES-interpolated) "
    "over an adversarial nine-shape host fixture (co.uk, pvt.k12.ma.us, "
    "*.ck/!www.ck, !city.kawasaki.jp, unlisted TLD, IPv4); full "
    "public_suffix_list.dat swaps in via load_psl_rules(path=...)",
)
def txt_url_psl_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.psl import load_psl_rules, url_registered_domain_psl
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://"), _psl_host_col(), F.lit("/p"),
                 F.col("doc_id").cast("string")).alias("url"),
    )
    out = url_registered_domain_psl(docs, "url", load_psl_rules(spark))
    return out.select("doc_id", "host", "registered_domain")


REGISTRY["txt_url_psl_domain"] = QuerySpec(
    name="txt_url_psl_domain",
    build=REGISTRY["txt_url_psl_domain"].build,
    oracle=_psl_oracle(),
    survey_ref=REGISTRY["txt_url_psl_domain"].survey_ref,
)


@register(
    "txt_bm25_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    q AS (
      SELECT DISTINCT doc_id AS query_id, unnest(list_slice(toks, 1, 3)) AS term
      FROM tok WHERE doc_id % 97 = 0),
    tfrel AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1, 2),
    enr AS (
      SELECT doc_id, term, tf,
             COUNT(*) OVER (PARTITION BY term) AS df,
             SUM(tf) OVER (PARTITION BY doc_id) AS dl
      FROM tfrel),
    dim AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT SUM(len(toks)) FROM tok) AS l_tokens),
    c AS (
      SELECT q.query_id, e.doc_id,
             (44::HUGEINT * e.tf * d.l_tokens
              * (2 * d.n_docs::HUGEINT - 2 * e.df + 1) * 1000000000)
             // ((20::HUGEINT * e.tf * d.l_tokens
                  + 6 * d.l_tokens::HUGEINT
                  + 18 * e.dl::HUGEINT * d.n_docs)
                 * (2 * e.df::HUGEINT + 1)) AS c9
      FROM enr e JOIN q USING (term) CROSS JOIN dim d),
    agg AS (
      SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
             CAST(SUM(c9) AS BIGINT) AS score9
      FROM c GROUP BY 1, 2),
    r AS (
      SELECT query_id, doc_id, n_hit, score9,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score9 DESC, doc_id) AS rnk
      FROM agg)
    SELECT query_id, CAST(rnk AS INT) AS rnk, doc_id, n_hit, score9
    FROM r WHERE rnk <= 5
    """,
    survey_ref="Okapi BM25 top-k retrieval (operators/bm25.py): per-query "
    "document ranking with the k1=1.2/b=0.75 defaults as exact rationals, "
    "score9 = sum of floor(1e9 * per-term contribution) so both engines "
    "truncate identically (the tfidf score9 pattern; float-ln is the "
    "documented pytest-only variant); queries are the first 3 tokens of "
    "every doc_id % 97 == 0 document; ONE corpus token scan, df/dl as "
    "windows over the tf relation, broadcast query join, WindowGroupLimit "
    "top-k",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.bm25 import bm25_topk
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    queries = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(ws_tokens(F.col("text")), 1, 3)).alias("term"),
        )
        .distinct()
    )
    out = bm25_topk(docs, queries, "doc_id", "text", k=5, rational=True)
    return out.select(
        "query_id", "rnk", "doc_id", "n_hit",
        F.col("score9").cast("long").alias("score9"),
    )


@register(
    "sketch_hll_distinct",
    # p=6: m=64 registers, w_bits=54 (2^54=18014398509481984), B=55
    # (2^55=36028797018963968), alpha = 709/1000; the estimate is ONE
    # integer division so both engines agree bit-exactly (the float-ln
    # linear-counting correction column is pytest-only, not gated)
    oracle="""
    WITH tok AS (
      SELECT lang AS key,
             unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS v
      FROM documents),
    h AS (SELECT key, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv FROM tok),
    b AS (SELECT key, hv // 18014398509481984 AS bucket,
                 hv % 18014398509481984 AS w
          FROM h),
    r AS (SELECT key, bucket,
                 CASE WHEN w = 0 THEN 55 ELSE 54 - length(bin(w)) + 1 END AS rho
          FROM b),
    reg AS (SELECT key, bucket, MAX(rho) AS rho_max FROM r GROUP BY 1, 2),
    agg AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n_buckets,
             SUM((1::BIGINT << CAST(55 - rho_max AS INT))) AS s_obs
      FROM reg GROUP BY key),
    est AS (
      SELECT key, n_buckets,
             CAST(64 - n_buckets AS BIGINT) AS zeros,
             CAST(s_obs + (64 - n_buckets) * 36028797018963968 AS BIGINT) AS s_num
      FROM agg),
    ex AS (SELECT key, CAST(COUNT(DISTINCT v) AS BIGINT) AS exact_distinct
           FROM tok GROUP BY key)
    SELECT e.key, e.n_buckets, e.zeros, e.s_num,
           CAST((709::HUGEINT * 64 * 64 * 36028797018963968)
                // (1000::HUGEINT * e.s_num) AS BIGINT) AS raw_est,
           x.exact_distinct
    FROM est e JOIN ex x USING (key)
    """,
    survey_ref="HyperLogLog distinct-cardinality sketch (operators/"
    "sketches.hll_*, Flajolet et al. 2007) beside the KMV estimator: "
    "per-language distinct-token registers from the same deterministic "
    "md5 hash, rho via the integer-exact length-of-binary-string trick "
    "(no float log2), raw estimate as ONE integer division "
    "(alpha_num*m^2*2^B div (alpha_den*s_num)) checked cell-exactly "
    "against the exact distinct; sketch is <= m rows per key, merges by "
    "max (map-side-combined groupBy) — the kilobyte summary for "
    "count-distinct over 100 TB",
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.sketches import hll_distinct
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("lang").alias("key"), F.explode(ws_tokens(F.col("text"))).alias("v")
    )
    est = hll_distinct(toks, "key", "v", p=6).drop("est_distinct")
    exact = toks.groupBy("key").agg(F.count_distinct("v").alias("exact_distinct"))
    return est.join(exact, "key").select(
        "key",
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("zeros").cast("long").alias("zeros"),
        F.col("s_num").cast("long").alias("s_num"),
        "raw_est",
        "exact_distinct",
    )


@register(
    "x16_interval_join",
    # functional-spec oracle: a brute-force inequality join is fine at
    # sf0.01 (the Spark side's bucket banding is the scale path; the
    # bucket-independence property is pinned in tests/test_range_join.py)
    oracle="""
    WITH ev AS (
      SELECT event_id, epoch_ns(ts) AS ts_ns, user_id, event_type FROM events),
    v AS (SELECT user_id, event_id AS view_id, ts_ns AS v_start,
                 ts_ns + 7200000000000 AS v_end
          FROM ev WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id AS click_id, ts_ns AS c_start,
                 ts_ns + 3600000000000 AS c_end
          FROM ev WHERE event_type = 'click')
    SELECT v.user_id, v.view_id, v.v_start, v.v_end,
           c.click_id, c.c_start, c.c_end,
           GREATEST(v.v_start, c.c_start) AS overlap_start,
           LEAST(v.v_end, c.c_end) AS overlap_end
    FROM v JOIN c ON v.user_id = c.user_id
     AND v.v_start < c.c_end AND c.c_start < v.v_end
    """,
    survey_ref="interval-overlap (range) join (operators/range_join.py): "
    "per-user view[ts, ts+2h) x click[ts, ts+1h) attribution windows — "
    "the inequality join Spark would otherwise nested-loop, re-expressed "
    "as bucket banding (explode to covered 1h buckets, plain hash "
    "equi-join, exact half-open predicate, exactly-once via the "
    "overlap-start-bucket rule, zero dedup shuffle); bucket width is the "
    "one dial and correctness is bucket-independent (property-pinned)",
)
def x16_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import interval_overlap_join
    from ..sources.testdata import load_events

    HOUR = 3_600_000_000_000
    ev = load_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts_ns").alias("v_start"),
        (F.col("ts_ns") + 2 * HOUR).alias("v_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts_ns").alias("c_start"),
        (F.col("ts_ns") + HOUR).alias("c_end"),
    )
    return interval_overlap_join(
        views, clicks, "v_start", "v_end", "c_start", "c_end",
        on=["user_id"], bucket=HOUR,
    )


@register(
    "emb_gram_matrix",
    # floor-quantized (x * 1e6) integer Gram entries: exact sums, so the
    # d x d summary that drives distributed PCA is hash-checkable; the
    # float eigen/projection phase is pytest-pinned (tests/test_pca.py)
    oracle="""
    WITH qv AS (
      SELECT list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings),
    p AS (
      SELECT i.i, j.j, q[i.i + 1] AS qi, q[j.j + 1] AS qj
      FROM qv,
           LATERAL (SELECT unnest(range(0, len(q))) AS i) i,
           LATERAL (SELECT unnest(range(0, len(q))) AS j) j
      WHERE j.j >= i.i)
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(SUM(qi * qj) AS BIGINT) AS g,
           CAST(SUM(qi) AS BIGINT) AS s_i,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
    survey_ref="the distributed phase of PCA/whitening (operators/pca.py): "
    "ONE map-side-combined aggregate produces the d x d Gram matrix over "
    "floor-quantized integer embeddings — exact, partition-order "
    "independent, shuffle bounded by d^2 rows per task regardless of "
    "corpus size; the d x d eigenproblem then solves on the driver "
    "(collect bounded by d^2, the pricing/graph.py pattern) and the k "
    "axes broadcast back as literal arrays for a codegen projection "
    "(F.aggregate dot products, no UDF) — projection/whitening "
    "pytest-pinned against numpy",
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import gram_matrix
    from ..sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding").select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        "g", "s_i", "n",
    )


#: planted multi-script suffixes (literal characters interpolated into BOTH
#: engines' expressions, the NFC-gate pattern)
_SCRIPT_SUFFIX = {
    0: " Привет мир",
    1: " 汉字处理中",
    2: " مرحبا بالعالم",
    3: " 数字123 テスト 한글",
}


def _script_mutation_sql() -> str:
    cases = " ".join(
        f"WHEN {k} THEN text || '{v}'" for k, v in _SCRIPT_SUFFIX.items()
    )
    return f"CASE CAST(doc_id % 5 AS INT) {cases} ELSE text END"


def _script_profile_oracle() -> str:
    from ..functions.text import SCRIPT_CLASSES

    cols = ",\n           ".join(
        f"CAST(length(m) - length(regexp_replace(m, '{re2}', '', 'g')) AS INT) AS n_{name}"
        for name, _, re2 in SCRIPT_CLASSES
    )
    sum_all = " + ".join(f"n_{name}" for name, _, _ in SCRIPT_CLASSES)
    return f"""
    WITH m AS (SELECT doc_id, {_script_mutation_sql()} AS m FROM documents),
    c AS (
      SELECT doc_id, CAST(length(m) AS INT) AS n_chars_total,
           {cols}
      FROM m)
    SELECT *, CAST(n_chars_total - ({sum_all}) AS INT) AS n_other FROM c
    """


@register(
    "txt_script_profile",
    oracle=None,  # set below: column list derives from SCRIPT_CLASSES
    survey_ref="Unicode script-class histogram (functions/text."
    "script_profile): per-document codepoint counts for latin/cyrillic/"
    "greek/han/arabic/hebrew/hangul/kana/digit/space + other — the "
    "wrong-script-contamination filter of multilingual corpus curation; "
    "pure codegen length-minus-stripped counting (Java \\p{IsX} == RE2 "
    "\\p{X}, parity pinned per class), zero shuffle; gate plants "
    "multi-script suffixes on four of five docs",
)
def txt_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import script_profile
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    d5 = (F.col("doc_id") % 5).cast("int")
    mut = F.col("text")
    for k, v in _SCRIPT_SUFFIX.items():
        mut = F.when(d5 == k, F.concat(F.col("text"), F.lit(v))).otherwise(mut)
    prof = script_profile(F.col("m"))
    return docs.select("doc_id", mut.alias("m")).select(
        "doc_id",
        *[c.cast("int").alias(name) for name, c in prof.items()],
    )


REGISTRY["txt_script_profile"] = QuerySpec(
    name="txt_script_profile",
    build=REGISTRY["txt_script_profile"].build,
    oracle=_script_profile_oracle(),
    survey_ref=REGISTRY["txt_script_profile"].survey_ref,
)


@register(
    "dedup_jaccard_join_exact",
    oracle=None,  # set below: shares llm_data's shingle CTE
    survey_ref="EXACT set-similarity join via AllPairs prefix filtering "
    "(operators/allpairs.py, Bayardo/Ma/Srikant WWW'07): every doc pair "
    "with 5-gram-shingle Jaccard >= 1/10, NO false negatives — the exact "
    "complement of dedup_minhash_lsh's probabilistic candidates; "
    "df-rarest-first prefix tokens are the ONLY postings indexed and the "
    "length band prunes before any intersection; threshold compares in "
    "exact integer arithmetic (inter*den >= num*union) so the boundary "
    "is engine-identical; brute-force parity property-pinned in "
    "tests/test_allpairs.py, pruning factor measured in SCALE.md",
)
def dedup_jaccard_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.allpairs import jaccard_join_elements
    from ..operators.dedup import _doc_shingles
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    # codegen shingle hasher (posexplode + window leads) — the F.transform
    # array-lambda form runs interpreted and measured ~10x slower
    shingles = _doc_shingles(docs, "doc_id", "text", n=5)
    return jaccard_join_elements(shingles, "id", "shingle_h", None, num=1, den=10)


def _jaccard_join_oracle() -> str:
    from .llm_data import _SQL_SHINGLES

    return f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    i AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
      FROM i JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, inter, sz_a, sz_b,
           CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) AS jaccard
    FROM j WHERE inter * 10 >= 1 * (sz_a + sz_b - inter)
    """


REGISTRY["dedup_jaccard_join_exact"] = QuerySpec(
    name="dedup_jaccard_join_exact",
    build=REGISTRY["dedup_jaccard_join_exact"].build,
    oracle=_jaccard_join_oracle(),
    survey_ref=REGISTRY["dedup_jaccard_join_exact"].survey_ref,
)


@register(
    "sketch_kmv_containment",
    # A = the doc_id % 10 == 0 tenth of the corpus, B = the rest, per
    # lang: a genuinely ASYMMETRIC pair, so containment(A in B) runs high
    # while Jaccard (and containment(B in A)) stays low — the signal this
    # estimator exists for
    oracle="""
    WITH tokd AS (
      SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    av AS (
      SELECT DISTINCT lang AS key, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv
      FROM (SELECT lang, unnest(toks) AS v FROM tokd WHERE doc_id % 10 = 0)),
    bv AS (
      SELECT DISTINCT lang AS key, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv
      FROM (SELECT lang, unnest(toks) AS v FROM tokd WHERE doc_id % 10 != 0)),
    ska AS (SELECT key, hv FROM (
      SELECT key, hv, row_number() OVER (PARTITION BY key ORDER BY hv) AS pos FROM av)
      WHERE pos <= 128),
    skb AS (SELECT key, hv FROM (
      SELECT key, hv, row_number() OVER (PARTITION BY key ORDER BY hv) AS pos FROM bv)
      WHERE pos <= 128),
    u AS (
      SELECT key, hv, MAX(a) AS in_a, MAX(b) AS in_b
      FROM (SELECT key, hv, 1 AS a, 0 AS b FROM ska
            UNION ALL SELECT key, hv, 0 AS a, 1 AS b FROM skb)
      GROUP BY key, hv),
    topk AS (
      SELECT key, hv, in_a, in_b,
             row_number() OVER (PARTITION BY key ORDER BY hv) AS pos
      FROM u QUALIFY pos <= 128),
    agg AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n_union_seen,
             CAST(SUM(in_a) AS BIGINT) AS n_a,
             CAST(SUM(in_b) AS BIGINT) AS n_b,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM topk GROUP BY key)
    SELECT key, n_union_seen, n_a, n_b, n_both,
           n_both / n_a AS containment_a_in_b,
           n_both / n_b AS containment_b_in_a
    FROM agg
    """,
    survey_ref="asymmetric set containment from KMV sketches (operators/"
    "sketches.kmv_containment, the Beyer et al. 2007 estimator family): "
    "containment(A in B) = |A∩B|/|A| via the union sketch's k-minima — "
    "the subset/quote-detection signal Jaccard hides (a doc wholly pasted "
    "inside a much larger one has Jaccard ~0 but containment ~1); "
    "per-lang vocabulary of a 10% corpus slice vs the rest, k=128 rows "
    "per side regardless of corpus size",
)
def sketch_kmv_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.sketches import kmv_containment, kmv_sketch
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.col("lang").alias("key"),
        F.explode(ws_tokens(F.col("text"))).alias("v"),
    )
    a = toks.filter(F.col("doc_id") % 10 == 0)
    b = toks.filter(F.col("doc_id") % 10 != 0)
    return kmv_containment(
        kmv_sketch(a, "key", "v", k=128), kmv_sketch(b, "key", "v", k=128), k=128
    )


#: customer <-> supplier trade graph: an edge per distinct trading pair in
#: both directions (key spaces prefixed to disjoint node ids)
_PR_EDGES_SQL = """edges(src, dst) AS (
      SELECT 'c' || o_custkey, 's' || l_suppkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION ALL
      SELECT 's' || l_suppkey, 'c' || o_custkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"""


def _pagerank_oracle() -> str:
    from ..operators.pagerank import pagerank_oracle_sql

    return pagerank_oracle_sql(_PR_EDGES_SQL, iters=3)


@register(
    "g7_pagerank",
    oracle=None,  # set below: generated unrolled-iteration twin
    survey_ref="fixed-iteration PageRank in exact integer arithmetic "
    "(operators/pagerank.py) over the bidirectional customer<->supplier "
    "trade graph — the iterative relational algorithm class done "
    "Spark-first: one join + one aggregate per iteration, lineage cut "
    "per iteration with localCheckpoint (without it, iteration t replans "
    "0..t-1 in every branch), scaled-integer scores so the DuckDB twin "
    "(the SAME iterations unrolled as generated CTEs) hash-matches "
    "exactly; G2/G3's graph machinery extended from paths to global "
    "centrality",
)
def g7_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import pagerank_integer
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
    return pagerank_integer(edges, iters=3)


REGISTRY["g7_pagerank"] = QuerySpec(
    name="g7_pagerank",
    build=REGISTRY["g7_pagerank"].build,
    oracle=_pagerank_oracle(),
    survey_ref=REGISTRY["g7_pagerank"].survey_ref,
)


def _zorder_oracle() -> str:
    from ..operators.zorder import zorder_sql

    return f"""
    SELECT l_orderkey, l_partkey,
           CAST({zorder_sql(['(l_orderkey % 65536)', '(l_partkey % 65536)'], 16)} AS BIGINT) AS z
    FROM lineitem
    """


@register(
    "o8_zorder_index",
    oracle=None,  # set below: generated interleave twin
    survey_ref="Z-order (Morton) clustering key (operators/zorder.py): "
    "bit-interleave of the two hottest filter columns as ONE codegen "
    "projection — the write-side layout primitive that lets parquet "
    "row-group min/max stats prune multi-dimensional predicates (the "
    "OPTIMIZE ZORDER story); exact integer bit ops, generated DuckDB "
    "twin, locality-beats-single-sort property pinned in "
    "tests/test_zorder.py, measured file-skip ratio in SCALE.md",
)
def o8_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import zorder_index
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        (F.col("l_orderkey") % 65536).alias("_a"),
        (F.col("l_partkey") % 65536).alias("_b"),
    )
    return li.select(
        "l_orderkey", "l_partkey", zorder_index(["_a", "_b"], 16).alias("z")
    )


REGISTRY["o8_zorder_index"] = QuerySpec(
    name="o8_zorder_index",
    build=REGISTRY["o8_zorder_index"].build,
    oracle=_zorder_oracle(),
    survey_ref=REGISTRY["o8_zorder_index"].survey_ref,
)


@register(
    "o9_table_profile",
    # integer/decimal/date/string columns only: float min/max RENDERING
    # differs across engines (the operator's documented exclusion)
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM lineitem),
    p AS (
      SELECT 'l_orderkey' AS "column",
             CAST(COUNT(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
             CAST(MIN(l_orderkey) AS VARCHAR) AS min_str,
             CAST(MAX(l_orderkey) AS VARCHAR) AS max_str
      FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(COUNT(*) FILTER (l_suppkey IS NULL) AS BIGINT),
             CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
             CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', CAST(COUNT(*) FILTER (l_returnflag IS NULL) AS BIGINT),
             CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
             CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_shipdate', CAST(COUNT(*) FILTER (l_shipdate IS NULL) AS BIGINT),
             CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
             CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
      FROM lineitem)
    SELECT p."column", n.n AS n, p.n_null, p.n_distinct, p.min_str, p.max_str
    FROM p CROSS JOIN n
    """,
    survey_ref="table profiling / column statistics (operators/profile.py "
    "— the ANALYZE / SUMMARIZE surface): per-column nulls, EXACT distinct "
    "count, min/max as a UNION of per-column pruned-scan aggregates — "
    "MEASURED 13x over the folk one-scan Expand form at sf0.1 (9.06 s -> "
    "0.66 s): on columnar storage k single-column scans total ~one "
    "full-table byte read, while the Expand path reads every column AND "
    "pushes a (k+1)x row blow-up through the aggregate; the expand "
    "formulation stays as the documented row-oriented-source dial; float "
    "columns excluded by policy (engine-dependent string rendering)",
)
def o9_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(
        li, ["l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate"]
    )


#: per-doc rule-violating mutations for the Gopher gate (same string
#: synthesis in both engines): 0 unchanged, 1 too short, 2 bullet wall,
#: 3 symbol wall, 4 ellipsis lines, 5 numeric non-alpha gibberish
_GOPHER_MUT_SQL = """
    CASE CAST(doc_id % 6 AS INT)
      WHEN 1 THEN 'short doc'
      WHEN 2 THEN '- item' || repeat(chr(10) || '- item', 9)
      WHEN 3 THEN repeat('# ', 30) || '#'
      WHEN 4 THEN text || repeat(chr(10) || 'and so on...', 5)
      WHEN 5 THEN repeat('111 222 333 ', 20)
      ELSE text
    END
"""


@register(
    "txt_gopher_rules",
    oracle=f"""
    WITH m AS (SELECT doc_id, {_GOPHER_MUT_SQL} AS m FROM documents),
    feat AS (
      SELECT doc_id,
        list_filter(string_split(lower(m), ' '), x -> x != '') AS words,
        string_split(m, chr(10)) AS lines,
        CAST(length(m) - length(replace(m, '#', '')) AS BIGINT)
          + (length(m) - length(replace(m, '...', ''))) // 3 AS n_symbols
      FROM m),
    c AS (
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_words,
        CAST(length(array_to_string(words, '')) AS BIGINT) AS n_chars_in_words,
        n_symbols,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*([-*•‣▪●])'))) AS BIGINT) AS n_bullet_lines,
        CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.[ \t]*$'))) AS BIGINT) AS n_ellipsis_lines,
        CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(words, s))) AS BIGINT) AS n_stop_hits
      FROM feat)
    SELECT doc_id, n_words, n_chars_in_words, n_symbols, n_lines,
           n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stop_hits,
           (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
           (n_chars_in_words >= 3 * n_words AND n_chars_in_words <= 10 * n_words) AS rule_mean_word_len,
           (10 * n_symbols <= n_words) AS rule_symbol_ratio,
           (10 * n_bullet_lines <= 9 * n_lines) AS rule_bullet_lines,
           (10 * n_ellipsis_lines <= 3 * n_lines) AS rule_ellipsis_lines,
           (10 * n_alpha_words >= 8 * n_words) AS rule_alpha_words,
           (n_stop_hits >= 2) AS rule_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (n_chars_in_words >= 3 * n_words AND n_chars_in_words <= 10 * n_words)
            AND (10 * n_symbols <= n_words)
            AND (10 * n_bullet_lines <= 9 * n_lines)
            AND (10 * n_ellipsis_lines <= 3 * n_lines)
            AND (10 * n_alpha_words >= 8 * n_words)
            AND (n_stop_hits >= 2)) AS gopher_pass
    FROM c
    """,
    survey_ref="Gopher-style rule-based quality filtering (functions/"
    "gopher.py, Rae et al. 2021 SSA1.1 heuristics — the MassiveText/"
    "RefinedWeb-class auditable filter beside the learned "
    "txt_quality_classifier): word-count/mean-word-length/symbol-ratio/"
    "bullet-lines/ellipsis-lines/alpha-words/stopword rules, every ratio "
    "cleared to an integer inequality so thresholds are boundary-exact; "
    "gate plants one violation class per doc_id % 6 residue",
)
def txt_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.gopher import gopher_rules
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    d6 = (F.col("doc_id") % 6).cast("int")
    nl = F.lit("\n")
    mut = (
        F.when(d6 == 1, F.lit("short doc"))
        .when(d6 == 2, F.concat(F.lit("- item"), F.expr("repeat('\\n- item', 9)")))
        .when(d6 == 3, F.concat(F.expr("repeat('# ', 30)"), F.lit("#")))
        .when(d6 == 4, F.concat(F.col("text"), F.expr("repeat('\\nand so on...', 5)")))
        .when(d6 == 5, F.expr("repeat('111 222 333 ', 20)"))
        .otherwise(F.col("text"))
    )
    out = gopher_rules(F.col("m"))
    return docs.select("doc_id", mut.alias("m")).select(
        "doc_id", *[c.alias(k) for k, c in out.items()]
    )


@register(
    "x17_salted_join",
    # the oracle is simply the UNSALTED join: salting must be invisible in
    # the result for any salt assignment — that is the operator's contract
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, l.l_linenumber, l.l_suppkey,
           CAST(l.l_quantity AS BIGINT) AS qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
    survey_ref="salted equi-join (operators/salted.py): the explicit "
    "hot-key mitigation — per-row salt on the skewed side, n_salts-way "
    "replication of the other side, join on (key, salt); result == plain "
    "join for ANY salt assignment (multiset-pinned in tests), which is "
    "why nondeterministic per-row salts are sound; complements AQE's "
    "skewedJoin for the cases it can't split (downstream same-key aggs, "
    "hash joins, single-key-exceeds-a-partition); hot-key wall measured "
    "flat",
)
def x17_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.salted import salted_join
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber", "l_suppkey",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    out = salted_join(li, orders, ["k"], n_salts=8)
    return out.select(
        F.col("k").alias("o_orderkey"), "o_custkey", "l_linenumber",
        "l_suppkey", "qty",
    )


@register(
    "sketch_percentiles_cont",
    oracle="""
    WITH s AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM s),
    ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
    qs(q_num, q_den) AS (VALUES (1, 4), (1, 2), (3, 4), (9, 10)),
    spec AS (
      SELECT q_num, q_den,
             (q_num * (n.n - 1)) // q_den + 1 AS rank_lo,
             (q_num * (n.n - 1)) % q_den AS rem
      FROM qs CROSS JOIN n),
    j AS (
      SELECT s.q_num, s.q_den, s.rank_lo, s.rem,
             lo.v AS v_lo,
             hi.v AS v_hi
      FROM spec s
      JOIN ranked lo ON lo.rn = s.rank_lo
      JOIN ranked hi ON hi.rn = s.rank_lo + CASE WHEN s.rem > 0 THEN 1 ELSE 0 END)
    SELECT CAST(q_num AS INT) AS q_num, CAST(q_den AS INT) AS q_den,
           CAST(rank_lo AS BIGINT) AS rank_lo, CAST(rem AS BIGINT) AS rem,
           CAST(v_lo AS BIGINT) AS v_lo, CAST(v_hi AS BIGINT) AS v_hi,
           (v_lo * (q_den - rem) + v_hi * rem) / q_den AS value_cont
    FROM j
    """,
    survey_ref="exact interpolated percentiles (operators/sketches."
    "percentiles_cont — the SQL-standard percentile_cont convention "
    "p = q*(n-1) with linear interpolation, completing quantiles_exact's "
    "'disc' face): rational q gives exact integer bracketing ranks and "
    "interpolation weights, value as ONE integer-to-double division "
    "(IEEE-identical both engines); same two-pass histogram->refine core, "
    "no full sort",
)
def sketch_percentiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import percentiles_cont
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return percentiles_cont(
        docs.select(F.col("n_chars").alias("v")), "v",
        [(1, 4), (1, 2), (3, 4), (9, 10)],
    )


@register(
    "o10_scd2_history",
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
      FROM v)
    SELECT user_id, event_type, valid_from, valid_to, version,
           (valid_to IS NULL) AS is_current
    FROM iv
    """,
    survey_ref="SCD2 (slowly-changing-dimension type 2) history build — "
    "the warehouse temporal-dimension primitive: per-user event_type "
    "change stream collapsed to consecutive-duplicate-free versions with "
    "[valid_from, valid_to) validity intervals, open-ended current row, "
    "monotone version numbers; ONE user_id exchange shared by the "
    "change-detect lag, interval lead, and version row_number (the S10 "
    "upsert sink's batch-side complement)",
)
def o10_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = W.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_ns").alias("valid_from"),
        F.lead("ts_ns").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("int").alias("version"),
        F.lead("ts_ns").over(w2).isNull().alias("is_current"),
    )


@register(
    "corpus_tv_drift",
    # per-lang drift between the even- and odd-doc_id corpus halves: the
    # numerator is an exact integer (|a*N_b - b*N_a| summed), tv is ONE
    # float division of it
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS tok
      FROM documents),
    a AS (SELECT lang AS k, tok, CAST(COUNT(*) AS BIGINT) AS a
          FROM tok WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    b AS (SELECT lang AS k, tok, CAST(COUNT(*) AS BIGINT) AS b
          FROM tok WHERE doc_id % 2 = 1 GROUP BY 1, 2),
    j AS (
      SELECT COALESCE(a.k, b.k) AS k, COALESCE(a.tok, b.tok) AS tok,
             COALESCE(a.a, 0) AS a, COALESCE(b.b, 0) AS b
      FROM a FULL OUTER JOIN b ON a.k = b.k AND a.tok = b.tok),
    tot AS (
      SELECT k, CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b
      FROM j GROUP BY k),
    s AS (
      SELECT j.k, tot.n_a, tot.n_b,
             SUM(ABS(a::HUGEINT * tot.n_b - b::HUGEINT * tot.n_a)) AS tv_num
      FROM j JOIN tot USING (k) GROUP BY 1, 2, 3)
    SELECT k, n_a, n_b, CAST(tv_num AS BIGINT) AS tv_num,
           CAST(tv_num AS DOUBLE) / (2.0 * n_a * n_b) AS tv
    FROM s WHERE n_a > 0 AND n_b > 0
    """,
    survey_ref="corpus distribution drift as total-variation distance "
    "(operators/drift.py): per-lang token-distribution TV between the "
    "even/odd corpus halves — the monitoring primitive for crawl/mixture "
    "drift, chosen over KL/PSI/G because TV's numerator is an exact "
    "integer (sum |a*N_b - b*N_a|) both engines hash-match, with the "
    "distance itself ONE float division; one count join, empty sides "
    "dropped loudly",
)
def corpus_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import token_counts, tv_drift
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = token_counts(docs.filter(F.col("doc_id") % 2 == 0), "text", ["lang"])
    b = token_counts(docs.filter(F.col("doc_id") % 2 == 1), "text", ["lang"])
    out = tv_drift(a, b, ["lang"])
    return out.select(
        F.col("lang").alias("k"), "n_a", "n_b",
        F.col("tv_num").cast("long").alias("tv_num"), "tv",
    )


@register(
    "g8_triangle_count",
    # deterministic graph synthesized from doc_id on BOTH engines: a path
    # with +1/+2 chords (one triangle per interior vertex) plus hub edges
    # (d -> d%23 and d -> d%23+1) that put every vertex in a triangle
    # with a consecutive hub pair — so the triangle distribution is
    # HEAVILY skewed at the 23 hubs, which is exactly the regime the
    # degree orientation exists for; the path (no wrap-around) keeps the
    # fixture free of any corpus-count dim — zero scalar joins
    oracle="""
    WITH e0 AS (
      SELECT doc_id AS s, doc_id + 1 AS t FROM documents
      UNION ALL
      SELECT doc_id, doc_id + 2 FROM documents
      UNION ALL
      SELECT doc_id, doc_id % 23 FROM documents
      UNION ALL
      SELECT doc_id, doc_id % 23 + 1 FROM documents
    ),
    e AS (SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v
          FROM e0 WHERE s != t),
    tri AS (
      SELECT a.u AS x, a.v AS y, b.v AS z
      FROM e a
      JOIN e b ON b.u = a.v
      JOIN e c ON c.u = a.u AND c.v = b.v),
    nd AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nd GROUP BY node
    """,
    survey_ref="distributed triangle counting (operators/triangles.py, "
    "Schank-Wagner forward / Suri-Vassilvitskii MapReduce formulation): "
    "per-vertex triangle participation via degree-ordered wedge closing "
    "— each edge oriented low-(deg,id) -> high, wedges generated at the "
    "apex (out-degree bounded by sqrt(2m) so a celebrity hub generates "
    "ZERO wedges instead of deg^2), closed by one (b,c) equi-join; the "
    "fixture's 23 hubs carry ~N/23 triangles each, pinning exactly the "
    "skew the orientation dismantles; oracle is the id-ordered 3-way "
    "self-join",
)
def g8_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.triangles import triangle_counts
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    e0 = (
        docs.select(d.alias("s"), (d + 1).alias("t"))
        .unionAll(docs.select(d.alias("s"), (d + 2).alias("t")))
        .unionAll(docs.select(d.alias("s"), (d % 23).alias("t")))
        .unionAll(docs.select(d.alias("s"), (d % 23 + 1).alias("t")))
    )
    return triangle_counts(e0, "s", "t")


@register(
    "txt_pmi_cooccur",
    # directed skip-gram pairs at window 3; lift9 = the integer-scaled
    # PMI exponent floor(1e9 * n_xy * T / (n_x * n_y)) — ln is monotone
    # so PMI orderings are preserved and both engines truncate the same
    # DECIMAL/HUGEINT division identically
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      FROM documents),
    pr AS (
      SELECT t[i] AS w1, t[i + j] AS w2
      FROM tok,
           LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) ii,
           (SELECT unnest([1, 2, 3]) AS j) jj
      WHERE i + j <= len(t)),
    c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy FROM pr GROUP BY 1, 2),
    m AS (
      SELECT w1, w2, n_xy,
             SUM(n_xy) OVER (PARTITION BY w1) AS n_x,
             SUM(n_xy) OVER (PARTITION BY w2) AS n_y,
             SUM(n_xy) OVER () AS t_pairs
      FROM c)
    SELECT w1, w2, n_xy, CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
           CAST((n_xy::HUGEINT * t_pairs * 1000000000)
                // (n_x::HUGEINT * n_y) AS BIGINT) AS lift9
    FROM m WHERE n_xy >= 2
    """,
    survey_ref="skip-gram co-occurrence + PMI association "
    "(operators/cooccur.py): the (center, context) pair statistics "
    "word2vec/GloVe training data and collocation mining consume — pair "
    "generation is NOT a join (each doc zips its own token array against "
    "j-shifted slices of itself, so the only shuffle is the (w1,w2) hash "
    "agg; the naive position self-join shuffles the token stream twice "
    "and detonates on long docs); marginals as windows over the "
    "aggregated pair relation, corpus total as a 1-row broadcast dim, "
    "lift9 in the tfidf/bm25 exact-integer score convention",
)
def txt_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cooccur import pmi_cooccur
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return pmi_cooccur(docs, "text", window=3, min_count=2)


@register(
    "dedup_snm_pairs",
    # lang-blocked sorted neighborhood: sort by (n_chars, 16-char
    # normalized prefix, doc_id), compare each record to its 3 sort
    # successors; dist is exact Levenshtein (ASCII corpus — the
    # fuzzy.py engine-parity envelope)
    oracle="""
    WITH s AS (
      SELECT doc_id, text, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY n_chars, substr(lower(text), 1, 16), doc_id) AS rn
      FROM documents),
    p AS (
      SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(b.rn - a.rn AS BIGINT) AS gap,
             CAST(levenshtein(a.text, b.text) AS INT) AS dist
      FROM s a JOIN s b
        ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + 3)
    SELECT lang, id_a, id_b, gap, dist FROM p
    """,
    survey_ref="sorted-neighborhood candidate generation (operators/"
    "snm.py, Hernandez-Stolfo 1995) — the third dedup candidate family "
    "beside hash blocking and LSH: ONE partitioned window over ONE "
    "exchange carries each record's 3 sort-successors out via lead() "
    "structs (no self-join, no O(n^2) block; text rides the sort instead "
    "of being re-joined by id), Levenshtein verify runs in the same task "
    "once per candidate; the oracle self-joins on rank distance — the "
    "formulation the operator exists to avoid",
)
def dedup_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.snm import sorted_neighborhood_pairs
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs,
        "doc_id",
        "text",
        ["lang"],
        [F.col("n_chars"), F.substring(F.lower(F.col("text")), 1, 16)],
        window=3,
    )


# ---------------------------------------------------------------------------
# round-8 fourth wave
# ---------------------------------------------------------------------------


@register(
    "ev_markov_transitions",
    oracle=f"""
    WITH {EV_CTE},
    st AS (
      SELECT lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_ns, event_id) AS from_state,
             event_type AS to_state
      FROM ev),
    c AS (
      SELECT from_state, to_state, COUNT(*) AS n
      FROM st WHERE from_state IS NOT NULL GROUP BY 1, 2),
    t AS (
      SELECT c.*, CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS n_from
      FROM c)
    SELECT from_state, to_state, n, n_from,
           CAST((1000000000 * n) // n_from AS BIGINT) AS prob9
    FROM t
    """,
    survey_ref="first-order Markov transition matrix (operators/markov.py) "
    "over per-user ordered event sequences — the corpus-level 'what "
    "follows what' of the reference's intra-block ordering analyses "
    "(sandwich front->victim->back, inspectors/sandwich.rs); ONE key "
    "shuffle for the lag (no self-join on consecutive ranks), transition "
    "hash-agg output bounded by |states|^2, prob9 normalization window "
    "over that bounded relation only; scaled-integer exact probabilities",
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.markov import transition_stats
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return transition_stats(ev, "user_id", ["ts_ns", "event_id"], "event_type")


@register(
    "x18_twap",
    oracle=f"""
    WITH {EV_CTE},
    s AS (
      SELECT user_id, event_id, ts_ns,
             (ts_ns - (ts_ns % 1000000 + 1000000) % 1000000) // 1000000 AS ms,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM ev),
    d AS (
      SELECT user_id, cents,
             COALESCE(lead(ms) OVER (
               PARTITION BY user_id ORDER BY ts_ns, event_id) - ms, 0) AS dur_ms
      FROM s),
    a AS (
      SELECT user_id AS key, COUNT(*) AS n_obs,
             CAST(SUM(dur_ms) AS BIGINT) AS span_ms,
             CAST(SUM(cents * dur_ms) AS BIGINT) AS num
      FROM d GROUP BY 1)
    SELECT key, n_obs, span_ms,
           CASE WHEN span_ms > 0 THEN
             (num // span_ms) * 10000000
             + ((num - (num // span_ms) * span_ms) * 10000000) // span_ms
           END AS twap9
    FROM a
    """,
    survey_ref="time-weighted average price (operators/twap.py) — the "
    "duration-weighted sibling of X4/X6's volume-weighted family, the "
    "benchmark for quote snapshots (db/cex_utils.rs bid/ask tables); "
    "piecewise-constant hold-until-next semantics, exact cents x "
    "millisecond integer arithmetic, twap9 = floor(1e9*dollars) via the "
    "overflow-safe two-step division; ONE key shuffle (lead window) + one "
    "map-side-combined aggregate",
)
def x18_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.twap import twap
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return twap(ev, "user_id", "ts_ns", "value", "event_id")


@register(
    "sample_stratified_n",
    oracle="""
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(
                 'strat|' || lang || ':' || CAST(doc_id AS VARCHAR)
               ), 1, 15))::BIGINT, doc_id) AS rk
      FROM documents)
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 3
    """,
    survey_ref="stratified exact-n sampling (operators/sampling.py "
    "stratified_sample_exact_n) — the data-mixing draw: min(n, |stratum|) "
    "rows per language, rank = md5(salt, stratum, id) so the sample is a "
    "pure function of identity (re-partitioning or growing OTHER strata "
    "never changes a stratum's draw); rank<=n compiles to WindowGroupLimit "
    "so each task ships at most n rows per stratum into the exchange",
)
def sample_stratified_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample_exact_n
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_exact_n(docs, "lang", "doc_id", 3).select(
        "lang", "doc_id", "rk"
    )


@register(
    "o11_skyline",
    # quadratic NOT-EXISTS dominance — the formulation the operator's
    # sweep exists to avoid (|distinct points|^2 pair checks)
    # axes chosen to DECORRELATE (count vs min single-order price — the
    # "many orders, none cheap" premium screen): total spend correlates
    # with order count so strongly that its frontier collapses to 1-2
    # points and the sweep has nothing to prune
    oracle="""
    WITH c AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS floor_c
      FROM orders GROUP BY 1),
    p AS (SELECT n_orders, floor_c, COUNT(*) AS n_cust FROM c GROUP BY 1, 2)
    SELECT CAST(a.n_orders AS BIGINT) AS n_orders, a.floor_c,
           CAST(a.n_cust AS BIGINT) AS n_cust
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.n_orders >= a.n_orders AND b.floor_c >= a.floor_c
        AND (b.n_orders > a.n_orders OR b.floor_c > a.floor_c))
    """,
    survey_ref="2-D skyline / Pareto frontier (operators/skyline.py) — "
    "multi-criteria pruning (the reference's inspectors rank bundles on "
    "several PnL axes at once, brontes-inspect composer ordering): "
    "distinct-point collapse + per-x champion (two hash aggregates) + ONE "
    "descending sweep window whose input is |distinct x|, with the "
    "partition-local pre-prune (dominance transitivity) as the "
    "high-cardinality path — prune_local=True here to keep the scale "
    "shape under test; exact integer cents",
)
def o11_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline_max2
    from ..sources.testdata import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.min(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("floor_c"),
    )
    return (
        skyline_max2(cust, "n_orders", "floor_c", prune_local=True)
        .select(
            F.col("x").alias("n_orders"),
            F.col("y").alias("floor_c"),
            F.col("n_pts").alias("n_cust"),
        )
    )


@register(
    "corpus_temperature_mix",
    oracle="""
    WITH c AS (SELECT source AS domain, COUNT(*) AS n FROM documents GROUP BY 1),
    s AS (
      SELECT domain, n,
             CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS s
      FROM c),
    t AS (SELECT CAST(SUM(s) AS BIGINT) AS s_total FROM s)
    SELECT domain, n, s,
           CAST((1000000000 * s) // s_total AS BIGINT) AS weight9
    FROM s, t
    """,
    survey_ref="temperature-2 corpus mixing weights (operators/mixing.py) "
    "— domain resampling p_i ∝ sqrt(n_i), the GPT-3/XLM-R rare-domain "
    "up-weighting; engine-exact because IEEE 754 REQUIRES sqrt correctly "
    "rounded (floor∘sqrt is the contract, identical in both engines even "
    "in the near-perfect-square twilight), then pure-bigint weight9; one "
    "map-side-combined aggregate to |domains| rows, 1-row scalar total "
    "dim joined on a literal (the bm25 constant-folded broadcast); "
    "general-T float path exists but is pytest-only by policy",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mixing import temperature_weights_sqrt
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return temperature_weights_sqrt(docs, "source")


def _kcore_oracle(k: int, rounds: int) -> str:
    edges = """
      SELECT DISTINCT LEAST(s, t) AS s, GREATEST(s, t) AS t FROM (
        SELECT doc_id AS s, doc_id // 2 AS t FROM documents
        UNION ALL
        SELECT doc_id AS s, doc_id // 3 AS t FROM documents
      ) raw WHERE s != t"""
    ctes = [f"e0 AS ({edges})"]
    for r in range(rounds + 1):
        ctes.append(
            f"d{r} AS (SELECT node, COUNT(*) AS deg FROM ("
            f"SELECT s AS node FROM e{r} UNION ALL SELECT t FROM e{r}"
            f") u GROUP BY node)"
        )
        if r == rounds:
            break
        ctes.append(f"k{r} AS (SELECT node FROM d{r} WHERE deg >= {k})")
        ctes.append(
            f"e{r + 1} AS (SELECT s, t FROM e{r} "
            f"WHERE s IN (SELECT node FROM k{r}) "
            f"AND t IN (SELECT node FROM k{r}))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, CAST(deg AS BIGINT) AS deg FROM d{rounds}"
    )


@register(
    "g9_kcore",
    oracle=None,  # set below: generated unrolled-peel twin
    survey_ref="k-core decomposition by fixed-round peeling "
    "(operators/kcore.py) — the density screen of iterative graph "
    "analytics (G3's 'prune the periphery first' generalized): each round "
    "is one degree aggregate + two semi-joins, lineage cut per round "
    "(each round reads the previous edge set TWICE, so the localCheckpoint "
    "prevents quadratic re-execution, not just plan bloat); the division "
    "tree (d->d//2, d->d//3) cascades a genuine multi-round peel (996 -> "
    "494 -> 244 -> 120 -> 58 edges at sf0.01, k=3); DuckDB twin replays "
    "the SAME 4 rounds as generated unrolled CTEs — the g7_pagerank "
    "pattern for fixpoint-free exact parity",
)
def g9_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kcore import peel_rounds
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    edges = docs.select(d.alias("s"), (d / 2).cast("long").alias("t")).unionAll(
        docs.select(d.alias("s"), (d / 3).cast("long").alias("t"))
    )
    return peel_rounds(edges, k=3, rounds=4)


REGISTRY["g9_kcore"] = QuerySpec(
    name="g9_kcore",
    build=REGISTRY["g9_kcore"].build,
    oracle=_kcore_oracle(k=3, rounds=4),
    survey_ref=REGISTRY["g9_kcore"].survey_ref,
)


@register(
    "txt_bpe_pair_stats",
    # the first BPE training iteration's pair table: adjacent-character
    # counts weighted by word frequency, total-ordered top 40
    oracle="""
    WITH wx AS (
      SELECT x FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS x FROM documents) u
      WHERE regexp_matches(x, '^[a-z]+$')),
    wd AS (SELECT x AS word, COUNT(*) AS n FROM wx GROUP BY 1),
    pr AS (
      SELECT substr(word, CAST(i AS INT), 1) AS a,
             substr(word, CAST(i AS INT) + 1, 1) AS b, n
      FROM wd, LATERAL (SELECT unnest(range(1, length(word))) AS i) ii),
    ag AS (SELECT a, b, CAST(SUM(n) AS BIGINT) AS pair_n FROM pr GROUP BY 1, 2)
    SELECT a, b, pair_n FROM ag ORDER BY pair_n DESC, a, b LIMIT 40
    """,
    survey_ref="BPE tokenizer training, stats step (operators/bpe.py) — "
    "Sennrich et al. 2016: the pair-count relation the merge argmax reads; "
    "the scale contract is ONE corpus scan into the (word, n) vocabulary, "
    "after which every merge round runs on the VOCAB relation (bounded by "
    "distinct words, not corpus tokens) — bpe_train's loop + regex merge "
    "semantics (left-to-right greedy, whole-symbol lookaround anchors) are "
    "pinned against an independent list-walk Python reference in "
    "tests/test_bpe.py; ascii_only keeps per-char arithmetic "
    "codepoint-agnostic across engines (the fuzzy.py lesson)",
)
def txt_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import initial_symbols, pair_stats, word_vocabulary
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = initial_symbols(word_vocabulary(docs, "text"), end_marker=False)
    return (
        pair_stats(vocab)
        .orderBy(F.col("pair_n").desc(), F.col("a"), F.col("b"))
        .limit(40)
    )


@register(
    "x19_ols_trend",
    # the DuckDB twin runs the SAME exact-integer closed form in HUGEINT
    # (int128) where Spark uses decimal(38,0). BOTH engines' integer
    # division truncates toward zero (duckdb's `//` floors only for
    # DOUBLEs — measured: -7 // 2 = -3), so BOTH sides carry the same
    # explicit floor adjustment for negative numerators
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
      SELECT user_id, COUNT(*) AS n, MAX(t) AS t_span,
             CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(t * y) AS HUGEINT) AS sty,
             CAST(SUM(t * t) AS HUGEINT) AS stt
      FROM r GROUP BY 1),
    f AS (
      SELECT user_id, n, t_span,
             n * sty - st * sy AS num, n * stt - st * st AS den, sy, st
      FROM a)
    SELECT user_id AS key, CAST(n AS BIGINT) AS n,
           CAST(t_span AS BIGINT) AS t_span,
           CAST(CASE WHEN den = 0 THEN NULL
                WHEN num >= 0 THEN (num * 1000000000) // den
                ELSE ((num * 1000000000) - (den - 1)) // den
                END AS BIGINT) AS slope9,
           CAST(CASE WHEN den = 0 THEN NULL
                WHEN sy * den * 1000000000 - num * 1000000000 * st >= 0
                THEN (sy * den * 1000000000 - num * 1000000000 * st)
                     // (n * den)
                ELSE ((sy * den * 1000000000 - num * 1000000000 * st)
                      - (n * den - 1)) // (n * den)
                END AS BIGINT) AS intercept9
    FROM f
    """,
    survey_ref="group-wise exact-integer OLS trend (operators/ols.py) — "
    "per-user least-squares value-vs-time slope, the ordered-data sibling "
    "of I14's mean+2σ screen: per-key t re-basing (window and aggregate "
    "share ONE key exchange), bigint sums, cross-products lifted to "
    "decimal(38,0) vs the twin's HUGEINT, floor-adjusted `div` vs native "
    "`//` for negative numerators; slope9/intercept9 = floor(1e9·b), "
    "floor(1e9·a) — engine-exact, no doubles anywhere",
)
def x19_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ols import ols_trend
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return ols_trend(
        ev.select("user_id", "ts_ns", cents.alias("cents")),
        "user_id",
        "ts_ns",
        "cents",
        t_unit=1_000_000_000,
    ).select(
        F.col("user_id").alias("key"), "n", "t_span", "slope9", "intercept9"
    )


@register(
    "ev_attribution_linear",
    # the oracle is the inequality self-join the operator's bucket-banded
    # composition exists to avoid at scale
    oracle=f"""
    WITH {EV_CTE},
    c AS (SELECT user_id, event_id AS conv_id, ts_ns AS conv_ts
          FROM ev WHERE event_type = 'purchase'),
    t AS (SELECT user_id, event_id AS touch_id, ts_ns AS touch_ts
          FROM ev WHERE event_type = 'view'),
    p AS (
      SELECT c.user_id AS key, conv_id, touch_id,
             conv_ts - touch_ts AS gap_ns, touch_ts
      FROM c JOIN t ON c.user_id = t.user_id
        AND t.touch_ts <= c.conv_ts
        AND t.touch_ts >= c.conv_ts - 259200000000000),
    w AS (
      SELECT key, conv_id, touch_id, gap_ns, touch_ts,
             COUNT(*) OVER (PARTITION BY conv_id) AS n_touch,
             MIN(touch_ts) OVER (PARTITION BY conv_id) AS f_ts,
             MAX(touch_ts) OVER (PARTITION BY conv_id) AS l_ts
      FROM p)
    SELECT key, conv_id, touch_id, gap_ns, CAST(n_touch AS BIGINT) AS n_touch,
           CAST(1000000000 // n_touch AS BIGINT) AS credit9,
           touch_ts = f_ts AS is_first, touch_ts = l_ts AS is_last
    FROM w
    """,
    survey_ref="multi-touch linear attribution (operators/attribution.py) "
    "— view->purchase credit split over a 72h lookback: pair generation "
    "COMPOSES the bucket-banded interval join (x16's equi-join scale "
    "shape — never the oracle's inequality self-join), credit "
    "normalization + first/last-touch flags share ONE conv-keyed window "
    "exchange; credit9 = floor(1e9/n_touch) exact; last-touch alone "
    "reduces to X1's as-of join, making this its many-to-many elder",
)
def ev_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.attribution import linear_attribution
    from ..sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return linear_attribution(
        ev,
        "user_id",
        "ts_ns",
        "event_id",
        "event_type",
        touch_type="view",
        conv_type="purchase",
        horizon_ns=259_200_000_000_000,  # 72h
    )


