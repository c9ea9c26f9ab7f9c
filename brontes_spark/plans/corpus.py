"""LLM-corpus gates, batch 2: substring-level exact dedup (flag / stats /
trim), Bloom decontamination, count-min / KMV / heavy-hitter / quantile /
histogram sketches, weighted sampling, bigram-LM coverage, URL
normalization + per-domain caps, edit-distance fuzzy dedup, Unicode NFC,
and tf-idf top-k. Each gate registers a Spark plan builder plus a DuckDB
oracle twin; the operator implementations live in operators/ and
functions/ — this module only binds them to testdata inputs with
engine-portable (integer / md5-deterministic) fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import decontaminate_bloom
from ..operators.spans import duplicate_spans, span_dedup_stats
from ..sources.testdata import load_table
from .registry import register

_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), x -> x != '')"

#: gram length for the span-dedup gates: long enough that a hit means a
#: planted verbatim passage (the testdata generator repeats multi-sentence
#: blocks across docs — 1015 duplicated 8-grams at sf0.01), short enough
#: that the oracle's brute recomputation stays cheap.
_SPAN_K = 8

#: shared oracle body: merged keep-first duplicate-span intervals. The
#: canonical occurrence is min(doc_id, pos) lexicographic; the oracle packs
#: it into doc_id * 2^20 + pos (positions are < 2^20 at every testdata sf;
#: the Spark side uses a struct min, identical for non-negative doc_id).
_SQL_SPANS = f"""
    tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    occ AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS i, toks
      FROM tok WHERE len(toks) >= {_SPAN_K}),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')), 1, 15))::BIGINT AS gh
      FROM occ),
    dup AS (
      SELECT gh, MIN(doc_id * 1048576 + pos) AS canon
      FROM g GROUP BY gh HAVING COUNT(*) > 1),
    fl AS (
      SELECT g.doc_id, g.pos AS s, g.pos + {_SPAN_K} AS e
      FROM g JOIN dup USING (gh)
      WHERE g.doc_id * 1048576 + g.pos <> dup.canon),
    pe AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM fl),
    grps AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp
      FROM pe),
    spans AS (
      SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
      FROM grps GROUP BY doc_id, grp)
"""

@register(
    "dedup_span_exact",
    oracle=f"""
    WITH {_SQL_SPANS}
    SELECT doc_id, span_start, span_end FROM spans
    """,
    survey_ref="substring-level exact dedup (duplicate-span removal), the "
    "relational form of Lee et al. 2022's ExactSubstr: every k-token window "
    "repeated anywhere in the corpus is flagged at all but its first "
    "occurrence, overlapping/touching windows merged to maximal per-doc "
    "removal intervals; inverted 60-bit gram index = one map-side-combined "
    "groupBy, interval merge shuffles only flagged windows",
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text", k=_SPAN_K).withColumnRenamed(
        "id", "doc_id"
    )

@register(
    "dedup_span_stats",
    oracle=f"""
    WITH {_SQL_SPANS},
    per_doc AS (
      -- SUM(BIGINT) is HUGEINT in DuckDB; cast back so the driver's
      -- dtype-sensitive value hash sees int64 (oracle.py policy)
      SELECT doc_id, CAST(SUM(span_end - span_start) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           COALESCE(p.dup_tokens, 0) / GREATEST(len(t.toks), 1) AS dup_frac
    FROM tok t LEFT JOIN per_doc p USING (doc_id)
    """,
    survey_ref="per-document duplicated-token accounting over the merged "
    "span intervals (the keep/trim/drop decision input of substring-level "
    "dedup pipelines)",
)
def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_stats(docs, "doc_id", "text", k=_SPAN_K).withColumnRenamed(
        "id", "doc_id"
    )

#: word-3-gram shingles, the txt_decontaminate convention (llm_data.py)
_SQL_SHINGLES3 = f"""
    tok3 AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    idx3 AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
      FROM tok3 WHERE len(toks) >= 3),
    sh3 AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS shingle_h
      FROM idx3)
"""

@register(
    "txt_decontaminate_bloom",
    # the oracle states the FUNCTIONAL spec — exact n-gram overlap, same as
    # txt_decontaminate's (different eval split, % 89): the Bloom prefilter
    # plus exact-verify join must be indistinguishable from the exact
    # semi-join (zero false negatives by construction, false positives
    # removed by the verify join)
    oracle=f"""
    WITH {_SQL_SHINGLES3},
    ev AS (SELECT doc_id AS eval_id, shingle_h FROM sh3 WHERE doc_id % 89 = 0),
    cs AS (SELECT doc_id, shingle_h FROM sh3 WHERE doc_id % 89 != 0)
    SELECT cs.doc_id AS id,
           COUNT(DISTINCT cs.shingle_h) AS n_hits,
           COUNT(DISTINCT ev.eval_id) AS n_eval_docs
    FROM cs JOIN ev USING (shingle_h)
    GROUP BY cs.doc_id
    HAVING COUNT(DISTINCT cs.shingle_h) >= 1
    """,
    survey_ref="benchmark decontamination behind a deterministic Bloom "
    "bitmap prefilter (operators/bloom.py): the 100 TB path when the "
    "eval/blocklist shingle set outgrows a broadcast hash relation — "
    "bitmap ships to executors, corpus never shuffles before the "
    "candidate-only verify join; result exactly equals the exact overlap",
)
def txt_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 89 == 0)
    corpus = docs.filter(F.col("doc_id") % 89 != 0)
    return decontaminate_bloom(
        corpus, eval_docs, "doc_id", "text", n=3, min_hits=1, m_bits=1 << 16
    )

@register(
    "sketch_countmin",
    oracle="""
    WITH tok AS (SELECT list_filter(string_split(lower(text), ' '), x -> x != '') AS toks FROM documents),
    occ AS (SELECT unnest(toks) AS v FROM tok),
    pos AS (
      SELECT r, v, ('0x' || substr(md5(r || '|' || v), 1, 15))::BIGINT % 64 AS c
      FROM occ, range(4) t(r)),
    cnt AS (SELECT r, c, COUNT(*) AS cnt FROM pos GROUP BY r, c),
    items AS (SELECT DISTINCT v FROM occ),
    probe AS (
      SELECT i.v, r, ('0x' || substr(md5(r || '|' || i.v), 1, 15))::BIGINT % 64 AS c
      FROM items i, range(4) t(r)),
    est AS (
      SELECT p.v, MIN(COALESCE(cnt.cnt, 0)) AS est
      FROM probe p LEFT JOIN cnt ON p.r = cnt.r AND p.c = cnt.c
      GROUP BY p.v),
    exact AS (SELECT v, COUNT(*) AS exact_count FROM occ GROUP BY v)
    SELECT est.v AS token, CAST(est.est AS BIGINT) AS est_count,
           CAST(exact.exact_count AS BIGINT) AS exact_count
    FROM est JOIN exact ON est.v = exact.v
    """,
    survey_ref="count-min frequency sketch (operators/sketches.countmin_*, "
    "Cormode & Muthukrishnan 2005), deterministic md5 rows so the full "
    "matrix is oracle-recomputable; width 64 << vocabulary forces real "
    "collisions and the oracle pins est >= exact semantics cell-exactly; "
    "bounded depth*width shuffle per task regardless of corpus size",
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.sketches import countmin_estimate, countmin_sketch

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(ws_tokens(F.col("text"))).alias("v"))
    sk = countmin_sketch(occ, "v", width=64, depth=4)
    est = countmin_estimate(occ.distinct(), sk, "v", width=64, depth=4)
    exact = occ.groupBy("v").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "v").select(
        F.col("v").alias("token"),
        F.col("est").alias("est_count"),
        F.col("exact_count"),
    )

@register(
    "sketch_kmv_jaccard",
    oracle="""
    WITH tokd AS (
      SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents),
    av AS (
      SELECT DISTINCT lang AS key, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv
      FROM (SELECT lang, unnest(toks) AS v FROM tokd WHERE doc_id % 2 = 0)),
    bv AS (
      SELECT DISTINCT lang AS key, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv
      FROM (SELECT lang, unnest(toks) AS v FROM tokd WHERE doc_id % 2 = 1)),
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
      SELECT key, COUNT(*) AS n_union_seen,
             MAX(CASE WHEN pos = 128 THEN hv END) AS kth,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM topk GROUP BY key),
    est AS (
      SELECT key, CAST(n_union_seen AS BIGINT) AS n_union_seen, n_both,
             CAST(CASE WHEN n_union_seen < 128 THEN n_union_seen
                  ELSE (127::HUGEINT * 1152921504606846976::HUGEINT)
                       // nullif(kth, 0)
                  END AS BIGINT) AS est_union
      FROM agg)
    SELECT key, n_union_seen, est_union, n_both,
           n_both / n_union_seen AS jaccard_est,
           CAST((n_both::HUGEINT * est_union::HUGEINT) // n_union_seen AS BIGINT) AS est_intersect
    FROM est
    """,
    survey_ref="KMV set-relation estimates (operators/sketches."
    "kmv_set_relations, Beyer et al. 2007): per-language vocabulary "
    "Jaccard/intersection between the even- and odd-doc_id corpus halves "
    "from two k=128 sketches alone — compare-two-100TB-corpora-from-"
    "kilobyte-summaries; exact below k (the en split exceeds k, exercising "
    "the estimator; small langs hit the exact regime)",
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.sketches import kmv_set_relations, kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.col("lang").alias("key"), F.explode(ws_tokens(F.col("text"))).alias("v")
    )
    a = toks.filter(F.col("doc_id") % 2 == 0)
    b = toks.filter(F.col("doc_id") % 2 == 1)
    return kmv_set_relations(
        kmv_sketch(a, "key", "v", k=128), kmv_sketch(b, "key", "v", k=128), k=128
    )

@register(
    "sample_weighted",
    oracle="""
    WITH w AS (
      SELECT doc_id, (n_chars + 15) // 16 AS wt FROM documents),
    reps AS (
      SELECT doc_id, unnest(range(1, wt + 1)) AS rep FROM w WHERE wt >= 1),
    keys AS (
      SELECT doc_id AS id,
             MAX(('0x' || substr(md5('ws|' || doc_id || ':' || rep), 1, 15))::BIGINT) AS key
      FROM reps GROUP BY doc_id)
    SELECT id, key FROM keys ORDER BY key DESC, id LIMIT 50
    """,
    survey_ref="deterministic weighted sampling without replacement "
    "(operators/sampling.py, Efraimidis-Spirakis A-ES): ranking by the max "
    "of w uniform 60-bit draws is distributionally identical to u^(1/w) "
    "but integer-exact and engine-portable; 50 docs weighted by "
    "ceil(n_chars/16), map-side max fold then TakeOrdered (no global sort)",
)
def sample_weighted_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_weighted

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("w")
    )
    return sample_weighted(docs, "doc_id", "w", m=50, salt="ws", weight_scale=16)

@register(
    "txt_bigram_coverage",
    oracle="""
    WITH base AS (
      SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2),
    bg AS (
      SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
      FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM base)),
    sampled AS (
      SELECT bg.bg FROM bg
      WHERE ('0x' || substr(md5('bgs|' || bg.doc_id), 1, 15))::BIGINT < 230584300921369408
    ),
    model AS (
      SELECT bg FROM (
        SELECT bg, COUNT(*) AS n FROM sampled GROUP BY bg
        ORDER BY n DESC, bg LIMIT 200)),
    scored AS (
      SELECT b.doc_id, CASE WHEN m.bg IS NOT NULL THEN 1 ELSE 0 END AS in_m
      FROM bg b LEFT JOIN model m USING (bg))
    SELECT doc_id AS id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(in_m) AS BIGINT) AS covered,
           CAST(SUM(in_m) AS BIGINT) / COUNT(*) AS coverage
    FROM scored GROUP BY doc_id
    """,
    survey_ref="character-bigram model coverage (operators/ngram_lm.py): "
    "the integer-exact counting core of CCNet-style LM perplexity quality "
    "filtering — top-200 bigram table trained on a deterministic 20% md5 "
    "document sample, every doc scored by covered-occurrence fraction; "
    "M-row broadcast table, corpus shuffled once on doc id",
)
def txt_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ngram_lm import char_bigram_coverage

    docs = load_table(spark, sf_dir, "documents")
    return char_bigram_coverage(
        docs, "doc_id", "text", top_m=200, sample_rate=0.2, salt="bgs"
    )

_URL_SQL = """
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'HTTP://' || source || '.Example.COM:80/' || lang || '/' || doc_id || '/'
      WHEN 1 THEN 'https://sub.' || source || '.co.uk:443/p' || doc_id || '#sec'
      WHEN 2 THEN 'https://' || source || '.example.com?q=' || doc_id
      ELSE 'https://User@' || source || '.example.com/a/' || doc_id || '/b/'
    END
"""

def _url_col() -> F.Column:
    d = F.col("doc_id").cast("string")
    return (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTP://"), F.col("source"), F.lit(".Example.COM:80/"),
                     F.col("lang"), F.lit("/"), d, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://sub."), F.col("source"), F.lit(".co.uk:443/p"),
                     d, F.lit("#sec")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com?q="), d),
        )
        .otherwise(
            F.concat(F.lit("https://User@"), F.col("source"), F.lit(".example.com/a/"),
                     d, F.lit("/b/")),
        )
    )

@register(
    "txt_url_normalize",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS c FROM u),
    s2 AS (SELECT doc_id, url, lower(regexp_extract(c, '^([^/]*//[^/?]*)', 1))
                     || regexp_replace(c, '^[^/]*//[^/?]*', '') AS c FROM s1),
    s3 AS (SELECT doc_id, url, regexp_replace(c, '^(https://[^/:?]*):443($|[/?].*)', '\\1\\2') AS c FROM s2),
    s4 AS (SELECT doc_id, url, regexp_replace(c, '^(http://[^/:?]*):80($|[/?].*)', '\\1\\2') AS c FROM s3),
    s5 AS (SELECT doc_id, url, regexp_replace(c, '^([a-z+.-]+://[^/?]+(/[^?]*[^/?]))/+(\\?.*)?$', '\\1\\3') AS c FROM s4),
    s6 AS (SELECT doc_id, url, regexp_replace(c, '^([a-z+.-]+://[^/?]+)(\\?.*)?$', '\\1/\\2') AS c FROM s5),
    h AS (SELECT doc_id, c AS url_norm,
                 lower(regexp_extract(url, '^[^/]*//(?:[^/@?]*@)?([^/:?#]+)', 1)) AS host
          FROM s6)
    SELECT doc_id, url_norm, host,
           CASE WHEN regexp_matches(host, '^[0-9.]+$') THEN host
                WHEN regexp_extract(host, '([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\.[a-z][a-z])$', 1) != ''
                  THEN regexp_extract(host, '([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\.[a-z][a-z])$', 1)
                WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) != ''
                  THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                ELSE host END AS domain
    FROM h
    """,
    survey_ref="URL canonicalization + host + structural eTLD+1 extraction "
    "(functions/urls.py) over a deterministic adversarial URL fixture "
    "(uppercase scheme/host, default ports, fragments, bare-authority "
    "query, trailing slashes, userinfo, three-label co.uk hosts); pure "
    "codegen regexp chains in the RE2-and-Java common subset",
)
def txt_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import url_host, url_normalize, url_registered_domain

    docs = load_table(spark, sf_dir, "documents").withColumn("url", _url_col())
    return docs.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        url_host(F.col("url")).alias("host"),
        url_registered_domain(F.col("url")).alias("domain"),
    )

@register(
    "corpus_domain_cap",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    h AS (SELECT doc_id,
                 lower(regexp_extract(url, '^[^/]*//(?:[^/@?]*@)?([^/:?#]+)', 1)) AS host
          FROM u),
    d AS (SELECT doc_id,
           CASE WHEN regexp_matches(host, '^[0-9.]+$') THEN host
                WHEN regexp_extract(host, '([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\.[a-z][a-z])$', 1) != ''
                  THEN regexp_extract(host, '([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\.[a-z][a-z])$', 1)
                WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) != ''
                  THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                ELSE host END AS domain
          FROM h),
    r AS (SELECT doc_id, domain,
                 row_number() OVER (
                   PARTITION BY domain
                   ORDER BY ('0x' || substr(md5('dcap|' || doc_id), 1, 15))::BIGINT, doc_id
                 ) AS rk
          FROM d)
    SELECT doc_id, domain FROM r WHERE rk <= 10
    """,
    survey_ref="per-domain diversity cap (functions/urls.cap_per_domain): "
    "at most 10 docs per registered domain by deterministic md5 order — "
    "the one-megasite-cannot-dominate rule of crawl pipelines; rank<=cap "
    "compiles to Partial+Final WindowGroupLimit (map-side bounded)",
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import cap_per_domain, url_registered_domain

    docs = load_table(spark, sf_dir, "documents").withColumn("url", _url_col())
    with_dom = docs.select(
        "doc_id", url_registered_domain(F.col("url")).alias("domain")
    )
    return cap_per_domain(with_dom, "doc_id", "domain", cap=10, salt="dcap")

@register(
    "dedup_fuzzy_pairs",
    oracle="""
    WITH t AS (SELECT doc_id, lang, text, length(text) AS n FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS dist
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= 50
    WHERE levenshtein(a.text, b.text) <= 50
    """,
    survey_ref="edit-distance fuzzy dedup (operators/fuzzy.py): the "
    "dense-small-edit near-dup class every shingle method misses (pinned "
    "in tests: a 10-edit mutation breaks 100% of 3-gram shingles), "
    "lang-blocked with the lossless |len diff|<=d pushdown and Spark 4's "
    "thresholded levenshtein kernel (O(len*d) early exit); both engines "
    "agree char-exactly on ASCII (codepoint-vs-byte unicode divergence "
    "test-pinned and documented)",
)
def dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import edit_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return edit_dup_pairs(docs, "doc_id", "text", "lang", max_dist=50)

#: decomposed suffixes planted per doc_id % 3 (0: e+COMBINING ACUTE,
#: 1: A+COMBINING RING, 2: unchanged) — literal characters interpolated
#: into BOTH engines' expressions so the inputs are byte-identical
_NFC_E = "é"

_NFC_A = "Å"

@register(
    "txt_normalize_nfc",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN text || ' caf{_NFC_E}'
               WHEN 1 THEN text || ' {_NFC_A}ngstrom'
               ELSE text
             END AS mutated
      FROM documents)
    SELECT doc_id, nfc_normalize(mutated) AS norm FROM m
    """,
    survey_ref="Unicode NFC normalization (functions/normalize.with_nfc, "
    "Arrow-batched unicodedata kernel) cross-validated against DuckDB's "
    "INDEPENDENT utf8proc implementation of the same Unicode standard, on "
    "planted decomposed combining sequences; the landing-zone transform "
    "that makes byte-different encodings fingerprint identically",
)
def txt_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.normalize import with_nfc

    docs = load_table(spark, sf_dir, "documents")
    mutated = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" caf" + _NFC_E)))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(" " + _NFC_A + "ngstrom")))
        .otherwise(F.col("text"))
        .alias("mutated"),
    )
    return with_nfc(mutated, "mutated", out_col="norm").select("doc_id", "norm")

@register(
    "dedup_span_trim",
    oracle=f"""
    WITH {_SQL_SPANS},
    pos_t AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM tok),
    ptok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM pos_t),
    rem AS (
      SELECT DISTINCT p.doc_id, p.pos
      FROM ptok p JOIN spans s
        ON p.doc_id = s.doc_id AND p.pos >= s.span_start AND p.pos < s.span_end),
    keptoks AS (
      SELECT p.doc_id,
             string_agg(p.tok, ' ' ORDER BY p.pos) AS text_trimmed,
             COUNT(*) AS kept
      FROM ptok p LEFT JOIN rem r ON p.doc_id = r.doc_id AND p.pos = r.pos
      WHERE r.pos IS NULL
      GROUP BY p.doc_id)
    SELECT t.doc_id,
           COALESCE(k.text_trimmed, '') AS text_trimmed,
           len(t.toks) AS n_tokens,
           CAST(COALESCE(k.kept, 0) AS INT) AS kept_tokens
    FROM tok t LEFT JOIN keptoks k USING (doc_id)
    """,
    survey_ref="the APPLY step of substring-level dedup (operators/spans."
    "trim_duplicate_spans): duplicate spans removed keep-first, in-row "
    "zip/filter token drop against the per-doc merged interval array — "
    "flag and trim operate on the same token stream, so removed == "
    "flagged exactly; untouched docs ride the left-join null path",
)
def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spans import trim_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return trim_duplicate_spans(docs, "doc_id", "text", k=_SPAN_K).withColumnRenamed(
        "id", "doc_id"
    )

@register(
    "txt_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(CAST(tf.tf AS HUGEINT) * (nd.n_docs + 1) * 1000000000
                  // (dfreq.df + 1) AS BIGINT) AS score9
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
    ranked AS (
      SELECT doc_id, term, score9,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score9 DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, CAST(rnk AS INT) AS rnk, term, score9
    FROM ranked WHERE rnk <= 5
    """,
    survey_ref="per-document top-5 tf-idf terms (operators/tfidf.py): "
    "exact scaled-integer score9 via DECIMAL div (Spark's native decimal "
    "division caps result scale at 6 — measured and routed around), "
    "document frequency as a window over the tf relation (one token "
    "scan), top-k via the WindowGroupLimit-compiling rank<=k window",
)
def txt_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import tfidf_topk_terms

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_topk_terms(docs, "doc_id", "text", k=5, rational=True)
    return out.select(
        "doc_id", "rnk", "term", F.col("score9").cast("long").alias("score9")
    )

@register(
    "sketch_frequent_items",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS v
      FROM documents),
    n AS (SELECT COUNT(*) AS total FROM toks)
    SELECT t.v, CAST(COUNT(*) AS BIGINT) AS n, CAST(any_value(nn.total) AS BIGINT) AS total
    FROM toks t CROSS JOIN n nn
    GROUP BY t.v
    HAVING COUNT(*) * 100 > 1 * any_value(nn.total)
    """,
    survey_ref="exact two-pass heavy hitters (operators/sketches."
    "frequent_items, Misra-Gries candidates + exact verification): tokens "
    "with frequency > 1% of the corpus — pass 1 shuffles NOTHING "
    "(partition-local MG summaries via mapInPandas, pigeonhole-complete), "
    "pass 2 counts only |candidates|+1 aggregate rows",
)
def sketch_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.sketches import frequent_items

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(ws_tokens(F.col("text"))).alias("v"))
    return frequent_items(toks, "v", freq_num=1, freq_den=100)

@register(
    "sketch_quantiles",
    oracle="""
    WITH s AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM s),
    ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
    qs(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (0.5), (0.9), (0.99))
    SELECT qs.q, CAST(r.rn AS BIGINT) AS rank, CAST(r.v AS BIGINT) AS value
    FROM qs CROSS JOIN n
    JOIN ranked r ON r.rn = CAST(GREATEST(1, CEIL(qs.q * n.n)) AS BIGINT)
    """,
    survey_ref="exact order statistics without a global sort (operators/"
    "sketches.quantiles_exact): two-pass histogram->refine — pass 1 one "
    "hash agg into exact-decimal buckets (<=4096-row driver summary), "
    "pass 2 shuffles ONLY the targeted buckets; 6.2x over the sort-window "
    "form at 20M rows (SCALE.md); percentile_disc 'lower' convention",
)
def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import quantiles_exact

    docs = load_table(spark, sf_dir, "documents")
    return quantiles_exact(
        docs.select(F.col("n_chars").alias("v")), "v", [0.25, 0.5, 0.9, 0.99]
    )

@register(
    "sketch_histogram",
    oracle="""
    WITH s AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
    st AS (SELECT MIN(v) AS mn, MAX(v) - MIN(v) + 1 AS span FROM s),
    b AS (
      SELECT CAST(((v - st.mn) * 16) // st.span AS INT) AS bucket
      FROM s CROSS JOIN st),
    cnts AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bucket)
    SELECT c.bucket,
           CAST(st.mn + (c.bucket * st.span + 15) // 16 AS BIGINT) AS lo,
           CAST(st.mn + ((c.bucket + 1) * st.span + 15) // 16 - 1 AS BIGINT) AS hi,
           c.cnt
    FROM cnts c CROSS JOIN st
    """,
    survey_ref="equi-width value histogram with exact decimal bucket math "
    "(operators/sketches.value_histogram — quantiles_exact's pass 1 as a "
    "first-class distribution summary): one map-side-combined aggregate, "
    "output bounded by bucket count, exact integer [lo, hi] tiling "
    "(adjacent buckets meet with no gap or overlap, property-pinned)",
)
def sketch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import value_histogram

    docs = load_table(spark, sf_dir, "documents")
    return value_histogram(docs.select(F.col("n_chars").alias("v")), "v", buckets=16)
