"""LLM-training-data pipeline queries over `documents` / `embeddings` —
the scale-path operators a 100 TB corpus needs,
built as first-class registry entries alongside the SURVEY.md §2 inventory:

  dedup_exact          — hash-groupBy exact dedup
  dedup_ngram_jaccard  — exact n-gram Jaccard via inverted shingle index
  dedup_minhash_lsh    — MinHash signatures + banded LSH candidates
  dedup_simhash        — 32-bit SimHash fingerprints
  txt_quality_score    — length/punct/stopword quality features
  txt_lang_id          — stopword-profile language guesser
  txt_token_count      — whitespace + BPE-ish regex token counts
  txt_fingerprint      — normalized md5 + 60-bit rolling fingerprint
  ann_cosine_topk      — brute-force exact cosine top-k (baseline)
  ann_lsh_buckets      — random-hyperplane LSH bucketing (scale path)

All hashes are md5-derived and all sums exact-decimal, so every query has a
bit-exact DuckDB oracle twin (the heavy lifting lives in operators/dedup.py
and operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import norm_text, ws_tokens
from ..operators.dedup import (
    exact_dedup,
    hamming_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ..operators.similarity import cosine_topk, lsh_buckets
from ..sources.testdata import load_table
from .registry import register

#: DuckDB twin of functions.text.ws_tokens
_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), x -> x != '')"

#: DuckDB twin of operators.dedup._doc_shingles (word 5-grams, distinct
#: 60-bit md5 hashes — fixed-width longs in every downstream shuffle).
#: 5-grams (not 3) keep shingle document-frequency ~1 on small-vocab text, so
#: the inverted-index join stays linear in corpus size — the scaling lever
#: real n-gram dedup pipelines use (long shingles, e.g. 13-grams in Gopher).
_SQL_SHINGLES = f"""
    tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    idx AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
      FROM tok WHERE len(toks) >= 5),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]), 1, 15))::BIGINT AS shingle_h
      FROM idx)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_docs
    FROM documents GROUP BY md5(text)
    """,
    survey_ref="exact dedup (hash-groupBy); T6 coverage dedup analog (tree/util/dedup.rs)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", F.md5(F.col("text")))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    bsh AS (SELECT s.doc_id, d.lang AS blk, s.shingle_h
            FROM sh s JOIN documents d USING (doc_id)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM bsh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM bsh a JOIN bsh b ON a.blk = b.blk AND a.shingle_h = b.shingle_h
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
             CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT * FROM j WHERE jaccard >= 0.1
    """,
    survey_ref="n-gram Jaccard near-dedup via inverted index (scale path: one "
    "shuffle per shingle, blocked by lang)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", n=5, threshold=0.1
    ).select(
        F.col("id_a"), F.col("id_b"), "inter", "sz_a", "sz_b", "jaccard"
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
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
    SELECT id_a, id_b FROM pairs
    """,
    survey_ref="MinHash+LSH near-dedup (shingle→minhash→band→bucket-join); "
    "100TB candidate generation as a hash shuffle",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=5, num_hashes=16, band_size=4)


@register(
    "dedup_incremental_lsh",
    oracle=f"""
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
      FROM hashed GROUP BY doc_id, seed // 4)
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of
    FROM banded n JOIN banded c
      ON n.band = c.band AND n.band_sig = c.band_sig
    WHERE n.doc_id % 10 = 0
      AND (c.doc_id % 10 != 0 OR c.doc_id < n.doc_id)
    """,
    survey_ref="incremental near-dedup: new ingestion batch vs existing "
    "corpus via the shared LSH band signatures — new x corpus collisions "
    "plus min-id-survivor collisions within the new batch, never corpus x "
    "corpus (the continuous-crawl shape; "
    "operators/dedup.minhash_lsh_incremental)",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_incremental

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_lsh_incremental(
        new, corpus, "doc_id", "text", n=5, num_hashes=16, band_size=4
    )


@register(
    "txt_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                  - n_tokens AS BIGINT) AS start_offset
      FROM toks WHERE n_tokens > 0)
    SELECT lang AS shard, doc_id AS id, n_tokens, start_offset,
           start_offset // 256 AS bin_id,
           start_offset % 256 AS offset_in_bin,
           (start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1
             AS bins_spanned
    FROM cum
    """,
    survey_ref="sequence packing for pretraining batches: per-shard "
    "concat-and-chunk into fixed context windows via one cumsum window + "
    "integer math (operators/packing.pack_sequences; sharded so packing "
    "parallelizes — an unsharded global ordering would funnel 100 TB "
    "through one window task)",
)
def txt_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ws_tokens
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(ws_tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(docs, "doc_id", "n_tokens", "lang", context_len=256)


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH w(src, wgt) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source),
    j AS (SELECT source, n, wgt FROM cnt JOIN w ON source = src),
    nout AS (SELECT MIN(CAST(n AS DOUBLE) / wgt) AS m FROM j),
    rates AS (
      SELECT source,
             LEAST(CAST(1.0 AS DOUBLE), wgt * m / CAST(n AS DOUBLE)) AS rate
      FROM j, nout)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ('0x' || substr(md5('mix1|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST(r.rate * 1152921504606846976.0 AS BIGINT)
    """,
    survey_ref="domain-mixture sampling: keep-rates derived from live "
    "per-source counts to hit a target composition (max mixture-consistent "
    "output N = min_s(n_s/w_s)), deterministic md5 threshold, broadcast "
    "rate dim — the big side never shuffles "
    "(operators/dedup.mixture_sample)",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    ).select("doc_id", "source")


@register(
    "txt_repetition_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
             toks
      FROM tok WHERE len(toks) >= 2),
    bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             COUNT(*) AS n_distinct_bigrams,
             CAST(MAX(c) AS BIGINT) AS top_bigram_count
      FROM cnt GROUP BY 1)
    SELECT b.doc_id AS id, n_tokens, n_distinct_tokens,
           CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS distinct_token_ratio,
           n_bigrams, top_bigram_count,
           CAST(top_bigram_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             AS top_bigram_frac,
           CAST(n_bigrams - n_distinct_bigrams AS DOUBLE)
             / CAST(n_bigrams AS DOUBLE) AS dup_bigram_frac
    FROM base b JOIN agg USING (doc_id)
    """,
    survey_ref="within-document repetition signals (distinct-token ratio, "
    "top-bigram fraction, duplicate-bigram fraction) — the Gopher-style "
    "repetition filters a curation pipeline applies alongside the doc-local "
    "quality features; explode + two hash aggs, codegen throughout "
    "(array-lambda HOFs are the interpreted slow path, per "
    "operators/dedup._doc_shingles)",
)
def txt_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_ngrams, ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("id"),
        ws_tokens(F.col("text")).alias("toks"),
    ).filter(F.size("toks") >= 2).select(
        "id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
        word_ngrams(F.col("toks"), 2).alias("bigrams"),
    )
    cnt = base.select("id", F.explode("bigrams").alias("bigram")).groupBy(
        "id", "bigram"
    ).agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("top_bigram_count"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return base.drop("bigrams").join(agg, "id").select(
        "id", "n_tokens", "n_distinct_tokens",
        (dbl("n_distinct_tokens") / dbl("n_tokens")).alias("distinct_token_ratio"),
        "n_bigrams", "top_bigram_count",
        (dbl("top_bigram_count") / dbl("n_bigrams")).alias("top_bigram_frac"),
        ((dbl("n_bigrams") - dbl("n_distinct_bigrams")) / dbl("n_bigrams")).alias(
            "dup_bigram_frac"
        ),
    )


@register(
    "txt_pii_scrub",
    oracle=r"""
    WITH s0 AS (SELECT doc_id, text FROM documents),
    s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
      FROM s0),
    s2 AS (
      SELECT doc_id, n_emails,
             len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
             regexp_replace(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t
      FROM s1),
    s3 AS (
      SELECT doc_id, n_emails, n_ips,
             len(regexp_extract_all(t, '\+?[0-9][0-9()\[\] .-]{6,}[0-9]')) AS n_phones,
             regexp_replace(t, '\+?[0-9][0-9()\[\] .-]{6,}[0-9]', '<PHONE>', 'g') AS t
      FROM s2)
    SELECT doc_id AS id, n_emails, n_ips, n_phones,
           n_emails + n_ips + n_phones AS n_redactions, t AS scrubbed
    FROM s3
    """,
    survey_ref="PII redaction (emails/IPs/phones with typed placeholders) — "
    "the standard privacy pass before publishing training data; pure "
    "codegen projection, zero shuffle (functions/text.scrub_pii). Engine "
    "parity on the full corpus; planted-PII behavior pinned in "
    "tests/test_dedup_incremental.py",
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    scrubbed, counts = scrub_pii(F.col("text"))
    return docs.select(
        F.col("doc_id").alias("id"),
        counts["email"].alias("n_emails"),
        counts["ip"].alias("n_ips"),
        counts["phone"].alias("n_phones"),
        (counts["email"] + counts["ip"] + counts["phone"]).alias("n_redactions"),
        scrubbed.alias("scrubbed"),
    )


#: 3-gram shingle CTE for decontamination: production pipelines use LONG
#: n-grams (8-13) against natural text; on this small-vocab synthetic corpus
#: 5-grams almost never recur across docs, so the gate uses 3-grams to keep
#: a substantive contaminated set (~170 docs at sf0.01) while exercising the
#: identical plan shape.
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
    "txt_decontaminate",
    oracle=f"""
    WITH {_SQL_SHINGLES3},
    ev AS (SELECT doc_id AS eval_id, shingle_h FROM sh3 WHERE doc_id % 97 = 0),
    cs AS (SELECT doc_id, shingle_h FROM sh3 WHERE doc_id % 97 != 0)
    SELECT cs.doc_id AS id,
           COUNT(DISTINCT cs.shingle_h) AS n_hits,
           COUNT(DISTINCT ev.eval_id) AS n_eval_docs
    FROM cs JOIN ev USING (shingle_h)
    GROUP BY cs.doc_id
    HAVING COUNT(DISTINCT cs.shingle_h) >= 1
    """,
    survey_ref="benchmark decontamination: n-gram overlap of the training "
    "corpus against a held-out eval set (standard LLM-pipeline hygiene "
    "pass; broadcast eval shingles, zero corpus-side shuffle before the "
    "per-doc fold; operators/dedup.decontaminate)",
)
def txt_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, eval_docs, "doc_id", "text", n=3, min_hits=1)


@register(
    "txt_boilerplate_score",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    dfreq AS (SELECT shingle_h, COUNT(*) AS df FROM sh GROUP BY shingle_h)
    SELECT s.doc_id AS id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS sum_df,
           CAST(SUM(df) AS DOUBLE) / COUNT(*) AS boilerplate_score
    FROM sh s JOIN dfreq USING (shingle_h)
    GROUP BY s.doc_id
    """,
    survey_ref="corpus-statistics quality scoring: mean shingle document-"
    "frequency per doc (boilerplate/template detection — the corpus-side "
    "complement of txt_quality_score's doc-local features; "
    "operators/dedup.shingle_df_score)",
)
def txt_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_df_score

    docs = load_table(spark, sf_dir, "documents")
    return shingle_df_score(docs, "doc_id", "text", n=5).select(
        F.col("id"), "n_shingles", "sum_df", "boilerplate_score"
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    hv AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
    bits AS (
      SELECT doc_id, b.i AS b,
             SUM(CASE WHEN (hv >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hv, range(0, 32) b(i)
      GROUP BY doc_id, b.i)
    SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    survey_ref="SimHash fingerprinting (document-level near-dup signature)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=32).select(
        F.col("id").alias("doc_id"), "simhash"
    )


#: DuckDB twin of operators.dedup.simhash (32-bit), shared by the
#: fingerprint gate above and the near-dup pairs gate below
_SQL_SIMHASH = f"""
    tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    hv AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
    bits AS (
      SELECT doc_id, b.i AS b,
             SUM(CASE WHEN (hv >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hv, range(0, 32) b(i)
      GROUP BY doc_id, b.i),
    sh AS (
      SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
"""


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SQL_SIMHASH}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    survey_ref="SimHash near-duplicate pairs via banded Hamming LSH "
    "(operators/dedup.hamming_neardup_pairs: 4x8-bit bands, complete for "
    "Hamming <= 3 by pigeonhole, bit_count verify). Oracle recomputes the "
    "fingerprints in SQL and brute-forces ALL pairs — the gate therefore "
    "proves the banded equality join loses nothing vs exhaustive search",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = simhash(docs, "doc_id", "text", bits=32)
    return hamming_neardup_pairs(
        fps, "id", "simhash", bits=32, bands=4, max_hamming=3
    )


#: 60-bit twin of _SQL_SIMHASH (the corpus-scale geometry: md5_long's full
#: 60-bit hash width, 15-bit bands)
_SQL_SIMHASH_60 = f"""
    tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    hv AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok),
    bits AS (
      SELECT doc_id, b.i AS b,
             SUM(CASE WHEN (hv >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hv, range(0, 60) b(i)
      GROUP BY doc_id, b.i),
    sh AS (
      SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
"""


@register(
    "dedup_simhash_pairs_wide",
    oracle=f"""
    WITH {_SQL_SIMHASH_60}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    survey_ref="SimHash near-duplicate pairs at the CORPUS-SCALE band "
    "geometry (VERDICT r6 directive 4): 60-bit fingerprints, 4x15-bit "
    "bands — the configuration SCALE.md measures as the 100 TB dial (512 "
    "pairs vs 129k at 32-bit on the sf1 corpus: wider bands = sharper "
    "buckets = near-linear candidate cost). Same pigeonhole completeness "
    "contract (Hamming <= bands-1 = 3) as dedup_simhash_pairs; the oracle "
    "recomputes the 60-bit fingerprints in SQL and brute-forces ALL pairs, "
    "so the gate proves the banded join loses nothing at THIS geometry too",
)
def dedup_simhash_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = simhash(docs, "doc_id", "text", bits=60)
    return hamming_neardup_pairs(
        fps, "id", "simhash", bits=60, bands=4, max_hamming=3
    )


_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "y"],
    "de": ["der", "die", "das", "und", "ein"],
    "fr": ["le", "la", "les", "et", "un"],
    "zh": ["de", "le", "he", "shi", "zai"],
}
_ALL_STOPS = sorted({w for ws in _STOPWORDS.values() for w in ws})


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@register(
    "txt_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents)
    SELECT doc_id, n_chars,
           len(toks) AS n_words,
           CAST(n_chars AS DOUBLE) / len(toks) AS avg_word_len,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(len(list_filter(toks, x -> list_contains({_sql_list(_ALL_STOPS)}, x))) AS DOUBLE)
             / len(toks) AS stopword_ratio
    FROM t WHERE len(toks) > 0
    """,
    survey_ref="text quality scoring (length/punct/stopword ratios)",
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = ws_tokens(F.col("text"))
    stops = F.array(*[F.lit(w) for w in _ALL_STOPS])
    t = docs.select(
        "doc_id",
        "n_chars",
        toks.alias("toks"),
        F.size(F.regexp_extract_all("text", F.lit("[^a-zA-Z0-9 ]"), 0)).alias("n_punct"),
    ).filter(F.size("toks") > 0)
    return t.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_words"),
        (F.col("n_chars").cast("double") / F.size("toks")).alias("avg_word_len"),
        (F.col("n_punct").cast("double") / F.col("n_chars")).alias("punct_ratio"),
        (
            F.size(F.filter(F.col("toks"), lambda x: F.array_contains(stops, x))).cast("double")
            / F.size("toks")
        ).alias("stopword_ratio"),
    )


#: linear quality-classifier weights in the cross-multiplied integer form
#: (see txt_quality_classifier): fixture stand-ins for a trained model's —
#: the engine contribution is the exact decision plumbing, not the values
_QC_W_STOP, _QC_W_LEN, _QC_W_BIAS = 2200, 10, -165


@register(
    "txt_quality_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
             {_SQL_TOKENS} AS toks
      FROM documents),
    f AS (
      SELECT doc_id, nc, CAST(len(toks) AS BIGINT) AS nw,
             CAST(len(list_filter(toks, x -> list_contains({_sql_list(_ALL_STOPS)}, x))) AS BIGINT) AS ns
      FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           CAST({_QC_W_STOP} * ns * nc + {_QC_W_LEN} * nc * nc
                + {_QC_W_BIAS} * nw * nc AS BIGINT) AS margin,
           ({_QC_W_STOP} * ns * nc + {_QC_W_LEN} * nc * nc
            + {_QC_W_BIAS} * nw * nc) > 0 AS keep
    FROM f
    """,
    survey_ref="model-based quality filtering: logistic-regression-style "
    "linear classifier over (stopword ratio, avg word length) evaluated in "
    "CROSS-MULTIPLIED integer form — margin_ratio has denominators "
    "n_words*n_chars > 0, so sign(margin_ratio) == sign(integer margin) "
    "and the keep decision (p > 0.5 <=> margin > 0, sigmoid monotone) is "
    "bit-exact in both engines with no float, no exp. Weights are fixture "
    "stand-ins for a trained model's; at 100 TB this is one codegen "
    "projection, zero shuffles",
)
def txt_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stops = F.array(*[F.lit(w) for w in _ALL_STOPS])
    f = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("nc"),
        ws_tokens(F.col("text")).alias("toks"),
    ).filter(F.size("toks") > 0).select(
        "doc_id",
        "nc",
        F.size("toks").cast("long").alias("nw"),
        F.size(
            F.filter(F.col("toks"), lambda x: F.array_contains(stops, x))
        ).cast("long").alias("ns"),
    )
    margin = (
        F.lit(_QC_W_STOP) * F.col("ns") * F.col("nc")
        + F.lit(_QC_W_LEN) * F.col("nc") * F.col("nc")
        + F.lit(_QC_W_BIAS) * F.col("nw") * F.col("nc")
    )
    return f.select(
        "doc_id",
        margin.cast("long").alias("margin"),
        (margin > 0).alias("keep"),
    )


@register(
    "txt_html_extract",
    oracle=r"""
    SELECT doc_id,
           md5('d' || CAST(doc_id AS VARCHAR) || ' '
               || trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))
               || ' "tail" &nbsp; trailing') AS fp,
           CAST(length('d' || CAST(doc_id AS VARCHAR) || ' '
               || trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))
               || ' "tail" &nbsp; trailing') AS BIGINT) AS n_chars
    FROM documents
    """,
    survey_ref="HTML -> text extraction (functions/text.html_to_text: "
    "script/style/comment drop, tag strip, entity ladder with &amp; last, "
    "whitespace collapse — the crawl landing transform). Self-verifying "
    "gate: each document is wrapped in a deterministic HTML page (title, "
    "styled div, a script whose BODY contains markup, double-escaped "
    "entities) and the oracle asserts extraction recovers EXACTLY the "
    "original text plus the decoded visible tail — the oracle never runs "
    "a regex over HTML, it states the functional spec",
)
def txt_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import html_to_text

    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit('<html><head><title>d'),
        F.col("doc_id").cast("string"),
        F.lit('</title><style type="text/css">p { color: red }</style>'
              '<script>if (1 &lt; 2) { f("</p>") }</script></head>'
              '<body>\n<div class="main"><p>'),
        F.col("text"),
        F.lit('</p><!-- note\n --> &quot;tail&quot; &amp;nbsp; trailing'
              '</div></body></html>'),
    )
    extracted = html_to_text(wrapped)
    return docs.select(
        "doc_id",
        F.md5(extracted).alias("fp"),
        F.length(extracted).cast("long").alias("n_chars"),
    )


_LANGS = ["en", "es", "de", "fr", "zh"]  # fixed precedence for argmax ties


def _sql_score(lang: str) -> str:
    return (
        f"len(list_filter(toks, x -> list_contains({_sql_list(_STOPWORDS[lang])}, x)))"
    )


@register(
    "txt_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 {", ".join(f"{_sql_score(lg)} AS s_{lg}" for lg in _LANGS)}
          FROM t)
    SELECT doc_id, lang AS actual_lang,
           CASE
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS pred_lang,
           s_en + s_es + s_de + s_fr + s_zh AS total_hits
    FROM s
    """,
    survey_ref="language-ID (stopword-profile heuristic)",
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", ws_tokens(F.col("text")).alias("toks"))

    def score(lg: str):
        lst = F.array(*[F.lit(w) for w in _STOPWORDS[lg]])
        return F.size(F.filter(F.col("toks"), lambda x: F.array_contains(lst, x)))

    s = t.select("doc_id", "lang", *[score(lg).alias(f"s_{lg}") for lg in _LANGS])
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_zh")),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de"))
            & (F.col("s_es") >= F.col("s_fr"))
            & (F.col("s_es") >= F.col("s_zh")),
            "es",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_zh")), "de")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    total = sum(F.col(f"s_{lg}") for lg in _LANGS)
    return s.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("pred_lang"),
        total.alias("total_hits"),
    )


@register(
    "txt_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_SQL_TOKENS}) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_ish_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
    survey_ref="token counting (whitespace + BPE-ish regex)",
)
def txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0)
        ).alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


@register(
    "txt_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS content_md5,
           ('0x' || substr(md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), 1, 15))::BIGINT
             AS fingerprint60
    FROM documents
    """,
    survey_ref="document fingerprinting (normalized rolling hash)",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    normed = norm_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(normed).alias("content_md5"),
        F.conv(F.substring(F.md5(normed), 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    )


#: DuckDB twin of operators.similarity._components (6dp micro-unit BIGINTs:
#: the decimal(9,6) cast does the engine-agnostic rounding, ×10^6 is exact)
#: one row per ACTUAL element (unnest + subscripts, the posexplode twin): a
#: fixed range(1, 65) would manufacture 64 NULL-comp rows for a NULL/empty
#: embedding and give it a phantom bucket 0 in the LSH oracle, where Spark's
#: posexplode produces no rows at all
_SQL_COMP = """
    comp AS (
      SELECT id, i - 1 AS pos,
             CAST(CAST(CAST(val AS DOUBLE) AS DECIMAL(9,6))
                  * 1000000 AS BIGINT) AS comp
      FROM (SELECT vec_id AS id, generate_subscripts(embedding, 1) AS i,
                   unnest(embedding) AS val FROM embeddings))
"""


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_SQL_COMP},
    norms AS (SELECT id, SUM(comp * comp) AS n2 FROM comp GROUP BY id
              HAVING SUM(comp * comp) > 0),
    q AS (SELECT c.id AS qid, c.pos, c.comp AS qc FROM comp c WHERE c.id % 100 = 0),
    dots AS (
      SELECT q.qid, c.id AS cid, SUM(q.qc * c.comp) AS dot
      FROM q JOIN comp c ON q.pos = c.pos
      WHERE c.id != q.qid
      GROUP BY 1, 2),
    sims AS (
      SELECT d.qid, d.cid,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) AS sim
      FROM dots d
      JOIN norms nq ON nq.id = d.qid
      JOIN norms nc ON nc.id = d.cid),
    ranked AS (
      SELECT qid AS query_id, cid AS neighbor_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      FROM sims)
    SELECT query_id, rnk, neighbor_id, sim FROM ranked WHERE rnk <= 5
    """,
    survey_ref="ANN baseline: brute-force exact cosine top-k over array<float> "
    "(decimal-exact dot products)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, "vec_id", "embedding", query_pred=F.col("vec_id") % 100 == 0, k=5
    )


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH {_SQL_COMP},
    proj AS (
      SELECT c.id, p.j AS plane,
             SUM(c.comp * (CASE WHEN ('0x' || substr(md5(CAST(p.j AS VARCHAR) || '-' || CAST(c.pos AS VARCHAR)), 1, 1))::BIGINT % 2 = 1
                           THEN 1 ELSE -1 END)) AS pr
      FROM comp c, range(0, 8) p(j)
      GROUP BY c.id, p.j)
    SELECT id AS vec_id,
           CAST(SUM(CASE WHEN pr > 0 THEN 1::BIGINT << CAST(plane AS INT) ELSE 0 END) AS BIGINT) AS bucket
    FROM proj GROUP BY id
    """,
    survey_ref="ANN scale path: random-hyperplane LSH bucketing (equality-join "
    "candidate generation instead of n² cross join)",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_buckets(emb, "vec_id", "embedding", planes=8).select(
        F.col("id").alias("vec_id"), "bucket"
    )


#: n-gram-Jaccard duplicate PAIRS as a reusable CTE (same plan as
#: dedup_ngram_jaccard's oracle, pairs only)
_SQL_DUP_PAIRS = f"""
    {_SQL_SHINGLES},
    bsh AS (SELECT s.doc_id, d.lang AS blk, s.shingle_h
            FROM sh s JOIN documents d USING (doc_id)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM bsh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM bsh a JOIN bsh b ON a.blk = b.blk AND a.shingle_h = b.shingle_h
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.1)
"""


@register(
    "dedup_cc_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_DUP_PAIRS},
    e AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, m) AS (
      SELECT a, b FROM e
      UNION
      SELECT reach.node, e.b FROM reach JOIN e ON e.a = reach.m),
    minr AS (SELECT node, MIN(m) AS mr FROM reach GROUP BY node)
    SELECT d.doc_id, LEAST(d.doc_id, COALESCE(mr.mr, d.doc_id)) AS component
    FROM documents d LEFT JOIN minr mr ON mr.node = d.doc_id
    """,
    survey_ref="near-dup clusters: distributed connected components "
    "(operators/graph_cc min-label propagation + pointer jumping) over the "
    "n-gram-Jaccard pair graph; the keep-one-per-cluster precursor "
    "(G3 disjointness at scale uses the same operator)",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph_cc import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", n=5, threshold=0.1
    )
    return connected_components(
        pairs, "id_a", "id_b", vertices=docs.select(F.col("doc_id").alias("id_a"))
    ).select(F.col("node").alias("doc_id"), "component")


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE {_SQL_DUP_PAIRS},
    e AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, m) AS (
      SELECT a, b FROM e
      UNION
      SELECT reach.node, e.b FROM reach JOIN e ON e.a = reach.m),
    minr AS (SELECT node, MIN(m) AS mr FROM reach GROUP BY node),
    cc AS (
      SELECT d.doc_id, LEAST(d.doc_id, COALESCE(mr.mr, d.doc_id)) AS component
      FROM documents d LEFT JOIN minr mr ON mr.node = d.doc_id)
    SELECT component AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM cc GROUP BY component
    """,
    survey_ref="near-dup KEEP step: one canonical survivor (min doc_id) per "
    "connected cluster of the n-gram-Jaccard pair graph + cluster size — the "
    "document-level output a corpus dedup pass materializes (composes "
    "ngram_jaccard_pairs -> graph_cc.connected_components -> groupBy)",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor list of the full near-dedup pipeline: cluster label = min
    doc_id of the component (connected_components' convention), so keeping
    the label row IS the deterministic keep-one policy; n_members = cluster
    size (1 for non-duplicated docs). One extra groupBy(component) over the
    CC labels — all scale work lives in the pair/CC operators."""
    from ..operators.graph_cc import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", n=5, threshold=0.1
    )
    cc = connected_components(
        pairs, "id_a", "id_b", vertices=docs.select(F.col("doc_id").alias("id_a"))
    )
    return cc.groupBy(F.col("component").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


#: DuckDB twin of the md5-seeded centroid assignment shared by ivf_topk and
#: semantic_dedup (operators/similarity._seeded_centroids + top-1 window):
#: requires the `comp` CTE in scope; yields `norms` and `asg(id, cluster)`.
_SQL_IVF_ASG = """
    norms AS (SELECT id, SUM(comp * comp) AS n2 FROM comp GROUP BY id
              HAVING SUM(comp * comp) > 0),
    seeds AS (
      SELECT id AS cid_seed FROM (
        SELECT id, row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
        FROM norms)
      WHERE rn <= 8),
    cents AS (
      SELECT s.cid_seed, c.pos, c.comp AS ccomp
      FROM seeds s JOIN comp c ON c.id = s.cid_seed),
    cnorms AS (
      SELECT s.cid_seed, n.n2 AS cn2 FROM seeds s JOIN norms n ON n.id = s.cid_seed),
    csim AS (
      SELECT v.id, t.cid_seed,
             CAST(t.dot AS DOUBLE) / sqrt(CAST(v.n2 AS DOUBLE) * CAST(cn.cn2 AS DOUBLE)) AS sim
      FROM (
        SELECT c.id, ct.cid_seed, SUM(c.comp * ct.ccomp) AS dot
        FROM comp c JOIN cents ct ON c.pos = ct.pos
        GROUP BY 1, 2) t
      JOIN norms v ON v.id = t.id
      JOIN cnorms cn ON cn.cid_seed = t.cid_seed),
    asg AS (
      SELECT id, cid_seed AS cluster FROM (
        SELECT id, cid_seed,
               row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid_seed ASC) AS rn
        FROM csim)
      WHERE rn = 1)
"""


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_SQL_COMP},
    {_SQL_IVF_ASG},
    probes AS (
      SELECT id AS qid, cid_seed AS cluster FROM (
        SELECT id, cid_seed,
               row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid_seed ASC) AS rn
        FROM csim WHERE id % 100 = 0)
      WHERE rn <= 2),
    cand AS (
      SELECT p.qid, a.id AS cid FROM probes p JOIN asg a USING (cluster)
      WHERE a.id != p.qid),
    dots AS (
      SELECT q.id AS qid, c.id AS cid, SUM(q.comp * c.comp) AS dot
      FROM comp q JOIN comp c ON q.pos = c.pos
      JOIN cand ON cand.qid = q.id AND cand.cid = c.id
      WHERE q.id % 100 = 0
      GROUP BY 1, 2),
    sims AS (
      SELECT d.qid, d.cid,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) AS sim
      FROM dots d
      JOIN norms nq ON nq.id = d.qid
      JOIN norms nc ON nc.id = d.cid),
    ranked AS (
      SELECT qid AS query_id, cid AS neighbor_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rnk
      FROM sims)
    SELECT query_id, rnk, neighbor_id, sim FROM ranked WHERE rnk <= 5
    """,
    survey_ref="ANN scale path #2: IVF (inverted-file) bucketing — "
    "md5-seeded deterministic centroids, max-cosine assignment, nprobe=2 "
    "probing; candidate set shrinks ~k_clusters/nprobe vs brute force",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "vec_id", "embedding", query_pred=F.col("vec_id") % 100 == 0,
        k=5, k_clusters=8, nprobe=2,
    )


#: DuckDB twin of operators.similarity.lsh_buckets as a reusable CTE body
_SQL_BUCKETS = """
    proj AS (
      SELECT c.id, p.j AS plane,
             SUM(c.comp * (CASE WHEN ('0x' || substr(md5(CAST(p.j AS VARCHAR) || '-' || CAST(c.pos AS VARCHAR)), 1, 1))::BIGINT % 2 = 1
                           THEN 1 ELSE -1 END)) AS pr
      FROM comp c, range(0, 8) p(j)
      GROUP BY c.id, p.j),
    buckets AS (
      SELECT id,
             CAST(SUM(CASE WHEN pr > 0 THEN 1::BIGINT << CAST(plane AS INT) ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY id)
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_SQL_COMP},
    norms AS (SELECT id, SUM(comp * comp) AS n2 FROM comp GROUP BY id
              HAVING SUM(comp * comp) > 0),
    {_SQL_BUCKETS},
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.id < b.id),
    dots AS (
      SELECT cand.id_a, cand.id_b, SUM(ca.comp * cb.comp) AS dot
      FROM cand
      JOIN comp ca ON ca.id = cand.id_a
      JOIN comp cb ON cb.id = cand.id_b AND cb.pos = ca.pos
      GROUP BY 1, 2)
    SELECT d.id_a, d.id_b,
           CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS sim
    FROM dots d
    JOIN norms na ON na.id = d.id_a
    JOIN norms nb ON nb.id = d.id_b
    WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.3
    """,
    survey_ref="embedding-cosine near-dup pairs: LSH-bucket candidate "
    "blocking + exact decimal cosine (threshold 0.3 exercises the plan on "
    "the synthetic vectors, which carry no planted dups — the threshold is "
    "a parameter in production)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # planes PINNED to the oracle's 8 (_SQL_BUCKETS hard-codes range(0, 8)):
    # a live log2(N) dial here would silently compute a DIFFERENT function
    # than the oracle on any >=5k-vector input and fail the gate spuriously
    # (round-6 review finding). The planes-vs-corpus dial itself stays a
    # first-class, MEASURED operator knob — cosine_dup_pairs(planes=...) +
    # planes_for(), with the 10x slope evidence in SCALE.md — it just is
    # not wired to this fixed-configuration correctness gate.
    return cosine_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.3, planes=8
    )


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH tok AS (
      SELECT 'lang:' || lang AS key, text AS tok FROM documents
      UNION ALL
      SELECT 'src:' || source AS key, lang AS tok FROM documents),
    h AS (
      SELECT DISTINCT key, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
      FROM tok),
    r AS (
      SELECT key, hv, row_number() OVER (PARTITION BY key ORDER BY hv) AS pos
      FROM h),
    sk AS (SELECT key, hv, pos FROM r WHERE pos <= 64),
    agg AS (
      SELECT key, COUNT(*) AS n_seen,
             MAX(CASE WHEN pos = 64 THEN hv END) AS kth_min
      FROM sk GROUP BY key)
    SELECT key, CAST(n_seen AS BIGINT) AS n_seen, kth_min,
           CAST(CASE WHEN n_seen < 64 THEN n_seen
                ELSE (63::HUGEINT * 1152921504606846976::HUGEINT)
                     // nullif(kth_min, 0)
                END AS BIGINT) AS est_distinct
    FROM agg
    """,
    survey_ref="KMV (k-minimum-values) distinct-count sketch (operators/"
    "sketches.kmv_distinct): the deterministic alternative to HLL — the k "
    "smallest md5 values per group are a pure function of the data, so "
    "sketch AND estimate are engine-identical and partitioning-invariant "
    "(HLL internals never hash-match across engines). Estimate "
    "(k-1)*M div h_(k), exact-count fallback below k; per-group vocabulary "
    "estimation: distinct TEXTS per lang (cardinality > k: exercises the "
    "(k-1)*M div h_(k) estimator — dedup-cardinality estimation, the "
    "pass a corpus pipeline runs before committing to a full dedup) AND "
    "distinct langs per source (< k: the exact fallback). Map-side-"
    "combined hash dedup + bounded rank<=k window — k rows per group "
    "leave the shuffle",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_distinct

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.concat(F.lit("lang:"), F.col("lang")).alias("key"),
        F.col("text").alias("tok"),
    ).unionByName(
        docs.select(
            F.concat(F.lit("src:"), F.col("source")).alias("key"),
            F.col("lang").alias("tok"),
        )
    )
    return kmv_distinct(tok, "key", "tok", k=64)


_CHUNK_W, _CHUNK_STRIDE = 40, 25  # window/stride in tokens (overlap 15)


@register(
    "txt_chunk_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    nn AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
    st AS (
      SELECT doc_id, toks, n,
             unnest(range(1, n + 1, {_CHUNK_STRIDE})) AS start
      FROM nn)
    SELECT doc_id,
           CAST((start - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(start AS INTEGER) AS start_tok,
           CAST(LEAST({_CHUNK_W}, n - start + 1) AS INTEGER) AS n_toks,
           md5(array_to_string(list_slice(toks, start, start + {_CHUNK_W} - 1), ' ')) AS chunk_fp
    FROM st
    """,
    survey_ref="document chunking into overlapping token windows (RAG "
    "indexing / long-document splitting): per-doc window starts via an "
    "in-row sequence + explode, per-chunk token slice + md5 fingerprint — "
    "all codegen column math, zero shuffles (chunk rows leave the scan "
    "partition that holds the document). Window/stride are the usual "
    "dials; overlap = window - stride",
)
def txt_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= 1)
    st = t.select(
        "doc_id", "toks", "n",
        F.posexplode(
            F.sequence(F.lit(1), F.col("n"), F.lit(_CHUNK_STRIDE))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK_W)
    return st.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start_tok"),
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("start") + 1)
        .cast("int").alias("n_toks"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


@register(
    "txt_hash_embedding",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok)
    SELECT doc_id, CAST(hv % 16 AS INTEGER) AS pos,
           CAST(SUM(CASE WHEN (hv >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS val
    FROM h GROUP BY 1, 2
    """,
    survey_ref="feature-hashing text embedding (operators/similarity."
    "feature_hash_embed): tokens -> bucket md5%dim with an independent "
    "sign bit, vector = per-bucket signed count — fixed-dim vectors with "
    "no vocabulary/training/driver state (the hashing trick), bridging "
    "the text stack into the similarity/dedup stack. One explode + one "
    "hash agg, integer-exact",
)
def txt_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import feature_hash_embed

    docs = load_table(spark, sf_dir, "documents")
    return feature_hash_embed(docs, "doc_id", "text", dim=16).select(
        F.col("id").alias("doc_id"), "pos", "val"
    )


@register(
    "ann_kmeans_refine",
    oracle=f"""
    WITH {_SQL_COMP},
    {_SQL_IVF_ASG},
    rcent AS (
      SELECT a.cluster, c.pos, CAST(SUM(c.comp) // COUNT(*) AS BIGINT) AS ccomp
      FROM asg a JOIN comp c ON c.id = a.id
      GROUP BY a.cluster, c.pos),
    rn2 AS (
      SELECT cluster, SUM(ccomp * ccomp) AS cn2 FROM rcent
      GROUP BY cluster HAVING SUM(ccomp * ccomp) > 0),
    rsim AS (
      SELECT v.id, t.cluster,
             CAST(t.dot AS DOUBLE) / sqrt(CAST(v.n2 AS DOUBLE) * CAST(r.cn2 AS DOUBLE)) AS sim
      FROM (
        SELECT c.id, rc.cluster, SUM(c.comp * rc.ccomp) AS dot
        FROM comp c JOIN rcent rc ON rc.pos = c.pos
        GROUP BY 1, 2) t
      JOIN norms v ON v.id = t.id
      JOIN rn2 r ON r.cluster = t.cluster),
    rasg AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               row_number() OVER (PARTITION BY id ORDER BY sim DESC, cluster ASC) AS rn
        FROM rsim)
      WHERE rn = 1)
    SELECT r.id AS vec_id, r.cluster, a.cluster AS cluster0
    FROM rasg r JOIN asg a USING (id)
    """,
    survey_ref="Lloyd-refined clustering (operators/similarity."
    "kmeans_refine_assign): one exact-integer Lloyd round over the "
    "md5-seeded centroids — new centroid = element-wise TRUNCATED mean "
    "(div, identical in both engines) back onto the micro-unit grid, "
    "then cosine reassignment. An iterative algorithm as a deterministic "
    "relational plan; the index-quality upgrade for IVF/SemDeDup",
)
def ann_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_refine_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_refine_assign(
        emb, "vec_id", "embedding", k_clusters=8, iters=1
    ).select(F.col("id").alias("vec_id"), "cluster", "cluster0")


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_SQL_COMP},
    {_SQL_IVF_ASG},
    cpairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM asg a JOIN asg b USING (cluster)
      WHERE a.id < b.id),
    dots AS (
      SELECT p.id_a, p.id_b, SUM(ca.comp * cb.comp) AS dot
      FROM cpairs p
      JOIN comp ca ON ca.id = p.id_a
      JOIN comp cb ON cb.id = p.id_b AND cb.pos = ca.pos
      GROUP BY 1, 2),
    dropped AS (
      SELECT DISTINCT d.id_b
      FROM dots d
      JOIN norms na ON na.id = d.id_a
      JOIN norms nb ON nb.id = d.id_b
      WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.3)
    SELECT a.id AS vec_id, a.cluster, (dr.id_b IS NULL) AS kept
    FROM asg a LEFT JOIN dropped dr ON dr.id_b = a.id
    """,
    survey_ref="SemDeDup-style semantic deduplication (operators/"
    "similarity.semantic_dedup): md5-seeded deterministic centroids (shared "
    "with IVF), max-cosine cluster assignment, within-cluster-only pair "
    "comparison, min-id survivor. Candidate cost sum(|cluster|^2)/2 vs "
    "N^2/2 — the clustering IS the scale story; the oracle recomputes the "
    "full within-cluster pair set in SQL (threshold 0.3 exercises the plan "
    "on the synthetic vectors, a parameter in production)",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.3, k_clusters=8
    ).select(F.col("id").alias("vec_id"), "cluster", "kept")


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST((CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END)
                 * 1152921504606846976.0 AS BIGINT)
    """,
    survey_ref="deterministic stratified sampling: per-stratum md5-threshold "
    "keep rates (reproducible corpus mixing; filter runs at the scan, no "
    "shuffle, no RNG state)",
)
def sample_stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sample_stratified

    docs = load_table(spark, sf_dir, "documents")
    return sample_stratified(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default_rate=0.1
    ).select("doc_id", "lang")


@register(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id AS item_id,
           unnest(range(0, n_chars - 1 + 1, 30)) AS frame_idx
    FROM documents WHERE n_chars > 0
    """,
    survey_ref="multimodal frame-sampling plan (operators/multimodal."
    "frame_sample_plan): sampled indices are pure JVM column math; only the "
    "decode of SAMPLED frames crosses the Python boundary (documents stand "
    "in as media metadata: n_frames := n_chars)",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("item_id"), F.col("n_chars").alias("n_frames")
    )
    return frame_sample_plan(docs, "item_id", "n_frames", every_k=30)


@register(
    "corpus_select",
    oracle="""
    WITH canon AS (
      SELECT md5(text) AS fp, MIN(doc_id) AS keep_id
      FROM documents GROUP BY md5(text))
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    JOIN canon ON canon.fp = md5(d.text) AND canon.keep_id = d.doc_id
    WHERE d.n_chars >= 100
      AND d.lang IN ('en', 'de', 'fr')
      AND ('0x' || substr(md5('corpus-v1|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          < CAST((CASE d.lang WHEN 'en' THEN 0.8 ELSE 0.5 END)
                 * 1152921504606846976.0 AS BIGINT)
    """,
    survey_ref="end-to-end corpus selection: exact-dedup keep-one + length "
    "floor + language whitelist + deterministic per-language sampling — the "
    "composed filter a real training-data pipeline runs before tokenization",
)
def corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sample_stratified

    docs = load_table(spark, sf_dir, "documents")
    canon = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"))
    )
    kept = docs.join(
        canon,
        (F.md5(docs["text"]) == canon["fp"]) & (docs["doc_id"] == canon["keep_id"]),
        "left_semi",
    )
    filtered = kept.filter(
        (F.col("n_chars") >= 100) & F.col("lang").isin("en", "de", "fr")
    )
    return sample_stratified(
        filtered, "doc_id", "lang", {"en": 0.8}, default_rate=0.5,
        salt="corpus-v1",
    ).select("doc_id", "lang", "n_chars")
