"""Corpus-dedup workload: one curation run over a seeded corpus, wiring the
program's text filters and dedup operators in the order a pretraining
pipeline runs them, through a parquet write of the packed corpus.

Each stage writes its surviving documents to parquet and the next stage
reads them back, as `cli.py corpus run` runs one operator per invocation
with `--out`. A traced run also collects the ids each stage removed and
counts rows for the per-layer ratios, after the timed stages."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from brontes_spark.functions.gopher import gopher_rules
from brontes_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from brontes_spark.operators.fuzzy import verify_pairs_levenshtein
from brontes_spark.operators.graph_cc import connected_components
from brontes_spark.operators.packing import pack_sequences

import gen_corpus as G
from arrowio import read_rows


def dedup_run(spark, inp: str, out: str, tracer) -> dict:
    """Returns the per-layer ratios and, traced, the ids each stage removed."""
    shutil.rmtree(out, ignore_errors=True)
    traced = tracer.enabled
    docs = spark.read.parquet(f"{inp}/docs")
    stages = [("input", docs)]

    def land(df, name: str | None = None):
        """Write a stage's output and read it back."""
        name = name or f"s{len(stages)}"
        df.write.mode("overwrite").parquet(f"{out}/{name}")
        return spark.read.parquet(f"{out}/{name}")

    with tracer.span("functions.gopher_rules"):
        cur = land(docs.filter(gopher_rules(F.col("text"))["gopher_pass"]))
    stages.append(("gopher", cur))

    with tracer.span("operators.exact_dedup"):
        keep = exact_dedup(cur, "doc_id", F.md5("text")).select(
            F.col("canonical_id").alias("doc_id"))
        cur = land(cur.join(keep, "doc_id", "left_semi"))
    stages.append(("exact", cur))

    with tracer.span("operators.minhash_lsh_pairs"):
        cand = land(minhash_lsh_pairs(cur, "doc_id", "text", n=G.SHINGLE_N,
                                      num_hashes=G.NUM_HASHES, band_size=G.BAND_SIZE),
                    "candidates")
    with tracer.span("operators.verify_levenshtein"):
        verified = land(verify_pairs_levenshtein(cand, cur, "doc_id", "text", G.LEV_MAX_DIST),
                        "verified")
    with tracer.span("operators.connected_components"):
        comps = land(connected_components(verified, src="id_a", dst="id_b"), "components")
        dup = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"))
        cur = land(cur.join(dup, "doc_id", "left_anti"))
    stages.append(("fuzzy", cur))

    with tracer.span("operators.pack_sequences"):
        toks = cur.withColumn("n_tokens", F.size(F.filter(
            F.split(F.lower("text"), " "), lambda x: x != F.lit(""))))
        packed = pack_sequences(toks, "doc_id", "n_tokens", "shard", G.CONTEXT_LEN)
        packed.write.mode("overwrite").parquet(f"{out}/packed")

    if not traced:
        return dict(metrics={}, removed=None)
    ids = [(name, {r[0] for r in df.select("doc_id").collect()}) for name, df in stages]
    removed = {name: before - after for (_, before), (name, after) in zip(ids, ids[1:])}
    n_cand = cand.count()
    return dict(removed=removed, metrics={
        "functions.gopher_rules.kept_frac": len(ids[1][1]) / len(ids[0][1]),
        "operators.lsh_verified_frac": verified.count() / n_cand if n_cand else 1.0,
    })


def read_packed(out: str) -> dict:
    """The packed corpus, read with pyarrow (no Spark job)."""
    rows = read_rows(f"{out}/packed", ["id", "shard", "n_tokens", "start_offset"])
    per_shard: dict[int, list[int]] = {}
    for r in rows:
        t = per_shard.setdefault(r["shard"], [0, 0])
        t[0] += r["n_tokens"]
        t[1] = max(t[1], r["start_offset"] + r["n_tokens"])
    return dict(kept=sorted(r["id"] for r in rows),
                per_shard={s: tuple(v) for s, v in per_shard.items()})
