"""Seeded LLM-corpus generator and its expected-answer manifest.

Tokens come from the vocabulary of the repository's `documents` test table
(`vocab.txt`, 31 words). Those 31 words alone are too few for a dedup
benchmark: random documents over them share shingles and bag-of-words
vectors, so every stage would fire on background text. Content tokens are
therefore each vocabulary word plus compounds of two vocabulary words
(`sparkwin`, `joinhas`, ...), Zipf-distributed, with Gopher stopwords mixed
in.

Planted structure (every group uses its own fresh base document):
  * low quality    — too short, or no stopwords: `gopher_rules` drops them
  * exact dups     — identical copies of a base: `exact_dedup` keeps min id
  * near dups      — one word substituted: MinHash/LSH + Levenshtein + CC
                     keep the min id of each group

The generator replays the program's MinHash band signatures (md5 shingle
hashes) in Python to make the planted answers exact: every near dup shares
an LSH band with its base. A draw that breaks this is redrawn.

The corpus shape is an assumption, not a measurement (see README): the
counts below, ZIPF_S, FILLER_P and the 60-180 token document length.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
from pyspark.sql import types as T

from brontes_spark.functions.gopher import STOPWORDS

from arrowio import PARTS, write_rows

N_BACKGROUND = 1200
N_EXACT_GROUPS, EXACT_COPIES = 30, 2
N_NEAR_GROUPS, NEAR_VARIANTS = 30, 2
N_SHORT, N_NO_STOP = 25, 25
N_SHARDS = 8
ZIPF_S = 0.6
FILLER_P = 0.08

#: pipeline parameters the manifest is exact for
SHINGLE_N, NUM_HASHES, BAND_SIZE = 3, 16, 4
LEV_MAX_DIST = 40
CONTEXT_LEN = 2048
#: the stages that remove documents
STAGES = ("gopher", "exact", "fuzzy")

_FILLER = ["the", "of", "and", "to", "with"]

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("shard", T.IntegerType()),
])


def _vocab() -> list[str]:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "vocab.txt")) as f:
        roots = [w for w in f.read().split() if len(w) >= 3 and w not in STOPWORDS]
    return roots + [a + b[:3] for a in roots for b in roots if a != b]


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def band_sigs(text: str) -> list[str]:
    """`operators.dedup._lsh_band_signatures` for one document."""
    toks = [t for t in text.lower().split(" ") if t]
    sh = {_md5_long(" ".join(toks[i:i + SHINGLE_N])) % 2147483647
          for i in range(len(toks) - SHINGLE_N + 1)}
    mh = [min(((2 * s + 1) * b + (s * 1000003 + 12345)) % 2147483647 for b in sh)
          for s in range(NUM_HASHES)]
    return [hashlib.md5(",".join(str(x) for x in mh[b * BAND_SIZE:(b + 1) * BAND_SIZE])
                        .encode()).hexdigest() for b in range(NUM_HASHES // BAND_SIZE)]


class Corpus:
    """Documents `(doc_id, text, shard, kind, group)` in `docs` and the ids
    each stage must remove in `removed`. `scale` shrinks every count (the
    self-tests use it)."""

    def __init__(self, seed: int, scale: float = 1.0):
        self.seed = seed
        self.rng = rng = random.Random(seed)
        self.vocab = _vocab()
        self._cum = list(np.cumsum([1.0 / (i + 1) ** ZIPF_S for i in range(len(self.vocab))]))
        n = lambda k: max(1, int(round(k * scale)))  # noqa: E731

        docs: list[tuple[str, str, int]] = []  # (text, kind, group)
        for _ in range(n(N_BACKGROUND)):
            docs.append((self._doc(), "background", -1))
        for _ in range(n(N_SHORT)):
            docs.append((self._doc(15, 40), "low_quality", -1))
        for _ in range(n(N_NO_STOP)):
            docs.append((self._doc(filler=False), "low_quality", -1))
        for g in range(n(N_EXACT_GROUPS)):
            base = self._doc()
            docs += [(base, "exact", g)] * (1 + EXACT_COPIES)
        for g in range(n(N_NEAR_GROUPS)):
            base = self._doc()
            docs.append((base, "near", g))
            for _ in range(NEAR_VARIANTS):
                docs.append((self._near_variant(base), "near", g))
        texts = [t for t, kind, _ in docs if kind != "exact"]
        if len(set(texts)) != len(texts):
            raise RuntimeError("generator drew the same document twice")

        order = list(range(len(docs)))
        rng.shuffle(order)
        self.docs = []  # (doc_id, text, shard, kind, group)
        for doc_id, k in enumerate(order):
            text, kind, g = docs[k]
            self.docs.append((doc_id, text, rng.randrange(N_SHARDS), kind, g))
        self._manifest()

    # -- drawing --------------------------------------------------------------

    def _word(self) -> str:
        return self.rng.choices(self.vocab, cum_weights=self._cum)[0]

    def _doc(self, lo: int = 60, hi: int = 180, filler: bool = True) -> str:
        while True:
            out = self.rng.choices(self.vocab, cum_weights=self._cum,
                                   k=self.rng.randint(lo, hi))
            if filler:
                for i in range(len(out)):
                    if self.rng.random() < FILLER_P:
                        out[i] = self.rng.choice(_FILLER)
            if filler:  # at least two distinct stopwords, whatever the draw
                out[0], out[-1] = "the", "of"
            return " ".join(out)

    def _near_variant(self, base: str) -> str:
        toks = base.split(" ")
        base_sigs = band_sigs(base)
        while True:
            v = list(toks)
            i = self.rng.randrange(1, len(v) - 1)
            w = self._word()
            if w == v[i]:
                continue
            v[i] = w
            text = " ".join(v)
            if any(a == b for a, b in zip(band_sigs(text), base_sigs)):
                return text

    # -- manifest -------------------------------------------------------------

    def _manifest(self) -> None:
        """The ids each stage must remove."""
        by_group: dict[tuple[str, int], list[int]] = {}
        for doc_id, _, _, kind, g in self.docs:
            if g >= 0:
                by_group.setdefault((kind, g), []).append(doc_id)
        self.removed = {s: set() for s in STAGES}
        stage = {"exact": "exact", "near": "fuzzy"}
        for (kind, _), ids in by_group.items():
            keep = min(ids)
            self.removed[stage[kind]].update(i for i in ids if i != keep)
        for doc_id, _, _, kind, _ in self.docs:
            if kind == "low_quality":
                self.removed["gopher"].add(doc_id)

    def expected(self) -> tuple[list[int], dict[int, int]]:
        """Kept ids, and packed tokens per shard, after every stage."""
        gone = set().union(*self.removed.values())
        kept = sorted(d[0] for d in self.docs if d[0] not in gone)
        tokens: dict[int, int] = {}
        for doc_id, text, shard, _, _ in self.docs:
            if doc_id not in gone:
                tokens[shard] = tokens.get(shard, 0) + len([t for t in text.split(" ") if t])
        return kept, tokens

    def write(self, root: str) -> None:
        write_rows(f"{root}/docs", [dict(doc_id=d, text=t, shard=s)
                                    for d, t, s, _, _ in self.docs], DOC_SCHEMA, PARTS)
