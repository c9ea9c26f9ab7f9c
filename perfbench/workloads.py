"""The workloads: each generates its inputs from the seed, then runs one
operation at a time and checks its output."""

from __future__ import annotations

import shutil
import time
import traceback
from dataclasses import dataclass, field

import check
import gen_corpus
import gen_mev
import wl_corpus
import wl_mev


@dataclass
class OpResult:
    attempted: int
    failed: int
    items: float
    seconds: float
    summary: str
    errors: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)


class MevBackfill:
    """A closed loop with one client running one range job at a time:
    `cli.py run` over a landed range, composer then sinks."""

    item = "block"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.n = 0

    def generate(self) -> None:
        self.inputs = gen_mev.MevInputs(wl_mev.BACKFILL_BLOCKS, self.seed)
        self.inputs.write_backfill(f"{self.work}/in")

    def describe(self) -> str:
        lay = self.inputs.layout
        return (f"{lay.n_blocks} blocks, {self.inputs.n_actions()} actions, "
                f"{len(lay.planted)} planted blocks ({lay.copies()} fixture copies)")

    def operation(self, spark, tracer) -> OpResult:
        self.n += 1
        out = f"{self.work}/out{self.n}"
        t0 = time.monotonic()
        try:
            layer = wl_mev.backfill_job(spark, f"{self.work}/in", out, tracer)
        except Exception as e:  # noqa: BLE001 - a raising job is a failed operation
            return OpResult(1, 1, 0, time.monotonic() - t0, f"range job raised {e!r}",
                            [traceback.format_exc()])
        secs = time.monotonic() - t0
        errs = check.check_backfill(self.inputs, wl_mev.read_outputs(out))
        shutil.rmtree(out, ignore_errors=True)
        n = self.inputs.layout.n_blocks
        return OpResult(1, int(bool(errs)), n, secs,
                        f"range job: {n} blocks in {secs:.3f} s, "
                        f"{'ok' if not errs else f'{len(errs)} mismatches'}", errs, layer)


class CorpusDedup:
    """A closed loop with one client running one curation run at a time."""

    item = "doc"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.n = 0

    def generate(self) -> None:
        self.corpus = gen_corpus.Corpus(self.seed)
        self.corpus.write(f"{self.work}/in")

    def describe(self) -> str:
        c = self.corpus
        return (f"{len(c.docs)} docs; removes "
                + ", ".join(f"{len(c.removed[s])} {s}" for s in gen_corpus.STAGES))

    def operation(self, spark, tracer) -> OpResult:
        self.n += 1
        out = f"{self.work}/out{self.n}"
        t0 = time.monotonic()
        try:
            r = wl_corpus.dedup_run(spark, f"{self.work}/in", out, tracer)
        except Exception as e:  # noqa: BLE001 - a raising run is a failed operation
            return OpResult(1, 1, 0, time.monotonic() - t0, f"dedup run raised {e!r}",
                            [traceback.format_exc()])
        secs = time.monotonic() - t0
        errs = check.check_corpus(self.corpus, wl_corpus.read_packed(out), r["removed"])
        shutil.rmtree(out, ignore_errors=True)
        n = len(self.corpus.docs)
        return OpResult(1, int(bool(errs)), n, secs,
                        f"dedup run: {n} docs in {secs:.3f} s, "
                        f"{'ok' if not errs else f'{len(errs)} mismatches'}",
                        errs, r["metrics"])


WORKLOADS = {"mev_backfill": MevBackfill, "corpus_dedup": CorpusDedup}
