"""Self-tests of the benchmark's generators and checkers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen_corpus  # noqa: E402
import gen_mev  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def tree_digest(root: str) -> str:
    """md5 over every file under `root` (relative path + bytes)."""
    h = hashlib.md5()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _mev_digest(tmp_path, name, seed):
    root = str(tmp_path / name)
    gen_mev.MevInputs(40, seed).write_backfill(root)
    return tree_digest(root)


def test_mev_inputs_repeat_per_seed(tmp_path):
    a = _mev_digest(tmp_path, "a", 7)
    assert a == _mev_digest(tmp_path, "b", 7)
    assert a != _mev_digest(tmp_path, "c", 8)


def test_corpus_repeats_per_seed(tmp_path):
    digests = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen_corpus.Corpus(seed, scale=0.1).write(str(tmp_path / name))
        digests.append(tree_digest(str(tmp_path / name)))
    assert digests[0] == digests[1] != digests[2]


def test_background_cannot_form_mev():
    inp = gen_mev.MevInputs(60, 1)
    for bn in inp.layout.blocks:
        planted = {a["tx_hash"] for a in inp.actions[bn] if not a["tx_hash"].startswith("0xbg")}
        bg = [a for a in inp.actions[bn] if a["tx_hash"].startswith("0xbg")]
        senders = [(a["swap"] or a["transfer"])["from"] for a in bg
                   if a["action_type"] != "revert"]
        assert len(senders) == len(set(senders))  # one tx per EOA
        assert all(a["tx_index"] >= len(planted) for a in bg)  # after planted txs
        for a in bg:
            s = a["swap"]
            if s is not None:
                assert {s["token_in"], s["token_out"]}.isdisjoint(
                    {gen_mev.A, gen_mev.B, gen_mev.DAI, gen_mev.USD})


def _perfect_backfill(inp):
    bundles = []
    for bn in inp.layout.blocks:
        if bn in inp.layout.planted:
            for mev_type, profit, _, _ in gen_mev.PLANTED_BUNDLES[inp.layout.planted[bn][0]]:
                bundles.append(dict(block_number=bn, mev_type=mev_type,
                                    profit_usd=Decimal(profit)))
    return dict(
        bundles=bundles, searcher_stats_bundles=len(bundles),
        block_bundles={bn: inp.expected_block_bundles(bn) for bn in inp.layout.blocks})


def test_backfill_checker_catches_corruption():
    inp = gen_mev.MevInputs(60, 2)
    good = _perfect_backfill(inp)
    assert check.check_backfill(inp, good) == []

    def corrupt(fn):
        bad = copy.deepcopy(good)
        fn(bad)
        return check.check_backfill(inp, bad)

    assert corrupt(lambda o: o["bundles"].pop())
    assert corrupt(lambda o: o["bundles"][0].update(profit_usd=Decimal("87.99")))
    assert corrupt(lambda o: o["bundles"][0].update(mev_type="jit"))
    assert corrupt(lambda o: o["block_bundles"].pop(inp.layout.blocks[0]))
    assert corrupt(lambda o: o.update(searcher_stats_bundles=0))


def test_corpus_checker_catches_corruption():
    c = gen_corpus.Corpus(5, scale=0.1)
    kept, tokens = c.expected()
    good_packed = dict(kept=kept, per_shard={s: (t, t) for s, t in tokens.items()})
    good_removed = {k: set(v) for k, v in c.removed.items()}
    assert check.check_corpus(c, good_packed) == []
    assert check.check_corpus(c, good_packed, good_removed) == []

    for stage in gen_corpus.STAGES:
        bad = {k: set(v) for k, v in good_removed.items()}
        bad[stage].add(-1)
        assert check.check_corpus(c, good_packed, bad)
    assert check.check_corpus(c, dict(good_packed, kept=kept[1:]))
    assert check.check_corpus(c, dict(good_packed, kept=kept + [-1]))
    shard = next(iter(tokens))
    assert check.check_corpus(c, dict(
        good_packed, per_shard={**good_packed["per_shard"], shard: (0, 0)}))


def test_planted_near_dups_share_an_lsh_band():
    c = gen_corpus.Corpus(6, scale=0.1)
    groups = {}
    for _, text, _, kind, g in c.docs:
        if kind == "near":
            groups.setdefault(g, []).append(gen_corpus.band_sigs(text))
    def share(x, y):
        return any(a == b for a, b in zip(x, y))

    for sigs in groups.values():  # the base shares a band with every variant
        assert any(all(share(x, y) for y in sigs if y is not x) for x in sigs)


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
