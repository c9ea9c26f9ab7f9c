"""Output checks against the generators' manifests. Each check returns a
list of mismatch descriptions; an empty list means the output is right."""

from __future__ import annotations

from collections import defaultdict
from decimal import Decimal


def bundle_totals(bundles: list[dict]) -> dict[str, tuple[int, Decimal]]:
    out: dict[str, list] = defaultdict(lambda: [0, Decimal(0)])
    for b in bundles:
        out[b["mev_type"]][0] += 1
        out[b["mev_type"]][1] += Decimal(b["profit_usd"])
    return {k: (v[0], v[1]) for k, v in out.items()}


def _diff(what: str, got: dict, want: dict) -> list[str]:
    return [f"{what} {k}: got {got.get(k)}, want {want.get(k)}"
            for k in sorted(set(got) | set(want), key=str) if got.get(k) != want.get(k)]


def check_backfill(inputs, out: dict) -> list[str]:
    """`out` as `wl_mev.read_outputs` returns it."""
    errs = _diff("bundles", bundle_totals(out["bundles"]), inputs.expected_bundles())
    want_blocks = {bn: inputs.expected_block_bundles(bn) for bn in inputs.layout.blocks}
    errs += _diff("block report", out["block_bundles"], want_blocks)
    n = sum(v[0] for v in inputs.expected_bundles().values())
    if out["searcher_stats_bundles"] != n:
        errs.append(f"searcher stats: got {out['searcher_stats_bundles']} bundles, want {n}")
    return errs


def check_corpus(corpus, packed: dict, removed: dict[str, set[int]] | None = None) -> list[str]:
    """`packed` as `wl_corpus.read_packed` returns it: the kept set and each
    shard's token total and end offset. `removed`, the ids each stage
    removed (traced runs only), is checked stage by stage too."""
    errs = []
    for stage, got in (removed or {}).items():
        want = corpus.removed[stage]
        if got != want:
            errs.append(f"{stage}: removed {len(got)}, want {len(want)}; "
                        f"{len(got - want)} wrong, {len(want - got)} missed")
    kept, tokens = corpus.expected()
    if packed["kept"] != kept:
        errs.append(f"packed docs: {len(packed['kept'])}, want {len(kept)}")
    for shard, (n, end) in packed["per_shard"].items():
        if n != tokens.get(shard) or end != tokens.get(shard):
            errs.append(f"shard {shard}: {n} tokens ending at {end}, want {tokens.get(shard)}")
    if set(packed["per_shard"]) != set(tokens):
        errs.append("packed shards differ")
    return errs
