"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts Spark the way the program does (`session.get_spark`), runs the
workload's operation back to back until `--seconds` have passed (at least
once), checks every output against the generator's manifest and prints, as
the last line of stdout, one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
metrics of a separate traced run). Lines before it are for people.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (name, unit) of every end-to-end metric, reported on every workload
END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "items/s"),
    ("peak_rss_mb", "MB"),
]

#: the workloads, as BENCHMARK.json lists them
WORKLOADS = ["mev_backfill", "corpus_dedup"]

#: operator layers of the corpus workload: each reports .s, .jobs, .tasks
CORPUS_OPERATORS = [
    "exact_dedup", "minhash_lsh_pairs", "verify_levenshtein", "connected_components",
    "pack_sequences",
]

#: (name, unit) of every per-layer metric; a layer a workload never calls
#: reports 0
PER_LAYER = [
    ("session.get_spark.s", "s"),
    ("inspectors.composer.s", "s"),
    ("inspectors.run_composer.jobs", "count"),
    ("inspectors.run_composer.stages", "count"),
    ("inspectors.run_composer.tasks", "count"),
    ("inspectors.accounting.s", "s"),
    ("inspectors.sandwich.s", "s"),
    ("inspectors.jit.s", "s"),
    ("inspectors.liquidations.s", "s"),
    ("inspectors.cex_dex.s", "s"),
    ("inspectors.atomic_arb.s", "s"),
    ("inspectors.bundles_out", "count"),
    ("inspectors.dedup_kept_frac", "fraction"),
    ("sources.sinks.s", "s"),
    ("sources.sinks.jobs", "count"),
    ("functions.gopher_rules.s", "s"),
    ("functions.gopher_rules.kept_frac", "fraction"),
    *[(f"operators.{op}.{k}", u) for op in CORPUS_OPERATORS
      for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"))],
    ("operators.lsh_verified_frac", "fraction"),
    ("trace.op_s", "s"),
]


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def say(*parts) -> None:
    print(*parts, flush=True)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "brontes_spark")):
        print(f"no brontes_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness as H

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = H.fit_environment(ROOT, work)
    say("environment:", json.dumps(env))
    try:
        return _run(args, H, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, H, work: str) -> int:
    import workloads as W

    wl = W.WORKLOADS[args.workload](args.seed, work)
    t0 = time.monotonic()
    wl.generate()
    say(f"generated {wl.describe()} in {time.monotonic() - t0:.2f} s")

    spark, setup_s = H.start_spark()
    say(f"setup_s {setup_s:.3f}")
    try:
        if args.trace:
            res = _traced(args, H, spark, wl, setup_s)
        else:
            res = _timed(args, H, spark, wl, setup_s)
    finally:
        H.stop_spark(spark)
    print(json.dumps(res), flush=True)
    return 0


def _timed(args, H, spark, wl, setup_s: float) -> dict:
    tracer = H.Tracer(spark, False, H.new_run_id())
    ops = attempted = failed = 0
    items = busy = 0.0
    with H.RssSampler(H.jvm_pid(spark)) as rss:
        t_start = time.monotonic()
        while ops == 0 or time.monotonic() - t_start < args.seconds:
            r = wl.operation(spark, tracer)
            ops += 1
            attempted += r.attempted
            failed += r.failed
            items += r.items
            busy += r.seconds
            for e in r.errors[:20]:
                say("MISMATCH", e)
            say(r.summary)
    metrics = {
        "setup_s": setup_s,
        "items_per_s": items / busy if busy > 0 else 0.0,
        "peak_rss_mb": rss.peak_mb,
    }
    say(f"{wl.item}s per second: {metrics['items_per_s']:.4f} "
        f"({items:.0f} {wl.item}s in {busy:.3f} s)")
    return dict(correct=failed == 0, attempted=attempted, failed=failed,
                metrics={n: {"value": metrics[n], "unit": u} for n, u in END_TO_END})


def _traced(args, H, spark, wl, setup_s: float) -> dict:
    """One traced operation, started cold as in the untraced runs. Its wall
    time minus an untraced run's operation time (same seed) is the tracing
    overhead."""
    run_id = H.new_run_id()
    tracer = H.Tracer(spark, True, run_id)
    with tracer.span("run"):
        r = wl.operation(spark, tracer)
    tracer.collect_counts()
    for e in r.errors[:20]:
        say("MISMATCH", e)
    say(r.summary)
    layer = _layer_metrics(tracer, r.layer)
    layer["session.get_spark.s"] = setup_s
    layer["trace.op_s"] = r.seconds
    _print_self_times(tracer)
    say(f"traced operation {r.seconds:.3f} s; the untraced one is items / items_per_s "
        f"of a --trace 0 run with the same seed")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}-{run_id}.json")
    with open(path, "w") as f:
        json.dump(tracer.spans, f, indent=1)
    say(f"spans written to {os.path.relpath(path, ROOT)}")
    return dict(correct=r.failed == 0, attempted=r.attempted, failed=r.failed,
                metrics={n: {"value": layer.get(n, 0), "unit": u} for n, u in PER_LAYER})


def _layer_metrics(tracer, extra: dict) -> dict:
    """Per span name: summed wall time and the job/stage/task counts of its
    own job group. `inspectors.run_composer.*` counts the composer span with
    the inspector spans inside it."""
    out: dict = {}
    for s in tracer.spans:
        name = s["name"]
        if name == "run":
            continue
        out[f"{name}.s"] = out.get(f"{name}.s", 0.0) + (s["end"] - s["start"])
        for k in ("jobs", "stages", "tasks"):
            out[f"{name}.{k}"] = out.get(f"{name}.{k}", 0) + s[k]
    for s in tracer.spans:
        if s["name"] == "inspectors.composer":
            for d in [s, *tracer.descendants(s["id"])]:
                for k in ("jobs", "stages", "tasks"):
                    key = f"inspectors.run_composer.{k}"
                    out[key] = out.get(key, 0) + d[k]
    out.update(extra)
    return out


def _print_self_times(tracer) -> None:
    self_t = tracer.self_times()
    rows: dict[str, list] = {}
    for s in tracer.spans:
        r = rows.setdefault(s["name"], [0.0, 0.0, 0, 0, 0])
        r[0] += s["end"] - s["start"]
        r[1] += self_t[s["id"]]
        r[2] += s["jobs"]
        r[3] += s["stages"]
        r[4] += s["tasks"]
    total = rows["run"][0]
    say(f"{'layer':<36} {'wall s':>9} {'self s':>9} {'self %':>7} {'jobs':>5} "
        f"{'stages':>6} {'tasks':>6}")
    for name, (wall, st, j, g, t) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        say(f"{name:<36} {wall:9.3f} {st:9.3f} {100 * st / total:6.1f}% {j:5d} {g:6d} {t:6d}")
    say(f"self times sum to {sum(v[1] for v in rows.values()):.3f} s of {total:.3f} s traced")


if __name__ == "__main__":
    sys.exit(main())
