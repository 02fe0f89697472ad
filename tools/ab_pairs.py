#!/usr/bin/env python3
"""Paired A/B runs of the pipeline benchmark: a parent checkout against a
change checkout.

    python3 tools/ab_pairs.py --parent ../parent --change . --pairs 10 \\
        --workload remote_small --seconds 12

Each pair runs `perfbench/run.py` once in each checkout with the same fresh
seed (first seed, first seed + 1, ...), alternating which side goes first.
Both checkouts build and keep their own `.perfbench/` state. For every
workload x metric it prints each side's median and quartiles, how many pairs
the change won and tied, and two verdicts:

- `gain`: the change wins at least nine tenths of the pairs (ties count for
  neither side) and its median beats the parent's by more than the parent's
  interquartile range;
- `bound` (end-to-end metrics): the change's median is not worse than the
  parent's by more than the bound `BENCHMARK.json` fixes for the metric.

The direction of each metric (`better`) and the bounds come from the
change's `BENCHMARK.json`. `--trace 1` passes through to `perfbench/run.py`,
so the per-layer metrics (`spark.jobs`, `destinations.commit_driver_ms`, ...)
get paired medians and win counts too; they have no bound, so their `bound`
column reads `-`. The exit code is non-zero when any run reports
`correct: false` or prints no result.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def run_side(checkout, workload, seed, seconds, trace):
    """Runs the benchmark once in `checkout`; returns its result line (a
    dict) or None when it printed none."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    result["exit"] = p.returncode
    return result


def metric_values(result, workload):
    """{workload.metric: value}; a single-workload run has no prefix."""
    prefix = "" if workload == "all" else workload + "."
    return {prefix + k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    return better, bounds


def verdicts(parent, change, better, bound):
    """(wins, ties, gain holds, within bound or None) for paired samples."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    ties = sum(1 for p, c in zip(parent, change) if c == p)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    gain = wins >= math.ceil(0.9 * len(parent)) and sign * (c_med - p_med) > p_q3 - p_q1
    within = None
    if bound is not None:
        worse_by = -sign * (c_med - p_med) / abs(p_med) if p_med else 0.0
        within = worse_by <= bound
    return wins, ties, gain, within


def fmt(x):
    return f"{x:.4g}"


def report(samples, better, bounds, pairs):
    """Prints one row per workload.metric that both sides reported."""
    print(f"{'metric':44} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} "
          f"{'d med':>8} {'wins/ties':>9} {'gain':>5} {'bound':>5}")
    for key in sorted(samples):
        parent, change = samples[key]["parent"], samples[key]["change"]
        if len(parent) != pairs or len(change) != pairs:
            continue
        name = key.split(".", 1)[1]
        if name not in better:
            continue
        p_q1, p_med, p_q3 = quartiles(parent)
        c_q1, c_med, c_q3 = quartiles(change)
        wins, ties, gain, within = verdicts(parent, change, better[name], bounds.get(name))
        delta = f"{(c_med - p_med) / abs(p_med):+.1%}" if p_med else "n/a"
        p_cell = f"{fmt(p_med)} [{fmt(p_q1)}, {fmt(p_q3)}]"
        c_cell = f"{fmt(c_med)} [{fmt(c_q1)}, {fmt(c_q3)}]"
        print(f"{key:44} {p_cell:>30} {c_cell:>30} {delta:>8} {f'{wins}/{ties}':>9} "
              f"{'yes' if gain else 'no':>5} "
              f"{'-' if within is None else 'ok' if within else 'WORSE':>5}")


def main():
    a = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    a.add_argument("--parent", required=True, help="checkout of the parent commit")
    a.add_argument("--change", required=True, help="checkout of the change")
    a.add_argument("--pairs", type=int, required=True)
    a.add_argument("--workload", default="all",
                   choices=["etl", "delta_upsert", "remote_small", "all"])
    a.add_argument("--seconds", type=float, default=12)
    a.add_argument("--first-seed", type=int, default=1)
    a.add_argument("--trace", type=int, choices=[0, 1], default=0,
                   help="1: per-layer metrics too (perfbench/run.py --trace 1)")
    a.add_argument("--raw", help="also write every run's result line to this JSON file")
    args = a.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    better, bounds = directions(sides["change"])

    samples, runs, bad = {}, [], []
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            t0 = time.time()
            result = run_side(sides[side], args.workload, seed, args.seconds, args.trace)
            ok = result is not None and result.get("correct") is True
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  f"{'correct' if ok else 'FAILED'} ({time.time() - t0:.0f} s)",
                  file=sys.stderr, flush=True)
            runs.append({"pair": i + 1, "seed": seed, "side": side, "result": result})
            if not ok:
                bad.append(f"pair {i + 1} {side}")
            if result is None:
                continue
            for k, v in metric_values(result, args.workload).items():
                samples.setdefault(k, {"parent": [], "change": []})[side].append(v)
    if args.raw:
        with open(args.raw, "w") as fh:
            json.dump(runs, fh, indent=1)
    report(samples, better, bounds, args.pairs)
    if bad:
        print(f"runs without a correct result: {', '.join(bad)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
