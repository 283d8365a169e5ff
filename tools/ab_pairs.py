#!/usr/bin/env python3
"""Paired A/B runs of one benchmark workload: a parent checkout against a
change checkout.

    python3 tools/ab_pairs.py <parent_dir> <change_dir> --workload <name> \
        --pairs N --seed-base S [--trace 0|1]

Pair i runs `perfbench/run.py` once in each checkout with seed S + i,
alternating which side goes first (even pairs: parent first). Run length
is the parent's `BENCHMARK.json` `run_seconds`, the same on both sides.
Each pair prints one JSON line as it finishes; the end prints, per metric,
each side's median and quartiles, the median difference (change − parent)
against the parent's interquartile range, and how many pairs the change
won (ties count for neither side). A gain is claimed only when the change
wins at least nine tenths of the pairs and the medians differ by more than
the parent's IQR, in the metric's better direction. Which direction is
better comes from `BENCHMARK.json` (`end_to_end` with --trace 0,
`per_layer` with --trace 1).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One `perfbench/run.py` in `checkout`; its result object, or None."""
    proc = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", trace],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"run failed in {checkout} (seed {seed}):\n{proc.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed-base", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = bench["end_to_end" if args.trace == "0" else "per_layer"]
    better = {m["name"]: m["better"] for m in declared}
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    failed = {"parent": 0, "change": 0}
    attempted = {"parent": 0, "change": 0}
    pairs = []  # per pair: {side: {metric: value}}
    for i in range(args.pairs):
        seed = args.seed_base + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {s: run(sides[s], args.workload, seed, bench["run_seconds"], args.trace)
               for s in order}
        line = {"pair": i, "seed": seed, "first": order[0]}
        for s in order:
            r = got[s]
            line[s] = r
            if r is None:
                continue
            failed[s] += r["failed"]
            attempted[s] += r["attempted"]
        print(json.dumps(line), flush=True)
        if all(got[s] is not None for s in sides):
            pairs.append({s: {k: v["value"] for k, v in got[s]["metrics"].items()}
                          for s in sides})

    print(f"\n{args.workload}: {len(pairs)} complete pairs of {args.pairs}, seeds "
          f"{args.seed_base}..{args.seed_base + args.pairs - 1}, run_seconds "
          f"{bench['run_seconds']}, trace {args.trace}")
    print(f"failed/attempted: parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")
    if not pairs:
        return 1
    print(f"{'metric':44} {'parent med [q1, q3]':>26} {'change med [q1, q3]':>26} "
          f"{'diff':>9} {'par IQR':>8} {'wins':>6}  gain")
    for name in sorted(set(pairs[0]["parent"]) & set(pairs[0]["change"])):
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        p = [pr["parent"][name] for pr in pairs]
        c = [pr["change"][name] for pr in pairs]
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        pm, cm = statistics.median(p), statistics.median(c)
        pq, cq = quartiles(p), quartiles(c)
        iqr = pq[1] - pq[0]
        diff = cm - pm
        gain = wins >= 0.9 * len(pairs) and sign * diff > iqr
        rel = f"{100 * diff / pm:+.1f}%" if pm else "n/a"
        print(f"{name:44} {pm:9.3f} [{pq[0]:.3f}, {pq[1]:.3f}] {cm:9.3f} [{cq[0]:.3f}, {cq[1]:.3f}] "
              f"{rel:>9} {iqr:8.3f} {wins:3}/{len(pairs):<2}  {'yes' if gain else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
