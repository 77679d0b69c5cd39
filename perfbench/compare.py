#!/usr/bin/env python3
"""Paired parent/change comparison with this benchmark.

    python3 perfbench/compare.py <parent_tree> <change_tree> --workload <w>
        [--pairs 10] [--seed 1000] [--trace 0]

Both trees are full checkouts (e.g. from `git archive`). This directory is
copied over `perfbench/` in each, so both sides run identical benchmark
code. Each pair runs one seed on both sides, alternating which side goes
first. Prints, per metric: each side's median and quartiles, the pairs the
change won, and a verdict by the rules in README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def run(tree, args, seed):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload,
         "--seed", str(seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace)],
        cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed in {tree} (seed {seed}):\n{p.stderr[-2000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    if not line["correct"]:
        print(f"warning: {tree} seed {seed} reported incorrect results")
    return {k: m["value"] for k, m in line["metrics"].items()}


def verdict(parent, change, better, bound):
    """(pairs the change won, verdict). A gain needs at least ten pairs, 9
    in 10 wins and a median shift beyond the parent's quartile spread. A
    regression is a median worse by more than the bound, reported as
    unresolved when the parent's own spread is wider than the bound and not
    every pair lost."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    pm, cm = stats.median(parent), stats.median(change)
    q1, q3 = stats.quartiles(parent)
    if (len(parent) >= 10 and wins >= 0.9 * len(parent)
            and abs(pm - cm) > q3 - q1):
        return wins, "gain"
    if bound is None or sign * (cm - pm) <= bound * abs(pm):
        return wins, "-" if bound is None else "within bound"
    if q3 - q1 > bound * abs(pm) and wins > 0:
        return wins, "unresolved"
    return wins, "regression"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    args.seconds = bench["run_seconds"]
    declared = {m["name"]: m for m in
                bench["per_layer" if args.trace else "end_to_end"]}
    skip = shutil.ignore_patterns("target", "__pycache__")
    for tree in (args.parent, args.change):
        shutil.copytree(HERE, os.path.join(tree, "perfbench"),
                        dirs_exist_ok=True, ignore=skip)
        shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tree)
    got = {args.parent: [], args.change: []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = [args.parent, args.change][:: 1 if i % 2 == 0 else -1]
        for tree in order:
            got[tree].append(run(tree, args, seed))
        print(f"pair {i + 1}/{args.pairs} done (seed {seed})", file=sys.stderr)
    print(f"{'metric':28s} {'parent median [q1, q3]':>32s} "
          f"{'change median [q1, q3]':>32s}  wins  verdict")
    for name, m in declared.items():
        a = [r[name] for r in got[args.parent]]
        b = [r[name] for r in got[args.change]]
        wins, v = verdict(a, b, m["better"], m.get("bound"))
        fmt = lambda xs: "{:.4g} [{:.4g}, {:.4g}]".format(  # noqa: E731
            stats.median(xs), *stats.quartiles(xs))
        print(f"{name:28s} {fmt(a):>32s} {fmt(b):>32s}  {wins:2d}/{len(a)}  {v}")


if __name__ == "__main__":
    main()
