#!/usr/bin/env python3
"""How steady the benchmark reads on this host.

    python3 perfbench/steadiness.py --workload corpus_x4 --runs 10 --first-seed 2000

Runs one workload `--runs` times, each with the next seed, as BENCHMARK.json
gives it (`run_seconds`, `--trace 0`). For each end-to-end metric it prints
the median over the runs, the spread (q3 - q1) / median with quartiles as
`statistics.quantiles(values, n=4)` gives them, and the two-set check: the
runs split into a first and a second half, and how much worse the second
half's median is than the first's, as a share of the first. A metric is
steady when its spread is within its bound (setup_s excepted) and the second
half is not worse by more than the bound.
"""
import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import compare  # noqa: E402
import stats    # noqa: E402


def spread(xs):
    q1, q3 = stats.quartiles(xs)
    return (q3 - q1) / stats.median(xs)


def worse_share(first, second, better):
    """How much worse the median of `second` is than that of `first`, as a
    share of the first; negative when it is better."""
    m1, m2 = stats.median(first), stats.median(second)
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def verdicts(values, metrics):
    """Metric name -> its steadiness figures, for `values` (name -> one
    value per run, in run order) and BENCHMARK.json's `end_to_end` list."""
    out = {}
    for m in metrics:
        xs = values[m["name"]]
        half = len(xs) // 2
        sp = spread(xs)
        two = worse_share(xs[:half], xs[half:], m["better"])
        out[m["name"]] = {
            "median": stats.median(xs), "spread": sp, "two_set": two,
            "bound": m["bound"],
            "ok": (m["name"] == "setup_s" or sp <= m["bound"])
            and two <= m["bound"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=2000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    run_args = argparse.Namespace(workload=args.workload, trace=0,
                                  seconds=bench["run_seconds"])
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        got = compare.run(ROOT, run_args, seed)
        for k in values:
            values[k].append(got[k])
        print(f"seed {seed}: {time.time() - t0:.1f} s, "
              + ", ".join(f"{k} {v:.4g}" for k, v in got.items()), flush=True)
    print(f"{'metric':20s} {'median':>10s} {'spread':>7s} {'2-set':>7s} {'bound':>6s}")
    for k, v in verdicts(values, bench["end_to_end"]).items():
        print(f"{k:20s} {v['median']:10.4g} {v['spread']:7.3f} {v['two_set']:+7.3f} "
              f"{v['bound']:6.2f} {'ok' if v['ok'] else 'NOT STEADY'}")


if __name__ == "__main__":
    main()
