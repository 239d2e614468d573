#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark on two checkouts.

Runs `python3 perfbench/run.py` alternately in a parent checkout and a
change checkout (the side that runs first alternates from pair to pair),
one pair per seed, and prints per metric each side's median and quartiles,
how many pairs the change won (ties count for neither side) and whether
the gain rule holds: the change wins at least nine tenths of the pairs,
the medians differ, in the metric's better direction, by more than the
parent's interquartile range, and the change has no more incorrect, failed
or non-zero-exit runs than the parent. For each end-to-end metric it also
prints the no-regression verdict: the relative change of the median against
the metric's bound, "unresolved" when the parent's interquartile range is
wider than the bound (unless every change run beats every parent run), and
never "holds" when the change has more incorrect, failed or non-zero-exit
runs. Directions, bounds and the run length come from the change checkout's
BENCHMARK.json. Nothing under either checkout's perfbench/ is changed; the
benchmark builds into each checkout's own build directory.

    python3 tools/ab.py PARENT CHANGE --workload fleet_dense8 --seeds 61-70
    python3 tools/ab.py PARENT CHANGE --workload registry_sf001 --seeds 1,2,3 \\
        --out runs.jsonl            # keep every parsed run
    python3 tools/ab.py PARENT CHANGE --workload fleet_dense8 --from runs.jsonl
"""
import argparse
import json
import os
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quantile(xs, q):
    """Linear interpolation between order statistics (numpy's default)."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "failed": 0, "metrics": {}}
    return {"correct": result["correct"], "failed": result["failed"], "exit": p.returncode,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def paired(pairs, m):
    """Parent and change values of metric m over the pairs that have it."""
    both = [(p["metrics"][m], c["metrics"][m]) for p, c in pairs
            if m in p["metrics"] and m in c["metrics"]]
    return [x for x, _ in both], [y for _, y in both]


def no_regression(pairs, bounds, better, worse):
    """Per end-to-end metric: the median's relative change against its
    bound, unresolved when the parent's own IQR is wider than the bound."""
    print(f"{'no-regression':28s} {'change':>9s} {'bound':>7s} {'parent IQR':>11s}  verdict")
    for m, bound in bounds.items():
        a, b = paired(pairs, m)
        if not a:
            continue
        sign = 1.0 if better[m] == "lower" else -1.0
        med = quantile(a, 0.5)
        if med == 0:
            print(f"{m:28s} {'n/a':>9s} {bound:7.0%} {'n/a':>11s}  unresolved")
            continue
        change = (quantile(b, 0.5) - med) / abs(med)
        spread = (quantile(a, 0.75) - quantile(a, 0.25)) / abs(med)
        beats_all = all(sign * (x - y) > 0 for x in a for y in b)
        if worse:
            verdict = "no (more bad runs)"
        elif spread > bound and not beats_all:
            verdict = "unresolved"
        elif sign * change > bound:
            verdict = "regressed"
        else:
            verdict = "holds"
        print(f"{m:28s} {change:+9.1%} {bound:7.0%} {spread:11.1%}  {verdict}")


def summarize(runs, better, bounds):
    by_seed = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [(s["parent"], s["change"]) for s in by_seed.values()
             if "parent" in s and "change" in s]
    bad = [r for r in runs if not r["correct"] or r["failed"] or r["exit"]]
    print(f"{len(pairs)} pairs; {len(bad)} runs incorrect, failed or exited non-zero")
    # a gain does not count when the change fails runs the parent passes
    worse = sum(r["side"] == "change" for r in bad) > sum(r["side"] == "parent" for r in bad)
    for r in bad:
        print(f"  {r['side']} seed {r['seed']}: correct={r['correct']} "
              f"failed={r['failed']} exit={r['exit']}")
    if not pairs:
        return
    names = [m for m in pairs[0][0]["metrics"] if m in better]
    print(f"{'metric':28s} {'parent med [q1, q3]':>30s} {'change med [q1, q3]':>30s}"
          f" {'wins':>7s} {'gap':>9s} {'IQR':>9s}  rule")
    for m in names:
        a, b = paired(pairs, m)
        sign = 1.0 if better[m] == "lower" else -1.0
        wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
        gap = sign * (quantile(a, 0.5) - quantile(b, 0.5))
        iqr = quantile(a, 0.75) - quantile(a, 0.25)
        holds = wins * 10 >= 9 * len(a) and gap > iqr and not worse
        side = lambda xs: (f"{quantile(xs, .5):.4g} [{quantile(xs, .25):.4g}, "
                           f"{quantile(xs, .75):.4g}]")
        print(f"{m:28s} {side(a):>30s} {side(b):>30s} {wins:>3d}/{len(a):<3d}"
              f" {gap:9.4g} {iqr:9.4g}  {'holds' if holds else 'no'}")
    no_regression(pairs, bounds, better, worse)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", help="e.g. 61-70 or 1,5,9")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="append every parsed run to this JSON-lines file")
    ap.add_argument("--from", dest="src", help="summarize runs from a JSON-lines file")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(args.change, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if args.src:
        runs = [json.loads(l) for l in open(args.src)]
        summarize([r for r in runs if r["workload"] == args.workload], better, bounds)
        return
    if not args.seeds:
        ap.error("--seeds is required unless --from is given")
    runs = []
    for k, seed in enumerate(parse_seeds(args.seeds)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            r = {"workload": args.workload, "seed": seed, "side": side, "trace": args.trace,
                 **run_once(getattr(args, side), args.workload, seed, spec["run_seconds"],
                            args.trace)}
            runs.append(r)
            print(f"seed {seed} {side}: " + " ".join(
                f"{m['name']}={r['metrics'][m['name']]:.4g}"
                for m in spec["end_to_end"] if m["name"] in r["metrics"]), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    summarize(runs, better, bounds)


if __name__ == "__main__":
    main()
