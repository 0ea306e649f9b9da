#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload in two checkouts.

    python3 tools/pairbench.py <parentDir> <changeDir> \
        --workload annotate_service --pairs 10

Pair i runs `python3 perfbench/run.py --workload W --seed <seed0 + i>
--seconds S --trace 0` once in each checkout, unchanged, from that
checkout's root; the parent goes first in even pairs and the change in
odd ones, so drift over the window lands on both sides alike. Each
checkout builds its own engine (`.bench_build/`) on its first run.

For every end-to-end metric of the parent's BENCHMARK.json it prints
each side's median and quartiles, how many pairs the change wins (is
better in, by the metric's `better`), and the parent's IQR, as a table
and then as one JSON line. A run that fails, or whose summary reads
`correct: false` or `failed > 0`, is reported and its pair is left out
of the comparison.
"""
import argparse
import json
import os
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """The summary of one run, or None if the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("[pairbench] %s seed %d failed (exit %d): %s\n" % (
            checkout, seed, proc.returncode, proc.stderr.strip()[-400:]))
        return None
    summary = json.loads(lines[-1])
    if not summary["correct"] or summary["failed"]:
        sys.stderr.write("[pairbench] %s seed %d: correct=%s failed=%s\n" % (
            checkout, seed, summary["correct"], summary["failed"]))
        return None
    return {k: v["value"] for k, v in summary["metrics"].items()}


def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def compare(pairs, metrics):
    """Per metric: both sides' quartiles, change wins, parent IQR."""
    out = {}
    for name, better in metrics:
        parent = [p[name] for p, _ in pairs]
        change = [c[name] for _, c in pairs]
        wins = sum((c < p) if better == "lower" else (c > p)
                   for p, c in zip(parent, change))
        side = lambda xs: {"q1": quantile(xs, 0.25), "median": quantile(xs, 0.5),
                           "q3": quantile(xs, 0.75)}
        ps, cs = side(parent), side(change)
        out[name] = {"better": better, "parent": ps, "change": cs,
                     "change_wins": wins, "pairs": len(pairs),
                     "parent_iqr": ps["q3"] - ps["q1"],
                     "median_gap": cs["median"] - ps["median"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]
    sides = {"parent": args.parent, "change": args.change}
    pairs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {s: run_once(sides[s], args.workload, seed, args.seconds)
               for s in order}
        sys.stderr.write("[pairbench] pair %d seed %d (%s first): %s\n" % (
            i + 1, seed, order[0], json.dumps(got, sort_keys=True)))
        if got["parent"] is not None and got["change"] is not None:
            pairs.append((got["parent"], got["change"]))
    if not pairs:
        sys.exit("[pairbench] no pair completed")
    result = compare(pairs, metrics)
    print("%-14s %28s %28s %7s %10s" % ("metric", "parent q1/median/q3",
                                        "change q1/median/q3", "wins",
                                        "parent IQR"))
    for name, r in result.items():
        fmt = lambda q: "%.4g/%.4g/%.4g" % (q["q1"], q["median"], q["q3"])
        print("%-14s %28s %28s %3d/%-3d %10.4g" % (
            name, fmt(r["parent"]), fmt(r["change"]), r["change_wins"],
            r["pairs"], r["parent_iqr"]))
    print(json.dumps({"workload": args.workload, "pairs_attempted": args.pairs,
                      "metrics": result}, sort_keys=True))


if __name__ == "__main__":
    main()
