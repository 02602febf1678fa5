#!/usr/bin/env python3
"""Steadiness of graft's benchmark: runs every workload N times with
seeds first..first+N-1, each at BENCHMARK.json's run_seconds, and prints,
per end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median set against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
    python3 perfbench/steady.py --compare FIRST.json SECOND.json

Raw results go to .perfbench/steady/<time>.json. `--compare` checks a
second set against a first one the way the bounds are meant: for each
workload and metric, the second median may not be worse than the first by
more than the bound, and the failed share must be equal.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(results):
    s = spec()
    bounds = {m["name"]: m for m in s["end_to_end"]}
    steady = True
    for w, runs in results.items():
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        ok = all(r["correct"] for r in runs)
        print(f"\n{w}: {len(runs)} runs, correct in all: {ok}, failed shares: {shares}")
        print(f"  {'metric':<18}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}{'/bound':>8}")
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med
            ratio = spread / m["bound"]
            if ratio > 1 / 3:
                steady = False
            print(f"  {name:<18}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{spread:>9.3f}{m['bound']:>7.2f}{ratio:>8.2f}")
    print(f"\nevery spread within a third of its bound: {steady}")
    return steady


def compare(first, second):
    bounds = {m["name"]: m for m in spec()["end_to_end"]}
    ok = True
    for w in first:
        a, b = first[w], second.get(w, [])
        sa = {r["failed"] / r["attempted"] for r in a}
        sb = {r["failed"] / r["attempted"] for r in b}
        if sa != sb:
            ok = False
            print(f"{w}: failed shares differ: {sa} vs {sb}")
        for name, m in bounds.items():
            ma = statistics.median(r["metrics"][name]["value"] for r in a)
            mb = statistics.median(r["metrics"][name]["value"] for r in b)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "WORSE" if worse > m["bound"] else "ok"
            ok &= flag == "ok"
            print(f"{w:<20}{name:<18}{ma:>14.4f}{mb:>14.4f}{worse:>+9.3f}{m['bound']:>7.2f}  {flag}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        first, second = (json.load(open(p)) for p in args.compare)
        sys.exit(0 if compare(first, second) else 1)

    s = spec()
    names = [w["name"] for w in s["workloads"]]
    results = {w: [] for w in names}
    out_dir = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + ".json")
    for w in names:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(s["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: run.py exited with {p.returncode}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["seed"], r["wall_s"] = seed, round(time.time() - t0, 1)
            results[w].append(r)
            print(f"{w} seed {seed}: {r['wall_s']} s, correct {r['correct']}", file=sys.stderr, flush=True)
            with open(out, "w") as f:
                json.dump(results, f, indent=1)
    print(f"raw results: {os.path.relpath(out, ROOT)}")
    report(results)


if __name__ == "__main__":
    main()
