#!/usr/bin/env python3
"""Steadiness runner: runs the benchmark in sets and reports its spread.

Usage (from the root of a checkout):
    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]
                                [--seed 1000] [--json out.json]

Each set makes `--runs` runs of every workload, each run with its own
seed. With two sets the runs alternate which set goes first. For every
end-to-end metric and workload it prints each set's median, the spread
between the quartiles as a share of the median (IQR/med, as
`statistics.quantiles(values, n=4)` gives them), and whether the sets
agree within the metric's bound in BENCHMARK.json: every spread within
the bound, the two medians apart by at most the bound (as a share of
the smaller), and the same share of failed operations.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, timeout=200)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    results = {}
    for w in a.workloads.split(","):
        sets = [[] for _ in range(a.sets)]
        for i in range(a.runs):
            order = range(a.sets) if i % 2 == 0 else reversed(range(a.sets))
            for s in order:
                r = run_once(w, a.seed + 100 * s + i, a.seconds)
                sets[s].append(r)
                print(f"{w} set {s} run {i}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                    + f" failed={r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
        results[w] = sets
        print(f"\n{w}: {a.runs} runs per set")
        for name, m in bounds.items():
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
            meds = [statistics.median(v) for v in vals]
            sp = [spread(v) for v in vals]
            ok = all(x <= m["bound"] for x in sp)
            if a.sets == 2:
                ok = ok and abs(meds[1] - meds[0]) / min(meds) <= m["bound"]
            print(f"  {name:14s} " + "  ".join(
                f"med {md:.4g} {m['unit']} IQR/med {x:.3f}" for md, x in zip(meds, sp))
                + f"  bound {m['bound']}  {'agree' if ok else 'DISAGREE'}")
        shares = [sorted({r["failed"] / r["attempted"] for r in s}) for s in sets]
        print(f"  failed share per set: {shares}  {'agree' if shares[0] == shares[-1] else 'DISAGREE'}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results, f)


if __name__ == "__main__":
    main()
