#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each end-to-end
metric's spread: the distance between the first and third quartile of
its values (statistics.quantiles, n=4) as a share of their median,
next to the bound BENCHMARK.json fixes for it.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--first-seed 1]
    python3 perfbench/steadiness.py --runs 5 --overhead [--workloads a,b]

With --overhead each seed runs untraced and then traced, alternating, and
the table sets the untraced medians and spreads next to the medians of
the traced run's `traced.*` copies of the same metrics, and gives the
median over seeds of each traced run's change against the untraced run
just before it.

Run from the root of a graft checkout; prints one markdown table per
workload, each followed by its raw values as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(bench, workload, seed, trace):
    """One run's metric values; stops at a run that fails its checks."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit("%s seed %d: %d of %d failed" % (workload, seed, res["failed"], res["attempted"]))
    print("%s seed %d trace %d done" % (workload, seed, trace), file=sys.stderr, flush=True)
    return {k: m["value"] for k, m in res["metrics"].items()}


def median_spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in names:
        plain, traced = {}, {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            for k, v in run(bench, w, seed, 0).items():
                plain.setdefault(k, []).append(v)
            if a.overhead:
                for k, v in run(bench, w, seed, 1).items():
                    if k.startswith("traced."):
                        traced.setdefault(k[len("traced."):], []).append(v)
        if a.overhead:
            print("\n%s (%d seeds, untraced and traced alternating)\n\n"
                  "| metric | untraced median | untraced spread | traced median | change "
                  "| median paired change |\n|---|---|---|---|---|---|" % (w, a.runs))
            for k in sorted(plain):
                med, spread = median_spread(plain[k])
                tmed = statistics.median(traced[k])
                paired = statistics.median(t / u - 1.0 for u, t in zip(plain[k], traced[k]))
                print("| %s | %.6g | %.4f | %.6g | %+.1f%% | %+.1f%% |"
                      % (k, med, spread, tmed, 100.0 * (tmed - med) / med, 100.0 * paired),
                      flush=True)
            print(json.dumps({w: {"untraced": plain, "traced": traced}}), flush=True)
        else:
            print("\n%s (%d runs)\n\n| metric | median | spread | bound |\n|---|---|---|---|"
                  % (w, a.runs))
            for k, vs in sorted(plain.items()):
                med, spread = median_spread(vs)
                print("| %s | %.6g | %.4f | %s |" % (k, med, spread, bounds.get(k, "-")), flush=True)
            print(json.dumps({w: plain}), flush=True)


if __name__ == "__main__":
    main()
