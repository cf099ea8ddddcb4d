#!/usr/bin/env python3
"""Paired A/B of one workload on two graft checkouts.

    python3 perfbench/ab.py --a ../graft-parent --b . --workload ecom_sync \\
        [--pairs 10] [--trace 0] [--seed0 101]

Each pair runs the same seed on both checkouts, one after the other;
which side goes first alternates from pair to pair. Both sides run
exactly as the benchmark is run: the command, the run length and the
metric directions come from the BENCHMARK.json beside this script, and
both checkouts must hold the same BENCHMARK.json and the same benchmark
files. Prints, per metric, each side's median and quartiles and the
share of pairs each side won (ties count for neither), then the failed
share.
"""
import argparse
import filecmp
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# build output the benchmark leaves beside its sources
SKIP_DIRS = {"target", "project/project", "__pycache__"}


def benchmark_files(bench):
    for top in bench["paths"]:
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            rel = os.path.relpath(d, os.path.join(ROOT, top))
            dirs[:] = [x for x in dirs
                       if x not in SKIP_DIRS and os.path.join(rel, x) not in SKIP_DIRS]
            for f in fs:
                yield os.path.relpath(os.path.join(d, f), ROOT)


def check_same_benchmark(checkout, bench):
    for f in ["BENCHMARK.json"] + list(benchmark_files(bench)):
        other = os.path.join(checkout, f)
        if not os.path.exists(other) or not filecmp.cmp(os.path.join(ROOT, f), other,
                                                        shallow=False):
            sys.exit("%s: %s differs from this benchmark's copy; copy BENCHMARK.json "
                     "and %s into it first" % (checkout, f, " ".join(bench["paths"])))


def run(bench, checkout, workload, seed, trace):
    p = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.exit("run failed in %s (seed %d, exit %d)" % (checkout, seed, p.returncode))
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="baseline checkout (e.g. the parent commit)")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seed0", type=int, default=101)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for side in (a.a, a.b):
        check_same_benchmark(side, bench)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    res = {"a": [], "b": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        for side in order:
            res[side].append(run(bench, getattr(a, side), a.workload, seed, a.trace))
            print("pair %d seed %d side %s done" % (i + 1, seed, side), file=sys.stderr)
    names = list(res["a"][0]["metrics"])
    print("%-32s %-30s %-30s %s" % ("metric", "A q1/median/q3", "B q1/median/q3",
                                    "wins A/B"))
    for n in names:
        va = [r["metrics"][n]["value"] for r in res["a"]]
        vb = [r["metrics"][n]["value"] for r in res["b"]]
        lower = better[n] == "lower"
        wa = sum(1 for x, y in zip(va, vb) if (x < y if lower else x > y))
        wb = sum(1 for x, y in zip(va, vb) if (y < x if lower else y > x))
        fa = "%.4g/%.4g/%.4g" % quartiles(va)
        fb = "%.4g/%.4g/%.4g" % quartiles(vb)
        print("%-32s %-30s %-30s %d/%d of %d" % (n, fa, fb, wa, wb, a.pairs))
    for side in ("a", "b"):
        att = sum(r["attempted"] for r in res[side])
        fail = sum(r["failed"] for r in res[side])
        ok = all(r["correct"] for r in res[side])
        print("%s: %d/%d operations failed, outputs %s" % (
            side.upper(), fail, att, "correct" if ok else "INCORRECT"))


if __name__ == "__main__":
    main()
