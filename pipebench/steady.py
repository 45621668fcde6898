#!/usr/bin/env python3
"""Steadiness check: run the benchmark on one workload with several seeds
and compare each end-to-end metric's spread with its bound.

    python3 pipebench/steady.py --workload etl_drops --runs 10 --out set1.json
    python3 pipebench/steady.py --compare set1.json set2.json

The spread of a metric is the distance between the first and third
quartile of its values (`statistics.quantiles(values, n=4)`) as a share of
their median. Every spread, that of `setup_s` too, must stay within the
metric's bound; `steady` means below a third of it. `--compare` checks
that the two sets' medians agree: each differs from the first's by at
most the bound, in either direction. Run from the repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def verdict(values, bounds):
    """{metric: {spread, bound, within, steady}} for metrics in `bounds`."""
    out = {}
    for name, bound in bounds.items():
        s = spread(values[name])
        out[name] = {"spread": s, "bound": bound,
                     "within": s <= bound,
                     "steady": s < bound / 3}
    return out


def disagree(first, second, bound):
    """True when the median of `second` differs from that of `first` by
    more than `bound` (a share of the first median), either way."""
    a, b = statistics.median(first), statistics.median(second)
    return abs(b - a) / a > bound


def load_bench(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def collect(root, workload, seeds, seconds):
    values = {}
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", "0"], cwd=root, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stderr[-3000:])
            raise SystemExit("run failed: %s seed %d (exit %d)" % (workload, seed, r.returncode))
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("seed %d (%.0f s): %s" % (seed, time.time() - t0, " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())), flush=True)
    return values


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar="SET")
    a = ap.parse_args()
    root = os.getcwd()
    bench = load_bench(root)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if a.compare:
        sets = []
        for p in a.compare:
            with open(p) as f:
                sets.append(json.load(f))
        bad = 0
        for m in bench["end_to_end"]:
            d = disagree(sets[0][m["name"]], sets[1][m["name"]], m["bound"])
            bad += d
            a, b = statistics.median(sets[0][m["name"]]), statistics.median(sets[1][m["name"]])
            print("%-20s %12.5g -> %12.5g (%+.3f, bound %.2f) %s" % (
                m["name"], a, b, (b - a) / a, m["bound"], "DISAGREE" if d else "ok"))
        return 1 if bad else 0
    seeds = range(a.first_seed, a.first_seed + a.runs)
    values = collect(root, a.workload, seeds, bench["run_seconds"])
    if a.out:
        with open(a.out, "w") as f:
            json.dump(values, f)
    v = verdict(values, bounds)
    for name, r in v.items():
        print("%-20s median %12.5g spread %.4f bound %.2f %s" % (
            name, statistics.median(values[name]), r["spread"], r["bound"],
            "steady" if r["steady"] else ("within" if r["within"] else "TOO WIDE")))
    return 0 if all(r["within"] for r in v.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
