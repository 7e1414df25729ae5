#!/usr/bin/env python3
"""Steadiness tool: run workloads over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload read_mix --seeds 1-10 --save a.json
    python3 perfbench/steady.py --workload all --seeds 11-20 --save b.json
    python3 perfbench/steady.py --compare a.json b.json

Run from the root of a checkout. A spread under a third of the bound
reads "steady"; under the bound, "within"; above it, "UNSTEADY" (setup_s
is reported but has no spread gate). --compare checks that the second set
of runs is not worse than the first by more than each metric's bound, per
workload and metric, on the medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
        return None
    r = json.loads(lines[-1])
    if not r["correct"]:
        print(f"  {workload} seed {seed}: {r['failed']}/{r['attempted']} ops failed", file=sys.stderr)
    out = {k: v["value"] for k, v in r["metrics"].items()}
    out["wall_s"] = wall
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def report(runs):
    """Spreads per workload, and the wall time a full measurement (4 + 22
    runs per workload) would take at these runs' median wall times."""
    full = 0.0
    for workload, by_seed in runs.items():
        vals = [v for v in by_seed.values() if v]
        walls = [v["wall_s"] for v in vals if "wall_s" in v]
        wall = statistics.median(walls) if walls else 0.0
        full += 22 * wall + 4 * wall / len(runs)
        print(f"\n{workload}: {len(vals)} runs, median wall {wall:.1f} s")
        print(f"  {'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, spec in BOUNDS.items():
            xs = [v[name] for v in vals if name in v]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            bound = spec["bound"]
            verdict = ("-" if name == "setup_s" else "steady" if spread < bound / 3
                       else "within" if spread <= bound else "UNSTEADY")
            print(f"  {name:24} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {bound:6.2f}  {verdict}")
    if full:
        print(f"\nfull measurement at these wall times: about {full:.0f} s of runs, builds excluded")


def compare(a, b):
    bad = 0
    for workload in sorted(set(a) & set(b)):
        print(f"\n{workload}")
        for name, spec in BOUNDS.items():
            xa = [v[name] for v in a[workload].values() if v and name in v]
            xb = [v[name] for v in b[workload].values() if v and name in v]
            if not xa or not xb:
                continue
            ma, mb = statistics.median(xa), statistics.median(xb)
            worse = (mb - ma) / ma if spec["better"] == "lower" else (ma - mb) / ma
            ok = worse <= spec["bound"]
            bad += not ok
            print(f"  {name:24} {ma:12.4f} -> {mb:12.4f}  worse by {worse:+.3f} "
                  f"(bound {spec['bound']:.2f})  {'ok' if ok else 'WORSE'}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", action="append", help="workload name or 'all' (repeatable)")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--save", help="write the runs as JSON")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    if a.compare:
        sets = [json.load(open(f)) for f in a.compare]
        report(sets[0])
        report(sets[1])
        sys.exit(1 if compare(*sets) else 0)
    names = [w["name"] for w in SPEC["workloads"]]
    chosen = names if not a.workload or "all" in a.workload else a.workload
    runs = {}
    for w in chosen:
        runs[w] = {}
        for s in seeds_of(a.seeds):
            runs[w][str(s)] = run_once(w, s, a.seconds)
            print(f"  {w} seed {s}: {runs[w][str(s)]}", file=sys.stderr)
            if a.save:
                json.dump(runs, open(a.save, "w"), indent=1)
    report(runs)


if __name__ == "__main__":
    main()
