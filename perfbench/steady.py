"""Steadiness check: two independent sets of runs of every workload in
BENCHMARK.json, each run on its own seed.

    python3 perfbench/steady.py [--runs 5] [--workloads a,b] [--trace 0]

For each workload x end-to-end metric it prints the median and the
quartiles of each set, the shift of the second median against the
first, the quartile spread (Q3 - Q1) / median of each set, and whether
the shift and both spreads stay within the metric's bound.  Both sets
run the same code, so a shift either way counts against the bound.
Also checks that every run was correct and that the share of failed
operations is the same in both sets.  Run from the root of a checkout;
exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:"
                           f"\n{p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    for line in p.stderr.splitlines():
        if line.startswith("perfbench: traced end-to-end "):
            out["traced_end_to_end"] = json.loads(line.split(" ", 3)[3])
        if line.startswith("perfbench: host steal "):
            out["steal_pct"] = float(line.split()[3].rstrip("%"))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    metrics = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    ok, record = True, {}
    for wl in args.workloads.split(","):
        sets = []
        for s in range(2):
            seeds = range(1 + s * args.runs, 1 + (s + 1) * args.runs)
            sets.append([one_run(wl, seed, args.seconds, args.trace)
                         for seed in seeds])
        record[wl] = sets
        runs = sets[0] + sets[1]
        walls = [r["wall_s"] for r in runs]
        print(f"\n{wl}: {len(runs)} runs, wall {min(walls):.0f}-"
              f"{max(walls):.0f} s, attempted "
              f"{[r['attempted'] for r in runs]}, host steal % "
              f"{[r.get('steal_pct') for r in runs]}")
        shares = [sum(r["failed"] for r in st)
                  / sum(r["attempted"] for r in st) for st in sets]
        if not all(r["correct"] for r in runs) or shares[0] != shares[1]:
            ok = False
            print(f"  FAIL correct={[r['correct'] for r in runs]} "
                  f"failed shares {shares}")
        if args.trace:
            traced = {k: statistics.median(
                r["traced_end_to_end"][k] for r in runs)
                for k in runs[0]["traced_end_to_end"]}
            print(f"  end-to-end under tracing (medians): {traced}")
        print(f"  {'metric':<30} {'set A q1/med/q3':>28} "
              f"{'set B q1/med/q3':>28} {'shift':>7} {'spread A/B':>11} "
              f"{'bound':>6}")
        for m in metrics:
            name = m["name"]
            vals = [[r["metrics"][name]["value"] for r in st] for st in sets]
            qa, qb = quartiles(vals[0]), quartiles(vals[1])
            spreads = [(q[2] - q[0]) / q[1] if q[1] else 0.0
                       for q in (qa, qb)]
            sign = 1 if m["better"] == "lower" else -1
            shift = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            bound = m.get("bound")
            verdict = ""
            if bound is not None:
                good = abs(shift) <= bound and max(spreads) <= bound
                ok &= good
                verdict = "ok" if good else "FAIL"
            print(f"  {name:<30} "
                  f"{'/'.join(f'{x:.4g}' for x in qa):>28} "
                  f"{'/'.join(f'{x:.4g}' for x in qb):>28} "
                  f"{shift:>+7.3f} {spreads[0]:>5.3f}/{spreads[1]:<5.3f} "
                  f"{'' if bound is None else bound:>6} {verdict}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(record, fh)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
