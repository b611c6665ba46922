#!/usr/bin/env python3
"""Steadiness check: two sets of runs of every workload, compared metric by
metric against the bounds in BENCHMARK.json.

Run from the root of a checkout:

    python3 perfbench/steadiness.py --runs 10
    python3 perfbench/steadiness.py --runs 5 --sets 1 --workloads snapshot

Set k, run i uses seed 1000*k + i, so the two sets use different seeds.
For each workload and end-to-end metric it prints each set's median and
quartiles, the quartile spread (q3 - q1) / median, and how far the second
median moved from the first in the worse direction, next to the bound.
A spread or move above the bound is flagged (the spread of setup_s is not
held to its bound). With --traced, one traced run per workload follows and
its end-to-end figures are compared with the untraced medians: the gap is
the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    extra = {ln.split(": ", 1)[0]: json.loads(ln.split(": ", 1)[1])
             for ln in lines[:-1] if ln.startswith(("detail: ", "e2e_traced: "))}
    return res, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    ok = True
    for w in names:
        sets = []
        for k in range(a.sets):
            vals, failed = {}, set()
            for i in range(a.runs):
                t0 = time.time()
                res, extra = run(w, 1000 * k + i, seconds, 0)
                wall = time.time() - t0
                if not res["correct"]:
                    ok = False
                    print(f"{w} seed {1000 * k + i}: INCORRECT")
                failed.add(res["failed"] / res["attempted"])
                for n, m in res["metrics"].items():
                    vals.setdefault(n, []).append(m["value"])
                print(f"  {w} set {k + 1} run {i + 1} ({wall:.0f} s): " + " ".join(
                    f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                    flush=True)
            sets.append((vals, failed))
        print(f"\n{w}: failed share per set "
              f"{[sorted(f) for _, f in sets]}")
        print(f"{'metric':18} {'bound':>6} " + " ".join(
            f"{'set%d q1/med/q3' % (k + 1):>30} {'spread':>7}"
            for k in range(a.sets)) + f" {'moved':>7}")
        medians = {}
        for m in spec["end_to_end"]:
            n, bound = m["name"], m["bound"]
            row = f"{n:18} {bound:6.2f} "
            meds = []
            for vals, _ in sets:
                v = vals[n]
                q1, med, q3 = statistics.quantiles(v, n=4)
                spread = (q3 - q1) / med
                flag = "!" if spread > bound and n != "setup_s" else " "
                ok &= flag == " "
                row += f"{q1:10.4g}/{med:9.4g}/{q3:9.4g} {spread:6.3f}{flag}"
                meds.append(med)
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                flag = "!" if worse > bound else " "
                ok &= flag == " "
                row += f" {worse:6.3f}{flag}"
            medians[n] = meds[0]
            print(row)
        if a.traced:
            _, extra = run(w, 99, seconds, 1)
            traced = extra.get("e2e_traced", {})
            print("tracing overhead (traced run vs untraced median): " + " ".join(
                f"{n}={(traced[n] - medians[n]) / medians[n]:+.3f}"
                for n in medians if n in traced))
        print()
    print("steady" if ok else "NOT steady: see the rows marked !")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
