"""Steadiness test for the benchmark itself.

    python3 perfbench/steady.py [--workloads pdi_lifecycle,store_rw]

For each workload, run `run.py` in two sets of ten untraced runs (a
new seed, so a new lane order, for every run) plus one traced run per
set, then report, per end-to-end metric, each set's median and its
spread (the interquartile range as a share of the median, from
`statistics.quantiles(n=4)`) against the metric's bound in
BENCHMARK.json, and how far the second set's median moved from the
first's. It also checks that every run is correct with no failed op,
that Spark jobs per lane repeat exactly across every run of both sets
and that codegen compiles per pass agree within 2 % (both read from
the run records), and reports the tracing overhead (traced vs
untraced ops_per_min). Exits 1 if a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
RUNS = 10
SEED_BASE = 1000


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One run: its printed result and its full record."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, re.findall(r"record (\S+\.json)", out.stderr)[-1])) as f:
        rec = json.load(f)["record"]
    print(f"  {workload} seed={seed} trace={trace} " + " ".join(
        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
        if trace == 0 or k in ("spark.jobs", "codegen.compiles", "trace.ops_per_min")),
        flush=True)
    return res, rec


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    seconds = spec["run_seconds"]

    ok = True
    for wl in a.workloads.split(","):
        print(f"== {wl}", flush=True)
        sets, traced = [], []
        for s in range(SETS):
            base = SEED_BASE + 100 * s
            sets.append([run_once(wl, base + i, seconds, 0) for i in range(RUNS)])
            traced.append(run_once(wl, base + RUNS, seconds, 1))
        everything = [run for runs in sets for run in runs] + traced
        for res, _ in everything:
            if not res["correct"] or res["failed"]:
                ok = False
                print(f"  FAIL: a run was incorrect or had failed ops: {res}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, runs in enumerate(sets):
                vals = [res["metrics"][name]["value"] for res, _ in runs]
                med, sp = statistics.median(vals), spread(vals)
                meds.append(med)
                flag = "" if sp <= bound else "  SPREAD OVER BOUND"
                ok &= not flag
                print(f"  {name:12s} set{s + 1}: median {med:.4g} {m['unit']}, "
                      f"spread {sp:.3f} (bound {bound}, target < {bound / 3:.3f}){flag}")
            worse = (meds[0] - meds[1]) / meds[0] if m["better"] == "higher" \
                else (meds[1] - meds[0]) / meds[0]
            flag = "  SHIFT OVER BOUND" if worse > bound else ""
            ok &= not flag
            print(f"  {name:12s} set-to-set: worse by {worse:+.3f} (bound {bound}){flag}")
        lane_jobs = {lane: sorted({n for _, rec in everything for n in rec["lane_jobs"][lane]})
                     for lane in everything[0][1]["lane_jobs"]}
        for lane, counts in lane_jobs.items():
            if len(counts) > 1:
                ok = False
                print(f"  FAIL: {lane} ran {counts} jobs across the runs")
        comp = [rec["codegen_compiles"] for _, rec in everything]
        comp_diff = (max(comp) - min(comp)) / max(comp)
        ok &= comp_diff <= 0.02
        print(f"  spark jobs per lane: {lane_jobs}")
        print(f"  codegen.compiles per pass: {sorted(comp)} "
              f"(differ by {comp_diff:.3%}, limit 2%)")
        untraced = statistics.median(res["metrics"]["ops_per_min"]["value"]
                                     for runs in sets for res, _ in runs)
        tr = statistics.median(res["metrics"]["trace.ops_per_min"]["value"] for res, _ in traced)
        print(f"  tracing overhead: traced {tr:.4g} vs untraced {untraced:.4g} ops/min "
              f"({(untraced - tr) / untraced:+.1%} of untraced)")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
