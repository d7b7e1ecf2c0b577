#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
metric, the median and the quartile spread (Q3 - Q1) / median, with the
quartiles from statistics.quantiles(values, n=4).

    python3 perfbench/steady.py --workloads etl_jdbc,sql_mix --seeds 1-10 \
        --out perfbench/results/steady.json
    python3 perfbench/steady.py --workloads etl_jdbc --seeds 1-3 --trace \
        --baseline perfbench/results/steady.json \
        --out perfbench/results/traced.json

With --trace the runs are traced; with --baseline the report adds the
tracing overhead per seed: untraced ops_per_s (from the baseline file, same
workload and seed) over traced ops.ops_per_s. Run from the repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} exited {r.returncode}")
    lines = r.stdout.strip().splitlines()
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]),
            "report": lines[:-1]}


def summarize(runs):
    out = {}
    for k in runs[0]["result"]["metrics"]:
        xs = [r["result"]["metrics"][k]["value"] for r in runs]
        out[k] = {"median": statistics.median(xs),
                  "spread": stats.quartile_spread(xs) if len(xs) >= 2
                  else None,
                  "values": xs}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--baseline", help="untraced results, for the overhead")
    ap.add_argument("--out")
    a = ap.parse_args()
    baseline = {}
    if a.baseline:
        with open(a.baseline) as f:
            baseline = json.load(f)
    out = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds_of(a.seeds):
            r = run(w, seed, a.seconds, int(a.trace))
            runs.append(r)
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s, correct "
                  f"{r['result']['correct']}", flush=True)
        entry = {"metrics": summarize(runs),
                 "wall_s": [r["wall_s"] for r in runs],
                 "all_correct": all(r["result"]["correct"] for r in runs),
                 "runs": runs}
        if w in baseline:
            base = {r["seed"]: r["result"]["metrics"]["ops_per_s"]["value"]
                    for r in baseline[w]["runs"]}
            ratios = [base[r["seed"]] /
                      r["result"]["metrics"]["ops.ops_per_s"]["value"]
                      for r in runs if r["seed"] in base]
            entry["tracing_overhead"] = {
                "untraced_over_traced_ops_per_s": ratios,
                "median": statistics.median(ratios) if ratios else None}
            print(f"  {w} tracing overhead (untraced/traced ops_per_s): "
                  + ", ".join(f"{x:.3f}" for x in ratios), flush=True)
        out[w] = entry
        for k, s in entry["metrics"].items():
            spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"  {w} {k}: median {s['median']:.4g} spread {spread}",
                  flush=True)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
