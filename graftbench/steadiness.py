#!/usr/bin/env python3
"""Steadiness check for the benchmark in BENCHMARK.json.

    python3 graftbench/steadiness.py [--seeds 10] [--sets 2] [--out FILE]

Runs every workload once per seed (seeds 1..N, untraced), `--sets` times
over, from the repository root. For each set, workload and end-to-end
metric it reports the median and the spread (interquartile distance over
the median, as `statistics.quantiles(values, n=4)` gives the quartiles)
against the metric's bound, and for every set after the first how far its
median moved from the first set's. Writes all values and the verdicts as
JSON to `--out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        return {"seed": seed, "wall_s": wall, "error": p.stderr[-2000:]}
    last = json.loads(p.stdout.strip().splitlines()[-1])
    return {"seed": seed, "wall_s": wall, "correct": last["correct"],
            "attempted": last["attempted"], "failed": last["failed"],
            "metrics": {k: v["value"] for k, v in last["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(ROOT, "graftbench", "evidence",
                                                  "steadiness.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    sets = []
    for s in range(a.sets):
        runs = {}
        for w in (x["name"] for x in bench["workloads"]):
            runs[w] = []
            for seed in range(1, a.seeds + 1):
                r = run(bench, w, seed)
                runs[w].append(r)
                if "error" in r:
                    line = "FAILED " + r["error"].strip()[-300:]
                else:
                    line = f"correct={r['correct']} wall={r['wall_s']:.1f}s " + " ".join(
                        f"{k}={v:.4g}" for k, v in r["metrics"].items())
                print(f"set {s + 1} {w} seed {seed}: {line}", flush=True)
        sets.append(runs)

    summary, ok = {}, True
    for w in sets[0]:
        summary[w] = {}
        for m, bound in bounds.items():
            rows = []
            for runs in sets:
                vals = [r["metrics"][m] for r in runs[w] if "metrics" in r]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                rows.append({"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "n": len(vals)})
            for row in rows:
                row["spread_ok"] = row["spread"] <= bound
                worse = ((row["median"] - rows[0]["median"]) if better[m] == "lower"
                         else (rows[0]["median"] - row["median"])) / rows[0]["median"]
                row["worse_than_first"] = worse
                row["median_ok"] = worse <= bound
                ok = ok and row["spread_ok"] and row["median_ok"]
            summary[w][m] = {"bound": bound, "sets": rows}
            print(f"{w:16s} {m:28s} bound {bound:.2f} " + " | ".join(
                f"median {r['median']:.4g} spread {r['spread']:.3f}"
                f"{'' if r['spread_ok'] else ' OVER'} moved {r['worse_than_first']:+.3f}"
                f"{'' if r['median_ok'] else ' OVER'}" for r in rows))
    failures = [(w, r["seed"]) for runs in sets for w in runs for r in runs[w]
                if "error" in r or not r["correct"]]
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump({"run_seconds": bench["run_seconds"], "seeds": a.seeds,
                   "all_within_bounds": ok, "failed_runs": failures,
                   "summary": summary, "runs": sets}, f, indent=1)
    print(f"within bounds: {ok}; failed runs: {failures}")
    sys.exit(0 if ok and not failures else 1)


if __name__ == "__main__":
    main()
