#!/usr/bin/env python3
"""Steadiness check for the benchmark, run from the repository root:

    python3 tmsbench/steady.py --workloads corpus_release,stream_intake --seeds 1-10
    python3 tmsbench/steady.py --workloads stream_intake --seeds 3 --repeat 2 --trace 1

With `--trace 0` it runs each workload once per seed and prints, per
end-to-end metric, the median and the quartile spread (Q3 - Q1 over the
median, `statistics.quantiles(n=4)`) next to the metric's bound in
BENCHMARK.json. With `--trace 1 --repeat 2` it runs each seed twice and
lists every count metric that does not repeat exactly.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"{workload} seed {seed}: incorrect or failed ops:\n{p.stderr[-2000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--repeat", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in a.workloads.split(","):
        runs = {}
        for seed in seeds_of(a.seeds):
            for r in range(a.repeat):
                runs[(seed, r)] = run(bench, w, seed, a.trace)
                print(f"{w} seed={seed} rep={r} " + json.dumps(
                    {k: round(v, 4) for k, v in runs[(seed, r)].items()
                     if k in bounds}), flush=True)
        if a.trace == 0:
            for name, bound in bounds.items():
                vals = [m[name] for m in runs.values()]
                med = statistics.median(vals)
                q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
                spread = (q[2] - q[0]) / med
                flag = "" if spread < bound / 3 else ("  (over a third of bound)"
                                                     if spread <= bound else "  (OVER BOUND)")
                print(f"{w:15} {name:16} median {med:12.4f}  spread {spread:7.4f}  "
                      f"bound {bound}{flag}")
        else:
            for seed in seeds_of(a.seeds):
                reps = [runs[(seed, r)] for r in range(a.repeat)]
                for name, unit in units.items():
                    vals = {rep.get(name) for rep in reps}
                    if unit == "count" and len(vals) > 1:
                        print(f"{w} seed={seed}: count {name} differs across repeats: "
                              f"{sorted(vals)}")
            print(f"{w}: count check done over seeds {a.seeds}")


if __name__ == "__main__":
    main()
