#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile of its values, as
a share of their median, next to the bound BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --workload key_bulk --seeds 5
    python3 perfbench/steadiness.py --workload all --seeds 10 --out perfbench/baseline/runs.json

Run it from the root of a checkout. A spread under a third of the bound is
steady. `setup_s` is reported but has no spread limit.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = proc.stdout.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", default="all")
    p.add_argument("--seeds", type=int, default=5)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out", help="also write every run's result here (JSON)")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]] if args.workload == "all" else [args.workload]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in workloads:
        runs[w] = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r = run_once(w, seed, bench["run_seconds"], 0)
            runs[w].append({"seed": seed, **r})
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    steady = True
    print(f"\n{'workload':16}{'metric':16}{'median':>14}{'spread':>9}{'bound':>7}")
    for w in workloads:
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs[w]]
            s = spread(values)
            ok = name == "setup_s" or s < bound / 3
            steady &= ok
            print(f"{w:16}{name:16}{statistics.median(values):14.4f}{s:9.3f}{bound:7.2f}"
                  f"{'' if ok else '  NOT STEADY'}")
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
