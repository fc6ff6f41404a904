#!/usr/bin/env python3
"""Seed-to-seed spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads crawl_cold corpus_build --seeds 10

Runs run.py untraced (--trace 0) once per (workload, seed) with the
BENCHMARK.json run_seconds, then prints, per metric, the median, the
interquartile range as a share of the median (statistics.quantiles(values,
n=4)) and that share over the metric's bound. Raw results are appended to <build dir>/results/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="*", default=names)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out_path = os.path.join(build.build_dir(), "results", "spread.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    worst = 0.0
    for w in a.workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            t0 = time.time()
            r = subprocess.run(cmd, cwd=build.ROOT, capture_output=True, text=True)
            took = time.time() - t0
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            with open(out_path, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed} ({took:.0f} s): " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, xs in values.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            share = (q3 - q1) / med if med else float("inf")
            ratio = share / bounds[k]
            worst = max(worst, ratio)
            print(f"  {w} {k}: median {med:.5g}, IQR/median {share:.4f}, of bound {ratio:.2f}",
                  flush=True)
    print(f"worst spread/bound: {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
