#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 backfill trickle board

Runs `run.py` once per seed (1..runs) for each workload, sequentially, and
prints for each metric the median and the distance between the first and
third quartile as a share of the median, next to the metric's bound in
BENCHMARK.json. Per-run result lines go to perfbench/work/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("workloads", nargs="+")
    args = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs("perfbench/work", exist_ok=True)
    for w in args.workloads:
        rows = []
        for seed in range(1, args.runs + 1):
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            res = json.loads(last) if out.returncode == 0 else {"correct": False}
            res["seed"] = seed
            rows.append(res)
            print(f"{w} seed {seed}: exit {out.returncode} correct {res.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
        with open(f"perfbench/work/spread-{w}.jsonl", "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        ok = [r for r in rows if r.get("correct")]
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in ok]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"{w} {name}: median {med:.4g} spread {(q3 - q1) / med:.3f} "
                  f"(bound {bound}, a third {bound / 3:.3f})", flush=True)


if __name__ == "__main__":
    main()
