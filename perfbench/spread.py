#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the check a benchmark
change must pass: run one workload once per seed and report, for each
metric, the median and the distance between the first and third
quartiles as a share of the median, next to the metric's bound.

  python3 perfbench/spread.py --workload interactive --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {}
    for s in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}\n{out.stderr}")
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:18s} median={med:.4g} {m['unit']} "
              f"spread={share:.3f} bound={m['bound']}")


if __name__ == "__main__":
    main()
