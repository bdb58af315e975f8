#!/usr/bin/env python3
"""Benchmark entry point. Run from the repo root:

  python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 \
      --trace 0

It builds the engine and the benchmark program (perfbench/build.py; only
the first run in a checkout compiles), runs one workload in a JVM, checks every
result, and prints one JSON line with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run also writes its spans, with self
times, to .bench_build/perfbench/trace/.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("interactive", "maintained_folds")
REFERENCE = os.path.join("perfbench", "reference.json")


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", metavar="FILE",
                   help="write the interactive results' fingerprints to FILE")
    return p.parse_args()


def main():
    t0 = time.time()
    a = parse()
    try:
        compiled = build.build()
    except (OSError, subprocess.CalledProcessError, SystemExit) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    deadline = t0 + (880 if compiled else 170)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(build.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, name + ".json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", build.fixtures(), "--work", build.WORK,
            "--refs", REFERENCE, "--oracles", build.ORACLES,
            "--out", out]
    if a.record:
        args += ["--record", a.record]
    log = os.path.join(out_dir, name + ".log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(build.java("graftbench.PerfBench", args),
                                stdout=lf, stderr=lf,
                                timeout=max(1.0, deadline - time.time())
                                ).returncode
        except subprocess.TimeoutExpired:
            print(f"perfbench: {name} timed out; see {log}", file=sys.stderr)
            return 1
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: {name} exited {rc}; see {log}", file=sys.stderr)
        return 1
    with open(out) as f:
        rec = json.load(f)
    attempted, failed = stats.counts(rec)
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"perfbench: {o['kind']} {o['name']} failed: {o['error']}",
                  file=sys.stderr)
    if a.trace:
        metrics = stats.per_layer(rec)
        trace_dir = os.path.join(build.WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, name + ".json"), "w") as f:
            json.dump(stats.trace_artifact(rec), f, indent=1)
    else:
        metrics = stats.end_to_end(rec)
    print(f"perfbench: workload={a.workload} seed={a.seed} sf={rec['sf']} "
          f"local[{rec['cores']}] shuffle_partitions="
          f"{rec['shuffle_partitions']} iterations={rec['iterations']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
