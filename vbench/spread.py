#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 vbench/spread.py --workload ingest_cow --seeds 1 10

Each run measures BENCHMARK.json's run_seconds; its full result is kept
in vbench/out/. Exits non-zero if a run fails or a spread exceeds its
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, required=True, metavar=("FIRST", "LAST"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.seeds[0], a.seeds[1] + 1):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            print(out.stdout[-2000:], out.stderr[-2000:], sep="\n")
            sys.exit(f"seed {seed}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        for n in values:
            values[n].append(res["metrics"][n]["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()),
              flush=True)
    ok = True
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        within = spread <= m["bound"]
        ok &= within
        print(f"{a.workload} {m['name']}: median {med:.4g} {m['unit']}, quartile spread "
              f"{spread:.3f} of the median, bound {m['bound']} "
              f"({spread / m['bound']:.2f} of it){'' if within else '  EXCEEDED'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
