#!/usr/bin/env python3
"""Run a set of engine benchmark runs, one per seed, and keep their outputs.

    python3 enginebench/series.py --workload query_indexed --seeds 1-10 --out DIR [--trace 0]

Writes DIR/<workload>-<seed>.out (stdout) and .err (stderr) per run, with
the run length taken from BENCHMARK.json. Compare two such directories
with enginebench/compare.py.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for seed in seeds(args.seeds):
        stem = out / f"{args.workload}-{seed}"
        t0 = time.monotonic()
        with open(f"{stem}.out", "w") as so, open(f"{stem}.err", "w") as se:
            rc = subprocess.call(
                [sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=ROOT, stdout=so, stderr=se)
        print(f"{args.workload} seed {seed}: exit {rc} in {time.monotonic() - t0:.1f} s",
              flush=True)


if __name__ == "__main__":
    main()
