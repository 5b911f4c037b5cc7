#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end metrics.

    python3 perfbench/overhead.py --workload spatial_select --seed 1 --seconds 15

Runs the benchmark twice with the same seed, ``--trace 0`` then
``--trace 1``, and prints each end-to-end metric of both runs and their
difference (the traced run keeps its end-to-end figures in its sidecar).
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--out-dir", default=os.path.join(os.getcwd(), ".perfbench_out"))
    args = ap.parse_args()
    values = {}
    for trace in (0, 1):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(trace), "--out-dir", args.out_dir],
            capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            return proc.returncode
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        if trace:
            path = os.path.join(args.out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path) as f:
                values[trace] = json.load(f)["end_to_end"]
        else:
            values[trace] = {k: v["value"] for k, v in last["metrics"].items()}
    print(f"{'metric':16s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for name, plain in values[0].items():
        traced = values[1][name]
        print(f"{name:16s} {plain:12.3f} {traced:12.3f} {traced - plain:+16.3f}"
              f" ({(traced - plain) / plain:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
