#!/usr/bin/env python3
"""Runs one workload once per seed and prints, for each metric, the median
and the distance between the first and third quartiles as a share of the
median: the spread a metric's bound in BENCHMARK.json must cover. From the
repository root:

    python3 benchmark/spread.py --workload corpus --seeds 1 2 3 4 5
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", default="40")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values, failed = {}, 0
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, text=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        print(json.dumps(dict(res, seed=seed)), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{args.workload}: {len(args.seeds)} runs, {failed} failed operations")
    for k, xs in values.items():
        q1, q2, q3 = metrics.quartiles(xs)
        print(f"  {k:<14} median {q2:.4g}  iqr/median {metrics.iqr_share(xs):.3f}"
              f"  min {min(xs):.4g}  max {max(xs):.4g}")


if __name__ == "__main__":
    main()
