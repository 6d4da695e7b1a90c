#!/usr/bin/env python3
"""Run the benchmark on several seeds of one workload and print, per metric,
the median and the inter-quartile spread as a share of the median (the
steadiness figure each end-to-end bound is held against). Run from the
repository root:

    python3 perfbench/spread.py --workload sparse_recent --seeds 1-10 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import median, spread  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--out", help="append each run's result line to this JSONL file")
    args = p.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
            "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0",
        ]
        out = subprocess.run(cmd, capture_output=True, text=True)
        if out.returncode != 0:
            print(out.stderr[-4000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res.update(workload=args.workload, seed=seed, run_s=time.time() - t0)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: correct={res['correct']} run {res['run_s']:.1f}s", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        s = f"{spread(v):.4f}" if len(v) >= 2 else "-"
        print(f"{args.workload:>15} {k:<28} median {median(v):>14.6g}  spread {s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
