#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end
metric's spread: the interquartile range of its values as a share of
their median (``statistics.quantiles(values, n=4)``).

    python3 perfbench/stability.py --workload cms_daily --seeds 1-10 --seconds 30
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range a-b")
    ap.add_argument("--seconds", default="30")
    ap.add_argument("--out", help="write the summary JSON here")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(seed, json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}), flush=True)
    summary = {"workload": args.workload, "seeds": args.seeds, "correct": all(r["correct"] for r in runs)}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(vals), "spread": spread(vals), "values": vals}
        print(f"{name:12s} median {statistics.median(vals):10.4f}  spread {spread(vals):.4f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
