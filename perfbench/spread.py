"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload crawl --seeds 101-110 [--seconds 12]

The spread is the interquartile range of the per-seed values (Python's
``statistics.quantiles(values, n=4)``) as a share of their median; it is
what BENCHMARK.json's bounds are checked against.  Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, str(RUN), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace],
            capture_output=True, text=True, check=False)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed}: exit {out.returncode} correct={res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res.get("metrics", {}).items()), flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {med:12.4f}  spread {spread:7.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
