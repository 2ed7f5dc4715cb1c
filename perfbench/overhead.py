"""Tracing overhead: the same workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload mv_rollup --seed 1 --seconds 30

Prints, for every end-to-end metric, its untraced value, the traced
run's `traced.<metric>`, and the difference as a share of the untraced
value.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = str(Path(__file__).resolve().parent / "run.py")


def result(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    args = ap.parse_args()
    plain, traced = result(args, 0), result(args, 1)
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        share = (t - m["value"]) / m["value"]
        print(f"{name:22s} {m['value']:12.4g} {t:12.4g} {share:+8.1%} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
