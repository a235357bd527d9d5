"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload lake_read --seeds 1-10 --seconds 1 [--trace 0]

For every metric it prints the median of the per-run values and the
distance between their first and third quartiles as a share of the median
(``statistics.quantiles(values, n=4)``), which is how the benchmark's
bounds are judged. Runs go one after another, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed",
               str(seed), "--seconds", args.seconds, "--trace", args.trace]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(last)
        summary = [ln for ln in proc.stderr.splitlines() if ln.startswith("session ")]
        print(f"seed {seed}: {time.time() - t0:.0f}s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}; {' '.join(summary)}",
              flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        share = (q3 - q1) / med if med else 0.0
        print(f"{name:36s} median {med:12.4f}  iqr/median {share:7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
