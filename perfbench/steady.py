#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --workload search --seeds 1-10

Runs the benchmark once per seed, one run at a time, from the checkout
root, and prints per metric the median and the distance between the first
and third quartile as a share of the median (the spread the bound in
BENCHMARK.json is judged against), plus each run's wall time.
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
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{last}\n"
                  f"{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        out = json.loads(last)
        print(f"seed {seed}: wall {wall:.1f} s, attempted "
              f"{out['attempted']}, failed {out['failed']}, "
              + ", ".join(f"{k}={v['value']:.4g}"
                          for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) < 2 or med == 0:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        b = bounds.get(k)
        print(f"{k:40s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}"
              + (f"  bound {b} (spread/bound {(q3 - q1) / med / b:.2f})"
                 if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
