"""Run one workload once per seed and report each metric's median and
quartile spread ((Q3 - Q1) / median) against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload jelly_bulk --seeds 1-10

Runs are sequential; each run's JSON result is kept in
``perfbench/.run/spread/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out_dir = os.path.join(ROOT, "perfbench", ".run", "spread")
    os.makedirs(out_dir, exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(out_dir, f"{args.workload}-s{seed}.json"), "w") as fh:
            json.dump(res, fh)
        results.append(res)
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']}", flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        spread = quartile_spread(values)
        bound = bounds.get(name)
        flag = "" if bound is None else f"  bound {bound}{'  OVER' if spread > bound else ''}"
        print(f"{name:45s} median {median(values):14.4f}  spread {spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
