"""Run the benchmark over several seeds and report each metric's median
and spread (interquartile distance / median), the steadiness figure the
end-to-end bounds in BENCHMARK.json are judged against.

    python3 perfbench/spread.py --workload crawl-large --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: rc={proc.returncode} wall={time.time() - t0:.1f}s "
              f"correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                         if k in {m['name'] for m in bench['end_to_end']} or args.trace),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) >= 2:
        bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
        for k, vs in values.items():
            if k in bounds or not args.trace:
                print(f"{k}: median={median(vs):.6g} spread={spread(vs):.4f} "
                      f"bound={bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
