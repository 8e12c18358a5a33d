#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median,
quartiles and spread (interquartile range over the median).

    python3 perfbench/spread.py --workload dedup --seeds 1 2 3 4 5 \\
        [--seconds 1] [--trace 0] [--json-out runs.json]

Runs one seed at a time from the checkout root, as the benchmark is
meant to be run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["run_s"] = time.monotonic() - t0
    res["seed"] = seed
    return res


def spread(runs: list[dict]) -> dict[str, dict]:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "unit": runs[0]["metrics"][name]["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json-out")
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        runs.append(run_once(args.workload, seed, args.seconds, args.trace))
        r = runs[-1]
        print(f"seed {seed}: {r['run_s']:.1f} s, correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", flush=True)
    stats = spread(runs)
    for name, s in stats.items():
        if s["median"]:
            print(f"  {name:<48} median {s['median']:.4f} {s['unit']:<6} "
                  f"q1 {s['q1']:.4f} q3 {s['q3']:.4f} spread {s['spread']:.3f}")
    print(f"  run time: median {statistics.median(r['run_s'] for r in runs):.1f} s, "
          f"max {max(r['run_s'] for r in runs):.1f} s")
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "stats": stats}, fh,
                      indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
