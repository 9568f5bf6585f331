#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload once per
seed, back to back, and prints each metric's median and spread (the
distance between the first and third quartile as a share of the median).

    python3 perfbench/steadiness.py --workload ragged --seeds 301-310

The per-run values and the summary go to
perfbench/out/steadiness-<workload>-<first seed>.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 301-310")
    ap.add_argument("--seconds", default="30")
    args = ap.parse_args()
    first, last = (int(s) for s in args.seeds.split("-"))
    values, walls = {}, []
    for seed in range(first, last + 1):
        t0 = time.monotonic()
        done = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                               "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                              capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if done.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{done.stderr[-2000:]}")
        result = json.loads(done.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: {result['failed']} of {result['attempted']} executions failed")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s", flush=True)
    summary = {name: {"median": stats.median(v), "spread": stats.iqr_share(v), "values": v}
               for name, v in values.items()}
    for name, s in summary.items():
        print(f"{name:16s} median {s['median']:.5g}  spread {s['spread']:.1%}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steadiness-{args.workload}-{first}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seeds": [first, last], "run_wall_s": walls,
                   "metrics": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
