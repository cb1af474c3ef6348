#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median) next to its bound.

    python3 perfbench/spread.py --workload api_mix --seeds 1-10

Run from the repository root; each run is a full `run.py` invocation.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    lo, hi = map(int, args.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        env = next((ln for ln in lines if ln.startswith("env: ")), "")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
              f" | {env} wall={time.time() - t0:.1f}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        spread = stats.quartile_spread(xs) if len(xs) >= 2 else float("nan")
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- over a third of the bound"
        print(f"{m['name']:32s} median={stats.median(xs):12.4f} spread={spread:.4f} "
              f"bound={m['bound']}{flag}")


if __name__ == "__main__":
    main()
