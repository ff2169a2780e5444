"""Run-to-run spread check: runs one workload on several seeds and prints,
for each metric, its values, median and interquartile spread as a share
of the median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload retrieval --seeds 1-10 [--trace 0]

A metric is steady when its spread stays below a third of its bound.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, spread  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for s in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {time.time() - t0:.1f} s wall, correct "
              f"{res['correct']}, {res['failed']}/{res['attempted']} failed",
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        sp = spread(vs) if len(vs) >= 2 and median(vs) else float("nan")
        b = bounds.get(k)
        print(f"{k:28s} median {median(vs):12.4f}  spread {sp:7.4f}"
              + (f"  bound {b}" if b is not None else "")
              + "  " + " ".join(f"{v:.4g}" for v in vs))


if __name__ == "__main__":
    main()
