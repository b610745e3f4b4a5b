#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the spread (inter-quartile range over the median), next
to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload batch_queries --seeds 1-10 [--out runs.jsonl]

Each run's result line (plus its seed and wall time) is appended to
`--out` when given.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description="Median and spread of a workload over seeds.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        last = json.loads(p.stdout.decode().strip().splitlines()[-1])
        rec = {"seed": s, "exit": p.returncode, "wall_s": round(time.time() - t0, 1), **last}
        runs.append(rec)
        print(json.dumps(rec), flush=True)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        print(f"{m['name']:>12}: median {median(vals):.4f} {m['unit']}  spread "
              f"{spread(vals):.3f}  bound {m['bound']}  (target < {m['bound'] / 3:.3f})")
    print(f"run wall: median {median([r['wall_s'] for r in runs])} s; "
          f"failed runs: {sum(1 for r in runs if r['exit'] != 0)}")


if __name__ == "__main__":
    main()
