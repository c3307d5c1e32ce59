#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
quartile spread, the way the benchmark is judged for steadiness: the
distance between the first and third quartile of the values
(`statistics.quantiles(values, n=4)`) as a share of their median.

    python3 perfbench/steadiness.py --workload ingest --seeds 1-10 [--out f.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", a.seconds],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        steal = [ln.split("cpu steal ")[1].split("%")[0] for ln in lines
                 if "cpu steal " in ln]
        runs.append({"seed": seed, "exit": p.returncode,
                     "wall_s": round(time.time() - t0, 1),
                     "cpu_steal_pct": float(steal[0]) if steal else None,
                     "samples": [ln for ln in lines if "samples" in ln],
                     "correct": result.get("correct"),
                     "metrics": {k: v["value"] for k, v in
                                 result.get("metrics", {}).items()}})
        print(json.dumps(runs[-1]), flush=True)
    spread = {}
    for m in runs[0]["metrics"]:
        values = [r["metrics"][m] for r in runs if m in r["metrics"]]
        q1, _, q3 = statistics.quantiles(values, n=4)
        median = statistics.median(values)
        spread[m] = {"median": median, "spread": (q3 - q1) / median}
        print(f"{m:20} median {median:12.4f}  spread {(q3 - q1) / median:.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds,
                       "spread": spread, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
