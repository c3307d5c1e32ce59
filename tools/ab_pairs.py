#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark: this working tree against a
parent commit.

    python3 tools/ab_pairs.py --workload ingest --seeds 101-110 \
        [--parent HEAD] [--out pairs.json]

Runs `python3 perfbench/run.py` once in this checkout and once in a
checkout of the parent commit per seed, one pair per seed, and swaps which
side runs first from one pair to the next. The parent checkout is a
`git archive` export of the parent commit into a temporary directory
(under $TMPDIR), made for the run and removed after it; it registers
nothing in the repository, so a killed run leaves no state behind but
that directory. Each side runs its own `perfbench/run.py`, unchanged,
from the root of its own checkout, for the `run_seconds` that
BENCHMARK.json sets.

Prints, per pair, both sides' op_p50_ms and the CPU steal during each
run; then each side's median and quartiles of every end-to-end metric,
the number of pairs the change won on op_p50_ms (ties count for neither
side), and the parent's quartile spread (q3 - q1). The gain rule is met
when the change wins at least nine tenths of the pairs and the medians
differ, in the better direction, by more than that spread. For ingest it
also says, per seed, whether the two builds wrote warehouses with the
same content hash (`.bench_build/ingest_hashes.json`).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the metric the gain is claimed on
METRIC = "op_p50_ms"


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def bench_run(checkout, workload, seed, seconds):
    """One benchmark run in `checkout`: its metrics, correctness and steal."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        capture_output=True, text=True, cwd=checkout)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    steal = [ln.split("cpu steal ")[1].split("%")[0] for ln in lines
             if "cpu steal " in ln]
    return {"seed": seed, "exit": p.returncode,
            "wall_s": round(time.time() - t0, 1),
            "steal_pct": float(steal[0]) if steal else None,
            "correct": result.get("correct", False),
            "metrics": {k: v["value"]
                        for k, v in result.get("metrics", {}).items()},
            "hash": warehouse_hash(checkout, seed) if workload == "ingest"
            else None}


def warehouse_hash(checkout, seed):
    """The ingest warehouse hash the checkout's current build recorded for
    `seed`, or None."""
    build = os.path.join(checkout, ".bench_build")
    classes = [d for d in glob.glob(os.path.join(build, "classes-*"))
               if not d.endswith(".tmp")]
    ledger = os.path.join(build, "ingest_hashes.json")
    if len(classes) != 1 or not os.path.exists(ledger):
        return None
    prefix = f"{os.path.basename(classes[0]).split('-', 1)[1]}:{seed}:"
    with open(ledger) as f:
        found = [h for k, h in json.load(f).items() if k.startswith(prefix)]
    return found[0] if len(found) == 1 else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(runs, better, bounds):
    pairs = [(r["parent"], r["change"]) for r in runs]
    print(f"{'pair':>4} {'seed':>6} {'first':>6} {'parent':>12} "
          f"{'change':>12} {'steal p/c %':>12}  winner")
    wins = losses = 0
    for i, (r, (p, c)) in enumerate(zip(runs, pairs)):
        pv, cv = p["metrics"].get(METRIC), c["metrics"].get(METRIC)
        if not (p["correct"] and c["correct"]) or pv is None or cv is None:
            winner = "incorrect run"
        elif pv == cv:
            winner = "tie"
        elif (cv < pv) == (better == "lower"):
            winner, wins = "change", wins + 1
        else:
            winner, losses = "parent", losses + 1
        fmt = lambda v: f"{v:12.1f}" if v is not None else f"{'-':>12}"
        steal = "/".join(f"{s['steal_pct']:.1f}" if s["steal_pct"] is not None
                         else "-" for s in (p, c))
        print(f"{i + 1:>4} {r['seed']:>6} {r['first']:>6} {fmt(pv)} "
              f"{fmt(cv)} {steal:>12}  {winner}")

    print(f"\n{'metric':<14} {'side':<7} {'q1':>12} {'median':>12} "
          f"{'q3':>12}   change vs parent (bound)")
    summary = {}
    for m in sorted({k for p, c in pairs for k in p["metrics"]}):
        side = {}
        for name, idx in (("parent", 0), ("change", 1)):
            xs = [pc[idx]["metrics"][m] for pc in pairs
                  if pc[idx]["correct"] and m in pc[idx]["metrics"]]
            if xs:
                side[name] = quartiles(xs)
        for name, (q1, med, q3) in side.items():
            note = ""
            if name == "change" and "parent" in side:
                note = (f"   {100 * (med / side['parent'][1] - 1):+.1f}% "
                        f"({100 * bounds.get(m, 0):.0f}%)")
            print(f"{m:<14} {name:<7} {q1:12.2f} {med:12.2f} {q3:12.2f}{note}")
        summary[m] = side

    n = len(pairs)
    print(f"\n{METRIC}: change won {wins} of {n} pairs (lost {losses}, "
          f"{n - wins - losses} ties or incorrect runs)")
    if "parent" in summary.get(METRIC, {}) and "change" in summary[METRIC]:
        pq1, pmed, pq3 = summary[METRIC]["parent"]
        cmed = summary[METRIC]["change"][1]
        gain = pmed - cmed if better == "lower" else cmed - pmed
        met = wins >= 0.9 * n and gain > pq3 - pq1
        print(f"median {pmed:.2f} -> {cmed:.2f} ({100 * (cmed / pmed - 1):+.1f}%); "
              f"gain {gain:.2f} vs the parent's quartile spread "
              f"{pq3 - pq1:.2f}; gain rule {'met' if met else 'NOT met'}")
    hashes = [(r["seed"], r["parent"]["hash"], r["change"]["hash"])
              for r in runs if r["parent"]["hash"] or r["change"]["hash"]]
    for seed, ph, ch in hashes:
        same = "equal" if ph and ph == ch else "DIFFERENT" if ph and ch else "missing"
        print(f"warehouse hash, seed {seed}: {same} (parent {ph}, change {ch})")
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="first-last, e.g. 101-110: seeds not used while "
                         "the change was written")
    ap.add_argument("--parent", default="HEAD",
                    help="commit to compare against (default HEAD, i.e. the "
                         "working tree's uncommitted change)")
    ap.add_argument("--out", help="write every run as JSON here")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}[METRIC]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    tmp = tempfile.mkdtemp(prefix="ab_pairs_")
    parent = os.path.join(tmp, "parent")
    runs = []
    try:
        os.mkdir(parent)
        archive = subprocess.run(["git", "-C", ROOT, "archive", a.parent],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        for i, seed in enumerate(seeds(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = bench_run(parent if side == "parent" else ROOT,
                                       a.workload, seed, bench["run_seconds"])
                print(f"# pair {i + 1} seed {seed} {side}: "
                      f"{METRIC}={pair[side]['metrics'].get(METRIC)} "
                      f"correct={pair[side]['correct']} "
                      f"steal={pair[side]['steal_pct']}%", flush=True)
            runs.append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print()
    summary = report(runs, better, bounds)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds,
                       "parent": a.parent, "metric": METRIC, "runs": runs,
                       "quartiles": summary}, f, indent=1)


if __name__ == "__main__":
    main()
