#!/usr/bin/env python3
"""Per-layer deltas between two traced benchmark runs.

    python3 perfbench/run.py --workload ingest --seed 7 --trace 1 > parent.out
    python3 perfbench/run.py --workload ingest --seed 7 --trace 1 > change.out
    python3 tools/layer_diff.py parent.out change.out

Each input is the saved stdout of one `perfbench/run.py --trace 1` run; its
last line starting with `{` is the run's JSON result. Prints both runs'
`correct`, then one row per `per_layer` metric that BENCHMARK.json names,
in its order: the parent's value, the change's, the delta (change -
parent) and the ratio (change / parent; `-` when the parent's value is 0).
Counts print as integers. A metric missing from a run prints as `-`.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def result(path):
    """The JSON result line of one saved run stdout."""
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
    if not lines:
        sys.exit(f"{path}: no JSON result line")
    return json.loads(lines[-1])


def fmt(value, unit):
    if value is None:
        return "-"
    return str(round(value)) if unit == "count" else f"{value:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[0] +
                 "\nusage: layer_diff.py PARENT_STDOUT CHANGE_STDOUT")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        layers = json.load(f)["per_layer"]
    parent, change = result(sys.argv[1]), result(sys.argv[2])
    print(f"correct: parent {parent.get('correct')}, "
          f"change {change.get('correct')}")
    rows = [("metric", "unit", "parent", "change", "delta", "ratio")]
    for m in layers:
        name, unit = m["name"], m["unit"]
        p = parent.get("metrics", {}).get(name, {}).get("value")
        c = change.get("metrics", {}).get(name, {}).get("value")
        both = p is not None and c is not None
        delta = c - p if both else None
        ratio = f"{c / p:.3f}" if both and p != 0 else "-"
        rows.append((name, unit, fmt(p, unit), fmt(c, unit),
                     fmt(delta, unit), ratio))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(cell.ljust(w) if i < 2 else cell.rjust(w)
                        for i, (cell, w) in enumerate(zip(r, widths))))


if __name__ == "__main__":
    main()
