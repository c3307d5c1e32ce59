#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources together with the harness (`perfbench/build.py`); every run then
generates its inputs from the seed (`perfbench/gen.py`), empties the
program's on-disk caches, times the workload in a fresh JVM
(`perfbench.Main`), checks the outputs (`perfbench/checks.py`) outside the
timed region and prints, last, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 listeners and spans are attached
and the metrics are the per-layer ones. Workload shapes and query lists
live in `perfbench/workloads.json`; metric definitions in BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

from build import BUILD, ROOT, SPARK_JARS, build, die, log  # noqa: E402

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(dirpath, f))
               for dirpath, _, files in os.walk(path) for f in files)


def generate(spec, seed, work):
    """The workload's inputs, a pure function of the seed."""
    import gen
    data = os.path.join(work, "data")
    if "tables" in spec:
        gen.tables(os.path.join(data, "tables"), seed, spec["tables"])
    if "scraped" in spec:
        gen.scraped(os.path.join(data, "scraped"), seed, spec["scraped"])
    return data


def run_jvm(classes, jvm, args, log_path, deadline):
    cmd = (["java", *jvm["options"], "-Xss8m",
            f"-Djava.io.tmpdir={args['work']}/jvm-tmp"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}",
              "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{args['work']}/jvm-tmp", exist_ok=True)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=args["work"])
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(args["out"]):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    with open(args["out"]) as f:
        return json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile of the samples."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def warehouses(report, work):
    """The warehouse directory of every ingest batch that completed."""
    return [os.path.join(work, "wh", str(s["op"]))
            for s in report["samples"] + report["traced_samples"] if s["ok"]]


def check(name, spec, report, data, work, seed, classes):
    """Output checks. Returns (op names judged wrong, problems)."""
    import checks
    problems = [f"failed: {f}" for f in report["failures"]]
    if name == "ingest":
        expected = checks.expected_warehouse(os.path.join(data, "scraped"))
        hashes = set()
        for wh in warehouses(report, work):
            got = checks.warehouse_counts(wh)
            if got != expected:
                diff = {k: (got.get(k), v) for k, v in expected.items()
                        if got.get(k) != v}
                problems.append(f"{wh}: row counts (got, expected) {diff}")
            hashes.add(checks.warehouse_hash(wh))
        if len(hashes) > 1:
            problems.append(f"warehouse content differs between batches: {hashes}")
        ledger = os.path.join(BUILD, "ingest_hashes.json")
        known = json.load(open(ledger)) if os.path.exists(ledger) else {}
        if hashes:
            h = hashes.pop()
            # same sources, seed and shape: the same warehouse in every
            # JVM; another version of the program may write another one
            digest = os.path.basename(classes).split("-", 1)[1]
            key = f"{digest}:{seed}:{json.dumps(spec['scraped'], sort_keys=True)}"
            if known.setdefault(key, h) != h:
                problems.append(f"warehouse hash {h} differs from an earlier "
                                f"run of the same build and seed ({known[key]})")
            with open(ledger, "w") as f:
                json.dump(known, f)
        return set(), problems
    wrong, lines = checks.oracle_failures(
        ROOT, os.path.join(data, "tables"), os.path.join(work, "results"),
        spec["queries"])
    problems += [ln for ln in lines if ln.startswith("FAIL")]
    return wrong, problems


def bytes_per_input_byte(report, data, work):
    """Warehouse bytes on disk per input NDJSON byte, median over the
    ingest batches' warehouses."""
    whs = warehouses(report, work)
    ndjson = dir_bytes(os.path.join(data, "scraped"))
    return statistics.median(dir_bytes(w) for w in whs) / ndjson if whs else 0.0


def end_to_end(name, spec, report, good):
    """setup_s, and the workload's operation latency and throughput."""
    secs = [s["seconds"] for s in good]
    per_op = {"ingest": spec.get("scraped", {}).get("records", 0),
              "analytics": len(spec.get("queries", []))}.get(name, 1)
    return {
        "setup_s": statistics.median(report["setup_s"]),
        "op_p50_ms": quantile(secs, 0.5) * 1e3,
        "op_p90_ms": quantile(secs, 0.9) * 1e3,
        "throughput_per_s": per_op * len(secs) / sum(secs),
        "live_heap_mb": min(report["live_heap_mb"]),
    }


def per_layer(report, failed, attempted, wh_ratio):
    """The harness's per-layer ledger plus the run-level ratios."""
    layers = dict(report["layers"])
    untraced = [s["seconds"] for s in report["samples"] if s["ok"]]
    traced = [s["seconds"] for s in report["traced_samples"]
              if s["ok"] and s["kind"] != "staged"]
    layers["trace.overhead_ratio"] = (
        statistics.median(traced) / statistics.median(untraced) - 1)
    layers["normalize.stage_sum_over_run"] = report["stage_sum_over_run"] or 0.0
    layers["sinks.bytes_per_input_byte"] = wh_ratio
    layers["ops_failed_ratio"] = failed / attempted
    return layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    load_start = loadavg()
    for need in ("BENCHMARK.json", "tools/check.py", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a full checkout")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    conf = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in conf["workloads"]:
        die(f"unknown workload {a.workload}")
    spec = conf["workloads"][a.workload]
    classes = build()

    # a fresh work dir per run: the program's on-disk caches (fixtures,
    # warehouses, contraction inputs) live under it, so every run
    # rebuilds them inside setup_s
    work = os.path.join(BUILD, "work", a.workload)
    cleared = dir_bytes(work) if os.path.isdir(work) else 0
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = generate(spec, a.seed, work)
    scraped = os.path.join(data, "scraped")
    t_jvm, ticks = time.time(), cpu_ticks()
    report = run_jvm(classes, conf["jvm"], {
        "workload": a.workload, "data": os.path.join(data, "tables"),
        "input": scraped,
        "warm_input": os.path.join(scraped, "part-000.json"),
        "records": spec.get("scraped", {}).get("records", 0),
        "work": work, "out": os.path.join(work, "report.json"),
        "seconds": a.seconds, "trace": a.trace,
        "cores": len(os.sched_getaffinity(0)), "seed": a.seed,
        "queries": ",".join(spec.get("queries", [])),
    }, os.path.join(work, "jvm.log"), started + 170)
    jvm_s = time.time() - t_jvm
    steal = [b - a for a, b in zip(ticks, cpu_ticks())]

    wrong, problems = check(a.workload, spec, report, data, work, a.seed,
                            classes)
    if a.workload == "analytics":
        # a pass is wrong if any of its queries' results is wrong
        bad = [s for s in report["query_samples"] if s["name"] in wrong]
    else:
        bad = [s for s in report["samples"] + report["traced_samples"]
               if s["name"] in wrong]
    bad_ops = {s["op"] for s in bad}
    attempted = int(report["attempted"])
    failed = min(attempted, int(report["failed"]) + len(bad))
    good = [s for s in report["samples"] if s["ok"] and s["op"] not in bad_ops]
    if a.trace and a.workload == "ingest":
        ratio = report["stage_sum_over_run"]
        bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}["op_p50_ms"]
        if ratio is None or abs(ratio - 1) > bound:
            problems.append(f"staged Normalize stages sum to {ratio} of "
                            f"Normalize.run's time, beyond the {bound} bound")
    if not good:
        problems.append("no operation completed correctly")
    correct = not problems and failed == 0

    e2e = end_to_end(a.workload, spec, report, good) if good else {}
    wh_ratio = (bytes_per_input_byte(report, data, work)
                if a.workload == "ingest" else 0.0)
    load_end = loadavg()

    # human-readable lines first, each timing with its sample count
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(op_p90_ms="ms", throughput_per_s="1/s")
    alias = {"ingest": {"op_p50_ms": "ingest_s, median batch",
                        "throughput_per_s": "ingest_rec_per_s"},
             "analytics": {"op_p50_ms": "analytics_s, median pass",
                           "throughput_per_s": "queries per second"}}[a.workload]
    for k, v in e2e.items():
        n = len(report["setup_s"]) if k == "setup_s" else len(good)
        print(f"# {k:<20} {v:14.4f} {units[k]:<5} n={n:<4} {alias.get(k, '')}")
    print(f"# ops_failed_ratio {failed}/{attempted}; "
          f"ingest_bytes_per_input_byte {wh_ratio:.4f}; "
          f"peak RSS {report['peak_rss_mb']:.0f} MB")
    secs = sorted(s["seconds"] for s in good)
    print(f"# setup_s samples {['%.2f' % x for x in report['setup_s']]}; op "
          + (f"samples {['%.3f' % s['seconds'] for s in good]}" if len(good) <= 12
             else f"seconds min {secs[0]:.3f} median {statistics.median(secs):.3f} "
                  f"max {secs[-1]:.3f}"))
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # slow host, not a slow program
    print(f"# loadavg start {load_start} end {load_end}; jvm {jvm_s:.1f} s, "
          f"cpu steal {100 * steal[0] / max(1, steal[1]):.1f}%; "
          f"cleared {cleared} bytes of earlier program caches")
    if a.trace:
        print(f"# spans by self time (trace in {work}/trace.json):")
        for k, v in sorted(report["self_time"].items(),
                           key=lambda kv: -kv[1]["self_s"]):
            print(f"#   {k:<28} n={v['count']:<4} total {v['total_s']:9.3f} s "
                  f"self {v['self_s']:9.3f} s")
    if a.trace and report["layers"]["exec.wall_s"] > 0:
        # where a traced op's core time goes: tasks (of which shuffle
        # write and fetch wait) against cores left idle between and
        # around the op's jobs, the per-job floor
        ly = report["layers"]
        core_s = ly["exec.wall_s"] * report["cores"]
        jobs = max(1.0, ly["scheduler.jobs"])
        print(f"# core time per op {core_s:.2f} core-s: tasks "
              f"{100 * ly['exec.task_run_s'] / core_s:.1f}% (shuffle write "
              f"{100 * ly['shuffle.write_s'] / core_s:.1f}%, fetch wait "
              f"{100 * ly['shuffle.fetch_wait_s'] / core_s:.1f}%), idle "
              f"{100 * ly['scheduler.idle_core_s'] / core_s:.1f}% over "
              f"{jobs:.0f} jobs, {1e3 * ly['exec.wall_s'] / jobs:.0f} ms "
              f"wall per job")
    for p in problems:
        print(f"# CHECK FAILED: {p}")
        log(f"check failed: {p}")

    if a.trace:
        values = per_layer(report, failed, attempted, wh_ratio)
        names = [m["name"] for m in bench["per_layer"]]
    else:
        values, names = e2e, [m["name"] for m in bench["end_to_end"]]
    metrics = {k: {"value": values[k], "unit": units[k]}
               for k in names if k in values}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
