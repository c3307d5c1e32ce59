#!/usr/bin/env python3
"""Empty-input sweep: every query against schema-only copies of the tables.

Usage: python3 tools/edge_sweep.py <sfDir>

Writes a zero-row copy of each of the ten tables of <sfDir> (same Arrow
schema, footer metadata included) under $TMPDIR, runs `graft.Verify` over
the copies from this checkout, then `tools/check.py` against DuckDB on the
same files. Prints the failing and throwing queries, then one summary line

    edge sweep: <pass> pass, <fail> fail, <throwing> throwing

where throwing counts the `[verify] <query> failed` lines (a throwing query
is also a fail). The temp dir is removed at the end. Its name is fixed, so
the fixtures Verify derives from it under `target/tmp` are re-keyed, and
the previous run's swept, on every run. `SPARK_GRAFT_CPUS` passes through
to Verify.
"""
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def write_empty_tables(src, dst):
    os.makedirs(dst)
    for t in TABLES:
        schema = pq.read_schema(os.path.join(src, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), os.path.join(dst, f"{t}.parquet"))


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(tempfile.gettempdir(), "graft_edge_sweep")
    shutil.rmtree(work, ignore_errors=True)
    empty, out = os.path.join(work, "empty"), os.path.join(work, "verify")
    try:
        write_empty_tables(sys.argv[1], empty)
        verify = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {empty} {out}"],
            cwd=repo, capture_output=True, text=True)
        throwing = sorted(set(re.findall(r"\[verify\] (\S+) failed",
                                         verify.stdout + verify.stderr)))
        if not os.path.exists(os.path.join(out, "oracle_sql.json")):
            sys.exit("graft.Verify did not finish:\n" + verify.stdout[-4000:])
        check = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "check.py"),
             empty, out], capture_output=True, text=True)
        for line in check.stdout.splitlines():
            if line.startswith("FAIL"):
                print(line)
        for name in throwing:
            print(f"THROWS {name}")
        summary = re.search(r"(\d+) pass, (\d+) fail", check.stdout)
        if not summary:
            sys.exit("tools/check.py printed no summary:\n" +
                     check.stdout[-2000:] + check.stderr[-2000:])
        print(f"edge sweep: {summary.group(1)} pass, {summary.group(2)} "
              f"fail, {len(throwing)} throwing")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
