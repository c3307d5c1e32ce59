#!/usr/bin/env python3
"""Compare two directories of physical plans written by `graft.Dev plan --to`.

    sbt "runMain graft.Dev plan --to before p <sfDir> q_a q_b"
    ... change the code ...
    sbt "runMain graft.Dev plan --to after p <sfDir> q_a q_b"
    python3 tools/plan_diff.py before after

Files are `<query>_<suffix>.txt` (the suffix has no underscore); they pair
by query name, so the two directories may use different suffixes. Before
comparing, each plan is normalized: expression ids (`#123`), `plan_id=`,
RDD ids and the source lines that created them (`MapPartitionsRDD[12] at
localCheckpoint at Foo.scala:34`), broadcast ids (`Broadcast(7)`), UUIDs,
JVM lambda class names and identity hashes, the checkout root before
`target/tmp` and `target/spark-warehouse` (so a `git archive` export of
another commit, run from its own directory, pairs with the working tree)
and the stamp suffixes of `target/tmp` directories. Prints `same` or `differs` per query, with a
unified diff of the normalized plans for each differing query, and a
query found in one directory only as `only in <dir>`. Exits 1 if any
query differs or is missing on one side.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"/[^\s,\[\]]*?/target/(?=tmp/|spark-warehouse/)"),
     "<root>/target/"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]( at \w+ at )[\w$.]+:\d+"), r"RDD[]\1<site>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast()"),
    (re.compile(r"[0-9a-f]{8}(-?[0-9a-f]{4}){3}-?[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\$Lambda[$/]?[0-9]*/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@"),
    (re.compile(r"(target/tmp/[^/\s,\])]*)_[0-9a-f]+(?=[/\s,\])]|$)"),
     r"\1_<stamp>"),
]


def normalized(path):
    with open(path) as f:
        text = f.read()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(directory):
    """Query name -> plan file of one `Dev plan --to` directory."""
    return {name.rsplit("_", 1)[0]: os.path.join(directory, name)
            for name in sorted(os.listdir(directory))
            if name.endswith(".txt") and "_" in name}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[0] +
                 "\nusage: plan_diff.py BEFORE_DIR AFTER_DIR")
    before_dir, after_dir = sys.argv[1:]
    before, after = plans(before_dir), plans(after_dir)
    bad = False
    for query in sorted(before.keys() | after.keys()):
        if query not in after or query not in before:
            print(f"{query}: only in "
                  f"{before_dir if query in before else after_dir}")
            bad = True
            continue
        a, b = normalized(before[query]), normalized(after[query])
        if a == b:
            print(f"{query}: same")
            continue
        bad = True
        print(f"{query}: differs")
        sys.stdout.writelines(difflib.unified_diff(
            a, b, before[query], after[query]))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
