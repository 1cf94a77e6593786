#!/usr/bin/env python3
"""Compare two PlanDump outputs query by query.

    python3 scripts/plan_diff.py <dirA> <dirB>

Each directory holds one `<query>.txt` per SparkEntry query, as written by

    sbt "runMain graft.tools.PlanDump <outDir> <sfDir> [nameRegex]"

Before comparing, the ids that change from one construction of the same
plan to the next are normalized: expression ids (`#123`), lambda variable
names (`lambda x_32`, which Spark numbers per session), operator ids in
the tree and the node headings (`Sort (31)`, `(31) Sort`, `Reuses operator
id`, `Hosting operator id`), whole-stage codegen ids, plan ids, JVM
lambda object names, and the id and creation site (`file.scala:line`) of
the RDD under a checkpointed scan: moving the line that creates it
changes the site, not the plan.

For each query whose normalized plans differ, a unified diff is printed.
A query present in only one directory counts as differing. Exits 1 if
any query differs, 0 otherwise.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\blambda [A-Za-z_][A-Za-z0-9_]*"), "lambda v"),
    (re.compile(r"\(\d+\)$", re.M), "(N)"),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r"operator id[:=] ?\[?\d+\]?"), "operator id N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Subquery:\d+"), "Subquery:N"),
    (re.compile(r"\$Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [\w$.]+:\d+"), r"RDD[N] at \1 at <site>"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def read(d, name):
    path = os.path.join(d, name + ".txt")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return normalize(f.read())


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: plan_diff.py <dirA> <dirB>")
    a, b = sys.argv[1], sys.argv[2]
    for d in (a, b):
        if not os.path.isdir(d):
            sys.exit(f"plan_diff: {d} is not a directory")
    names = sorted(plans(a) | plans(b))
    differing = []
    for name in names:
        pa, pb = read(a, name), read(b, name)
        if pa == pb:
            continue
        differing.append(name)
        if pa is None or pb is None:
            print(f"--- {name}: only in {b if pa is None else a}")
            continue
        sys.stdout.writelines(difflib.unified_diff(
            pa.splitlines(keepends=True), pb.splitlines(keepends=True),
            fromfile=os.path.join(a, name + ".txt"),
            tofile=os.path.join(b, name + ".txt")))
    print(f"plan_diff: {len(differing)} of {len(names)} queries differ"
          + (": " + ", ".join(differing) if differing else ""))
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
