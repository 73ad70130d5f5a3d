#!/usr/bin/env python3
"""Diff two directories of PlanDump outputs, ignoring expression and plan ids.

Usage: python3 tools/plan_diff.py <parent-dir> <change-dir>

Each directory holds the `<query>.txt` files that
`SPARK_GRAFT_PLAN_OUT=<dir> sbt "runMain graft.PlanDump q1 q2 ..."` writes.
Expression ids (`#123`, `#123L`) and `plan_id=N` are stripped before the
files are compared, since they differ from one JVM to the next. Prints a
unified diff for every file that differs and every file present on one
side only, and exits 1 if there is any; exits 0 when the dumps agree.
"""
import difflib
import os
import re
import sys

_IDS = [re.compile(r"#[0-9]+L?"), re.compile(r"plan_id=[0-9]+")]


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern in _IDS:
        text = pattern.sub("", text)
    return text.splitlines(keepends=True)


def dumps(directory):
    return {name for name in os.listdir(directory) if name.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change = argv[1], argv[2]
    left, right = dumps(parent), dumps(change)
    if not left and not right:
        print(f"no .txt plan dumps in {parent} or {change}", file=sys.stderr)
        return 2
    differing = 0
    for name in sorted(left ^ right):
        side = parent if name in left else change
        print(f"only in {side}: {name}")
        differing += 1
    for name in sorted(left & right):
        a = os.path.join(parent, name)
        b = os.path.join(change, name)
        diff = list(difflib.unified_diff(normalized(a), normalized(b), a, b))
        if diff:
            sys.stdout.writelines(diff)
            differing += 1
    compared = len(left & right)
    if differing:
        print(f"{differing} plan(s) differ ({compared} compared)")
        return 1
    print(f"{compared} plan(s) identical")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
