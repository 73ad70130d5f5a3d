#!/usr/bin/env python3
"""Diff two directories of PlanDump outputs, ignoring what varies between runs.

Usage: python3 tools/plan_diff.py <parent-dir> <change-dir>

Each directory holds the `<query>.txt` files that
`SPARK_GRAFT_PLAN_OUT=<dir> sbt "runMain graft.PlanDump q1 q2 ..."` writes.
Before the files are compared, each is normalized:

- expression ids (`#123`, `#123L`), `plan_id=N`, RDD ids (`RDD[58]`),
  object identity hashes (`CentroidKernel@5680228`) and the numbers of
  lambda classes (`AsOfJoin$$$Lambda$6087/0x00007f35dd691b60`, which shift
  when other code loads more classes first) are stripped, since they
  differ from one JVM to the next;
- source call sites (`at Dedup.scala:458`) lose their line number, since
  moving code shifts it;
- the AQE `== Final Plan ==` section of every adaptive plan that was run
  before the dump (a cached relation's, say) is dropped with the details of
  its nodes, keeping the `== Initial Plan ==`: the final plan records
  run-time choices, such as which side of a join was broadcast, that can
  differ between runs of the same code;
- the remaining operator ids `(N)` are renumbered in order of appearance,
  since the dropped sections shift them.

Prints a unified diff for every file that differs and every file present on
one side only, and exits 1 if there is any; exits 0 when the dumps agree.
"""
import difflib
import os
import re
import sys

_IDS = [
    (re.compile(r"#[0-9]+L?"), ""),
    (re.compile(r"plan_id=[0-9]+"), ""),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD"),
    (re.compile(r"\$Lambda\$[0-9]+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"([A-Za-z_$][\w$.]*)@[0-9a-f]+\b"), r"\1@"),
    (re.compile(r"(\w+\.scala):[0-9]+"), r"\1"),
]
_FINAL = "+- == Final Plan =="
_INITIAL = "+- == Initial Plan =="
_TREE_ID = re.compile(r" \(([0-9]+)\)")
_DETAIL_ID = re.compile(r"^\(([0-9]+)\) ")
_REF_ID = re.compile(r"(operator id\s*[:=]\s*)([0-9]+)")


def _without_final_plans(tree):
    """Drops each Final Plan section of the tree; returns the kept lines and
    the operator ids of the dropped ones."""
    kept, dropped, skip_to = [], set(), None
    for line in tree:
        if skip_to is not None:
            if line.find(_INITIAL) == skip_to:
                skip_to = None
                kept.append(line)
            else:
                dropped.update(_TREE_ID.findall(line))
            continue
        column = line.find(_FINAL)
        if column >= 0:
            skip_to = column
        else:
            kept.append(line)
    return kept, dropped


def _details(lines, dropped):
    """The node detail blocks, less those of dropped operators."""
    out, keep = [], True
    for line in lines:
        head = _DETAIL_ID.match(line)
        if head:
            keep = head.group(1) not in dropped
        if keep:
            out.append(line)
    return out


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in _IDS:
        text = pattern.sub(repl, text)
    lines = text.splitlines(keepends=True)
    first_detail = next((i for i, l in enumerate(lines) if _DETAIL_ID.match(l)), len(lines))
    tree, dropped = _without_final_plans(lines[:first_detail])
    lines = tree + _details(lines[first_detail:], dropped)
    order = {}
    for line in tree:
        for n in _TREE_ID.findall(line):
            order.setdefault(n, str(len(order) + 1))

    def renumber(line):
        line = _TREE_ID.sub(lambda m: f" ({order.get(m.group(1), '?')})", line)
        line = _DETAIL_ID.sub(lambda m: f"({order.get(m.group(1), '?')}) ", line)
        return _REF_ID.sub(lambda m: m.group(1) + order.get(m.group(2), "?"), line)

    return [renumber(line) for line in lines]


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
