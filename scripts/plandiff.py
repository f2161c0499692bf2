#!/usr/bin/env python3
"""Compare the formatted physical plans of two runs of graft.tools.QTime.

Usage: python3 scripts/plandiff.py BEFORE AFTER

BEFORE and AFTER are directories of plans that `graft.tools.QTime` wrote
with `SPARK_GRAFT_QT_PLANDIR` set: one `<name>_<tag>.txt` per query (the
tag, e.g. `before`/`after` from `SPARK_GRAFT_QT_TAG`, is whatever follows
the last underscore and is ignored). Queries are paired by name.

Before comparing, each plan is masked of what differs between two runs
of the same code:
  * expression ids: `a_id#7926L` -> `a_id#?L`
  * exchange ids: `plan_id=9884` -> `plan_id=?`
  * temp-store paths: the path segment under `/tmp` (the JVM's temp
    directory, where the per-JVM view stores live), such as the random
    `graft-bucketed-7985519177333227806`, becomes `<tmp>`.

Prints, per query whose masked plans differ, its first differing lines
as a unified diff, and names queries planned on one side only. Exits 1
on any difference, 0 when every query's plan matches.
"""
import difflib
import os
import re
import sys

SHOWN = 12  # differing lines printed per query
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
TEMP_DIR = re.compile(r"/tmp/[^/\s,\]]+")


def mask(text):
    text = EXPR_ID.sub("#?", text)
    text = PLAN_ID.sub("plan_id=?", text)
    return TEMP_DIR.sub("/tmp/<tmp>", text)


def plans(d):
    """{query name: path} of the `<name>_<tag>.txt` files in directory d."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def main():
    args = sys.argv[1:]
    if len(args) != 2 or not all(os.path.isdir(a) for a in args):
        sys.exit(__doc__)
    before, after = plans(args[0]), plans(args[1])
    differ = 0
    for name in sorted(before.keys() | after.keys()):
        if name not in after or name not in before:
            side = args[0] if name in before else args[1]
            print(f"ONLY IN {side}: {name}")
            differ += 1
            continue
        a = mask(open(before[name], encoding="utf-8").read()).splitlines()
        b = mask(open(after[name], encoding="utf-8").read()).splitlines()
        if a == b:
            print(f"same  {name}")
            continue
        differ += 1
        print(f"DIFF  {name}")
        diff = difflib.unified_diff(a, b, before[name], after[name], n=0, lineterm="")
        for line in list(diff)[:SHOWN]:
            print(f"      {line}")
    print(f"{differ} of {len(before.keys() | after.keys())} queries differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
