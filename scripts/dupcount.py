#!/usr/bin/env python3
"""Line and duplicate-block counts for the Scala sources under a directory.

Usage: python3 scripts/dupcount.py [DIR]    (DIR defaults to src/main)

Method:
  * lines: physical lines per file, as `wc -l` counts them.
  * code lines: lines left after dropping blank lines, lines starting with
    `//`, and `/* ... */` comment blocks that start a line (Scaladoc
    included; a block ends on the first line holding `*/`). Each kept
    line is trimmed of leading and trailing whitespace.
  * duplicate windows: every run of 6 consecutive code lines within one
    file is a window. A window counts once for each place it occurs,
    provided its content occurs at least twice anywhere under DIR. A
    pasted 10-code-line block therefore adds 2 x 5 = 10 windows.
  * memos: code lines holding `getOrElseUpdate` (a hand-rolled build memo
    when it sits outside the memo primitives in `graft.engine.Views`).
  * triemaps: code lines holding `TrieMap.empty` (one per `TrieMap` val).

Prints one row per file (lines, code lines, duplicate windows, memos,
triemaps), sorted by duplicate windows, then the totals.
"""
import collections
import os
import sys

WINDOW = 6


def code_lines(path):
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for line in f:
            t = line.strip()
            if in_block:
                if "*/" in t:
                    in_block = False
                continue
            if not t or t.startswith("//"):
                continue
            if t.startswith("/*"):
                in_block = "*/" not in t
                continue
            out.append(t)
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".scala"))
    lines, code = {}, {}
    for p in files:
        with open(p, encoding="utf-8") as f:
            lines[p] = sum(1 for _ in f)
        code[p] = code_lines(p)
    seen = collections.Counter(
        tuple(c[i:i + WINDOW]) for c in code.values()
        for i in range(len(c) - WINDOW + 1))
    dups = {p: sum(1 for i in range(len(c) - WINDOW + 1)
                   if seen[tuple(c[i:i + WINDOW])] > 1)
            for p, c in code.items()}
    memos = {p: sum("getOrElseUpdate" in t for t in c) for p, c in code.items()}
    tries = {p: sum("TrieMap.empty" in t for t in c) for p, c in code.items()}
    print(f"{'lines':>7} {'code':>7} {'dup6':>6} {'memos':>6} {'tries':>6}  file")
    for p in sorted(files, key=lambda p: (-dups[p], p)):
        print(f"{lines[p]:7d} {len(code[p]):7d} {dups[p]:6d} {memos[p]:6d} "
              f"{tries[p]:6d}  {os.path.relpath(p, root)}")
    print(f"{sum(lines.values()):7d} {sum(len(c) for c in code.values()):7d} "
          f"{sum(dups.values()):6d} {sum(memos.values()):6d} "
          f"{sum(tries.values()):6d}  total ({len(files)} files)")


if __name__ == "__main__":
    main()
