#!/usr/bin/env python3
"""Line and duplicate-block counts for the Scala sources under a directory.

Usage: python3 scripts/dupcount.py [DIR]                (DIR defaults to src/main)
       python3 scripts/dupcount.py [DIR] --spans FILE   (FILE under DIR)

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

With --spans FILE it prints instead where FILE's duplicate windows sit:
overlapping windows merge into one span per run, printed as its physical
line range, its window count, and where under DIR its first window
occurs again (another file, or another line of FILE).
"""
import collections
import os
import sys

WINDOW = 6


def code_lines(path):
    """(physical line number, trimmed text) of each code line."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for n, line in enumerate(f, 1):
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
            out.append((n, t))
    return out


def windows(c):
    return [tuple(t for _, t in c[i:i + WINDOW]) for i in range(len(c) - WINDOW + 1)]


def spans(root, target, code, seen):
    """Print the merged duplicate-window spans of `target`."""
    c = code[target]
    ws = windows(c)
    where = {}
    for p, cp in code.items():
        for i, w in enumerate(windows(cp)):
            where.setdefault(w, []).append((p, cp[i][0]))
    runs = []
    for i, w in enumerate(ws):
        if seen[w] > 1:
            if runs and runs[-1][1] >= i - 1:
                runs[-1][1] = i
            else:
                runs.append([i, i])
    for a, b in runs:
        first, last = c[a][0], c[b + WINDOW - 1][0]
        other = next((p, n) for p, n in where[ws[a]] if (p, n) != (target, first))
        print(f"{first:6d}-{last:<6d} {b - a + 1:4d} windows  "
              f"also {os.path.relpath(other[0], root)}:{other[1]}")
    print(f"{sum(b - a + 1 for a, b in runs)} duplicate windows in {len(runs)} spans")


def main():
    args = sys.argv[1:]
    target = None
    if "--spans" in args:
        i = args.index("--spans")
        target = os.path.normpath(args[i + 1])
        del args[i:i + 2]
    root = args[0] if args else "src/main"
    files = sorted(os.path.normpath(os.path.join(d, f)) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".scala"))
    lines, code = {}, {}
    for p in files:
        with open(p, encoding="utf-8") as f:
            lines[p] = sum(1 for _ in f)
        code[p] = code_lines(p)
    seen = collections.Counter(w for c in code.values() for w in windows(c))
    if target is not None:
        if target not in code:
            sys.exit(f"{target}: not a .scala file under {root}")
        spans(root, target, code, seen)
        return
    dups = {p: sum(1 for w in windows(c) if seen[w] > 1) for p, c in code.items()}
    memos = {p: sum("getOrElseUpdate" in t for _, t in c) for p, c in code.items()}
    tries = {p: sum("TrieMap.empty" in t for _, t in c) for p, c in code.items()}
    print(f"{'lines':>7} {'code':>7} {'dup6':>6} {'memos':>6} {'tries':>6}  file")
    for p in sorted(files, key=lambda p: (-dups[p], p)):
        print(f"{lines[p]:7d} {len(code[p]):7d} {dups[p]:6d} {memos[p]:6d} "
              f"{tries[p]:6d}  {os.path.relpath(p, root)}")
    print(f"{sum(lines.values()):7d} {sum(len(c) for c in code.values()):7d} "
          f"{sum(dups.values()):6d} {sum(memos.values()):6d} "
          f"{sum(tries.values()):6d}  total ({len(files)} files)")


if __name__ == "__main__":
    main()
