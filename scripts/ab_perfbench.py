#!/usr/bin/env python3
"""A/B the benchmark between two source trees: N alternating pairs of
`python3 perfbench/run.py` runs, one side in each tree.

    python3 scripts/ab_perfbench.py --base HEAD~1 --change HEAD \
        --workload view_serve --pairs 10 --seed 23
    python3 scripts/ab_perfbench.py --base-tree /tmp/parent --change-tree . \
        --workload view_serve --pairs 5 --seed 53

A side given as a revision (`--base`/`--change`) runs in a `git worktree`
checkout of that commit in a temporary directory, removed at exit. A side
given as a directory (`--base-tree`/`--change-tree`) runs in that
directory as it is, uncommitted edits included, so a working copy can be
measured before it is committed; the run leaves its build output there
(`.bench_build/`). The report's first line names each side's kind: a
commit id for a worktree, `dir <path>` for a directory.

Run it from inside the repository. Every run uses the same seed, run length
and tracing setting (`--trace 0`, the end-to-end metrics); even pairs run the
base first, odd pairs the change first. For every end-to-end metric of the
change's BENCHMARK.json it prints each side's median and quartiles, the
change of the medians relative to the base, the pairs the change won (ties
count for neither side) and whether a gain holds: the change wins at least
nine tenths of the pairs run and the medians differ by more than the
distance between the base's quartiles. A run that exits non-zero or reports
an incorrect answer is listed; its pair counts as run but not won.
Nothing under perfbench/ is changed.
"""
import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path


def quantile(xs, p):
    """Linear interpolation between closest ranks (perfbench/run.py's rule)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def run_side(tree, args):
    """One benchmark run in `tree`: its end-to-end metrics, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  run failed (rc={p.returncode}): {p.stderr.strip()[-400:]}", file=sys.stderr)
        return None
    last = json.loads(lines[-1])
    if not last.get("correct"):
        print(f"  run incorrect: {lines[-1][:400]}", file=sys.stderr)
        return None
    return {k: v["value"] for k, v in last["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="parent commit (default HEAD~1)")
    ap.add_argument("--change", default="HEAD", help="changed commit (default HEAD)")
    ap.add_argument("--base-tree", help="run the base side in this directory instead of --base")
    ap.add_argument("--change-tree", help="run the change side in this directory instead of --change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed phase per run (default: BENCHMARK.json run_seconds)")
    args = ap.parse_args()

    dirs = {"base": args.base_tree, "change": args.change_tree}
    revs = {side: rev for side, rev in (("base", args.base), ("change", args.change))
            if dirs[side] is None}
    repo = Path(git("rev-parse", "--show-toplevel", cwd=Path.cwd())) if revs else None
    trees = {side: Path(d).resolve() for side, d in dirs.items() if d is not None}
    labels = {side: f"dir {t}" for side, t in trees.items()}
    tmp = Path(tempfile.mkdtemp(prefix="ab-perfbench-"))
    worktrees = []
    try:
        for side, rev in revs.items():
            sha = git("rev-parse", "--verify", f"{rev}^{{commit}}", cwd=repo)
            labels[side] = sha[:10]
            trees[side] = tmp / side
            git("worktree", "add", "--detach", str(trees[side]), sha, cwd=repo)
            worktrees.append(trees[side])
        bench = json.loads((trees["change"] / "BENCHMARK.json").read_text())
        if args.seconds is None:
            args.seconds = bench["run_seconds"]
        results = {"base": [], "change": []}
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                print(f"pair {i + 1}/{args.pairs}: {side} ({labels[side]})", file=sys.stderr)
                results[side].append(run_side(trees[side], args))
        report(bench["end_to_end"], results, labels, args)
    finally:
        for t in worktrees:
            subprocess.run(["git", "worktree", "remove", "--force", str(t)], cwd=repo,
                           capture_output=True)
        if worktrees:
            subprocess.run(["git", "worktree", "prune"], cwd=repo, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


def report(end_to_end, results, labels, args):
    pairs = [(b, c) for b, c in zip(results["base"], results["change"])
             if b is not None and c is not None]
    failed = {s: sum(r is None for r in rs) for s, rs in results.items()}
    print(f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s per run; "
          f"base {labels['base']}, change {labels['change']}; "
          f"{len(pairs)} complete pairs of {args.pairs} "
          f"(failed runs: base {failed['base']}, change {failed['change']})")
    if not pairs:
        return
    head = f"{'metric':<20} {'base p25/p50/p75':>30} {'change p25/p50/p75':>30} {'delta':>8} {'wins':>7}  gain"
    print(head)
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        b = [p[0][name] for p in pairs]
        c = [p[1][name] for p in pairs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        bq = [quantile(b, q) for q in (25, 50, 75)]
        cq = [quantile(c, q) for q in (25, 50, 75)]
        better = cq[1] < bq[1] if lower else cq[1] > bq[1]
        gain = (wins * 10 >= args.pairs * 9 and better and abs(cq[1] - bq[1]) > bq[2] - bq[0])
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        fmt = lambda qs: "/".join(f"{x:.4g}" for x in qs)
        print(f"{name:<20} {fmt(bq):>30} {fmt(cq):>30} {delta:>+8.1%} "
              f"{wins:>3}/{args.pairs:<3}  {'yes' if gain else 'no'}")


if __name__ == "__main__":
    main()
