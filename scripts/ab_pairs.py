#!/usr/bin/env python3
"""Paired A/B of the session benchmark: a parent revision against this checkout.

    python3 scripts/ab_pairs.py --parent HEAD~1 --workload graph_iterative --seeds 501-510

Run from the root of a checkout. The parent revision is checked out with
`git worktree add` into a temporary directory under /tmp, or taken as is
from --parent-dir. The change side is a fresh copy of this checkout's
working tree (its tracked and untracked, non-ignored files, as listed by
`git ls-files -co --exclude-standard`) in the same temporary directory,
so neither side reads build outputs or run records left in a long-used
checkout; the benchmark itself runs each side as a fresh copy. Both are
removed at the end. Each seed is one pair: one untraced
`perfbench/run.py` run of the parent checkout and one of the copy, with
the same workload, seed and run length (BENCHMARK.json's run_seconds). The side that runs first alternates from pair to pair, so a
drift in host load falls on both sides.

For every end-to-end metric in BENCHMARK.json it prints each side's median
and quartiles, and the pairs the change won (ties count for neither side).
A gain is claimed only when the change wins at least nine tenths of the
pairs AND the medians differ, in the better direction, by more than the
parent's quartile spread (q3 - q1). A run that fails its correctness check
or cannot be made is reported and drops its pair.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(values):
    """(q1, median, q3) with linear interpolation between order statistics."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def copy_tree(dst):
    """Copy this checkout's tracked and untracked, non-ignored files to dst."""
    listed = subprocess.run(["git", "ls-files", "-co", "--exclude-standard", "-z"],
                            cwd=ROOT, check=True, capture_output=True).stdout
    for rel in filter(None, listed.decode().split("\0")):
        src = os.path.join(ROOT, rel)
        if not os.path.isfile(src):  # tracked but deleted in the working tree
            continue
        out = os.path.join(dst, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.copy2(src, out)


def run_side(checkout, workload, seed, seconds):
    """One untraced run; returns ({metric: value}, None) or (None, reason)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return None, "exit %d, no result line: %s" % (
            p.returncode, (p.stderr.strip().splitlines() or [""])[-1])
    res = json.loads(lines[-1])
    if not res.get("correct") or p.returncode != 0:
        return None, "exit %d, %s of %s queries failed" % (
            p.returncode, res.get("failed"), res.get("attempted"))
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def report(metric, better, parent, change):
    """Print one metric's row, ending in whether the gain rule holds."""
    wins = sum(1 for a, b in zip(parent, change)
               if (b < a if better == "lower" else b > a))
    losses = sum(1 for a, b in zip(parent, change)
                 if (b > a if better == "lower" else b < a))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gain = (pmed - cmed) if better == "lower" else (cmed - pmed)
    claim = wins * 10 >= 9 * len(parent) and gain > (pq3 - pq1)
    print("%-14s %-6s parent %.4f [%.4f, %.4f]  change %.4f [%.4f, %.4f]  "
          "wins %d/%d (losses %d)  median %+.1f%%  %s" % (
              metric, better, pmed, pq1, pq3, cmed, cq1, cq3, wins,
              len(parent), losses, 100.0 * (cmed - pmed) / pmed if pmed else 0.0,
              "GAIN" if claim else "no gain claim"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 501-510 or 1,3,5-7")
    ap.add_argument("--parent-dir",
                    help="an existing checkout of --parent to use instead of a worktree")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    seeds = parse_seeds(a.seeds)

    tmp = tempfile.mkdtemp(prefix="ab_pairs-", dir="/tmp")
    change_dir = os.path.join(tmp, "change")
    copy_tree(change_dir)
    parent_dir = a.parent_dir
    if parent_dir is None:
        parent_dir = os.path.join(tmp, "parent")
        subprocess.run(["git", "worktree", "add", "--detach", parent_dir, a.parent],
                       cwd=ROOT, check=True, capture_output=True)
    sides = {"parent": parent_dir, "change": change_dir}
    got = {"parent": [], "change": []}
    try:
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {}
            for side in order:
                vals, why = run_side(sides[side], a.workload, seed, seconds)
                if vals is None:
                    print("seed %d %s: FAILED (%s)" % (seed, side, why), flush=True)
                pair[side] = vals
            if pair["parent"] is None or pair["change"] is None:
                continue
            for side in got:
                got[side].append(pair[side])
            print("seed %d (%s first): " % (seed, order[0]) + "  ".join(
                "%s %.4f -> %.4f" % (m, pair["parent"][m], pair["change"][m])
                for m, _ in metrics), flush=True)
    finally:
        if a.parent_dir is None:
            subprocess.run(["git", "worktree", "remove", "--force", parent_dir],
                           cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    n = len(got["parent"])
    print("\n%s: %d complete pairs of %d, parent %s vs a copy of this checkout, %g s steady" % (
        a.workload, n, len(seeds), a.parent, seconds))
    if n == 0:
        sys.exit(1)
    for m, better in metrics:
        report(m, better, [r[m] for r in got["parent"]], [r[m] for r in got["change"]])


if __name__ == "__main__":
    main()
