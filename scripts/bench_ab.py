#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a base revision against a change.

    python3 scripts/bench_ab.py --workload curate_serve --seed 3 --pairs 10 \\
        --workdir /tmp/ab [--base HEAD] [--swap] [--reuse] [--out ab.json]

Run from the repository root. `git archive` unpacks the base revision into
<workdir>/A and the working tree into <workdir>/B, tracked and untracked
files alike (snapshotted through a temporary index, so the real index is
untouched). Both copies are siblings, so their paths differ in one letter
only: builds from different directories have measured a few percent apart
on identical code, and comparing a clean copy against the repository
checkout mixes that into the result.

--swap unpacks the change into <workdir>/A and the base into <workdir>/B:
the directory control. A copy has once run a few percent slower in one of
the two directories whichever revision it held, so a gap of that size is
the code's only if it keeps its sign with the sides swapped. Results are
reported as base and change either way. The side holding the change is
recorded in <workdir>/CHANGE; --reuse refuses copies unpacked the other
way round.

Each fresh copy first makes one discarded run on seed 1, which builds it;
--reuse keeps the copies and builds of an earlier call instead. Then the
script runs --pairs pairs of
`perfbench/run.py --workload W --seed S --seconds N --trace 0`, N being
BENCHMARK.json's `run_seconds` (warm-up runs included), alternating which
side goes first, and reads each run's last stdout line (the result
object) only. It prints, per end-to-end metric of BENCHMARK.json, each
side's median and quartiles, the change's wins (pairs where it is better,
in the metric's direction), and whether the median gap exceeds the base's
own interquartile range. --out saves every run's result as JSON.
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


def git(*args, env=None):
    return subprocess.run(["git", *args], cwd=ROOT, env=env, check=True,
                          capture_output=True, text=True).stdout.strip()


def worktree_tree():
    """A tree object of the working tree, untracked non-ignored files included."""
    with tempfile.TemporaryDirectory() as tmp:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(tmp, "index"))
        git("read-tree", "HEAD", env=env)
        git("add", "-A", env=env)
        return git("write-tree", env=env)


def unpack(treeish, dest):
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", treeish], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"bench_ab: git archive {treeish} failed")


def run(side, workload, seed, seconds):
    """One benchmark run in copy `side`; its result object, or None if it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def value(result, name):
    return result["metrics"][name]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(metrics, pairs):
    print(f"{'metric':<18} {'base median [q1, q3]':>32} {'change median [q1, q3]':>32}"
          f" {'delta':>8} {'wins':>6} {'gap > base IQR':>15}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [value(p[0], name) for p in pairs]
        b = [value(p[1], name) for p in pairs]
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        iqr = qa[1] - qa[0]
        delta = (mb - ma) / ma * 100 if ma else float("nan")
        print(f"{name:<18} {ma:>12.4g} [{qa[0]:>7.4g}, {qa[1]:>7.4g}]"
              f" {mb:>12.4g} [{qb[0]:>7.4g}, {qb[1]:>7.4g}] {delta:>+7.1f}%"
              f" {wins:>3}/{len(pairs):<2} {str(abs(mb - ma) > iqr):>15}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workdir", required=True, help="directory for the two copies")
    ap.add_argument("--base", default="HEAD", help="base revision (default HEAD)")
    ap.add_argument("--swap", action="store_true",
                    help="unpack the change into A and the base into B")
    ap.add_argument("--reuse", action="store_true",
                    help="keep existing copies under --workdir (and their builds)")
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds, metrics = bench["run_seconds"], bench["end_to_end"]

    # sides[0] holds the base, sides[1] the change
    workdir = os.path.abspath(a.workdir)
    dirs = ("B", "A") if a.swap else ("A", "B")
    sides = [os.path.join(workdir, d) for d in dirs]
    marker = os.path.join(workdir, "CHANGE")
    if a.reuse and all(os.path.isdir(s) for s in sides):
        held = open(marker).read().strip() if os.path.exists(marker) else "B"
        if held != dirs[1]:
            sys.exit(f"bench_ab: {workdir} holds the change in {held}; "
                     f"{'drop' if a.swap else 'pass'} --swap")
    else:
        unpack(a.base, sides[0])
        unpack(worktree_tree(), sides[1])
        with open(marker, "w") as f:
            f.write(dirs[1] + "\n")
        for side in sides:
            if run(side, a.workload, 1, seconds) is None:
                sys.exit(f"bench_ab: warm-up run failed in {side}")

    pairs = []
    for i in range(a.pairs):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = [None, None]
        for s in order:
            got[s] = run(sides[s], a.workload, a.seed, seconds)
        if None in got:
            sys.exit(f"bench_ab: pair {i + 1} had a failed run")
        pairs.append(got)
        print(f"pair {i + 1}/{a.pairs} ({''.join(dirs[s] for s in order)}): " +
              " ".join(f"{m['name']} {value(got[0], m['name']):.4g}->"
                       f"{value(got[1], m['name']):.4g}" for m in metrics[:5]),
              flush=True)

    for label, k in (("base", 0), ("change", 1)):
        bad = [(p[k]["correct"], p[k]["failed"]) for p in pairs
               if not p[k]["correct"] or p[k]["failed"]]
        print(f"{label}: {len(pairs) - len(bad)}/{len(pairs)} runs correct with 0 failed"
              + (f"; others: {bad}" if bad else ""))
    print(f"{a.workload} seed {a.seed}, {len(pairs)} pairs, --seconds {seconds}, "
          f"base in {dirs[0]}, change in {dirs[1]}")
    report(metrics, pairs)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": seconds,
                       "swap": a.swap, "pairs": pairs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
