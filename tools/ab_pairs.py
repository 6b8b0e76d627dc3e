#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs with the paired-run verdict.

Usage:

    python3 tools/ab_pairs.py --parent REV [--change REV|WORKTREE] --workload NAME
                      --seeds 21-30 --scratch DIR [--seconds 8] [--trace 0]

Each side is unpacked into its own directory under DIR: a revision with
`git archive`, WORKTREE (the default) as the tracked and untracked,
not-ignored files of the working tree. Each side keeps its build outputs
(`.bench_build/` and the sbt `target/` directories) between invocations, so
only the first run per side pays the sbt build.
For every seed the two sides run `python3 perfbench/run.py` back to back,
the order alternating from pair to pair. Every result line is appended to
DIR/ab-<workload>.jsonl.

Per end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, the pairs the change won (ties count for neither side) and:

  claim   the change is better in at least 9/10 of the pairs AND the
          medians differ by more than the parent's interquartile range;
  bound   the change's median is no worse than the parent's by more than
          the metric's bound (a fraction of the parent median); reported
          as "unresolved" when the parent's own IQR is wider than the
          bound and not every change run beats every parent run.

Nothing under perfbench/ is modified; the benchmark runs as shipped.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


# build outputs survive a re-unpack: run.py's build stamp in .bench_build/
# points at jars under the sbt target/ directories
KEEP = {".bench_build", "target"}


def clear(dest):
    """Delete everything under `dest` except the KEEP directories."""
    for d, dirs, files in os.walk(dest, topdown=False):
        if any(part in KEEP for part in os.path.relpath(d, dest).split(os.sep)):
            continue
        for f in files:
            os.remove(os.path.join(d, f))
        for sub in dirs:
            p = os.path.join(d, sub)
            if sub in KEEP:
                continue
            if os.path.islink(p):
                os.remove(p)
            elif not os.listdir(p):
                os.rmdir(p)


def unpack(rev, dest):
    """Replace everything in `dest` but its build outputs with `rev`'s tree."""
    os.makedirs(dest, exist_ok=True)
    clear(dest)
    if rev == "WORKTREE":
        files = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=ROOT, check=True, capture_output=True).stdout.split(b"\0")
        for rel in (f.decode() for f in files if f):
            src = os.path.join(ROOT, rel)
            if not os.path.isfile(src):  # deleted in the working tree
                continue
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))
    else:
        archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        archive.stdout.close()
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")


def run_once(side_dir, workload, seed, seconds, trace):
    """One benchmark run; returns its result object, or None if it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=side_dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(metric, pairs):
    """Summary row for one end-to-end metric over (parent, change) pairs."""
    name, lower = metric["name"], metric["better"] == "lower"
    par = [p["metrics"][name]["value"] for p, _ in pairs]
    chg = [c["metrics"][name]["value"] for _, c in pairs]
    better = (lambda a, b: b < a) if lower else (lambda a, b: b > a)
    wins = sum(better(a, b) for a, b in zip(par, chg))
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    iqr = pq3 - pq1
    claim = (wins >= math.ceil(0.9 * len(pairs)) and better(pmed, cmed)
             and abs(cmed - pmed) > iqr)
    worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / abs(pmed) if pmed else 0.0
    dominated = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if worse_by <= metric["bound"]:
        bound = "within"
    elif iqr > metric["bound"] * abs(pmed) and not dominated:
        bound = "unresolved"
    else:
        bound = "OUTSIDE"
    return {"metric": name, "parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
            "wins": wins, "pairs": len(pairs), "claim": claim,
            "worse_by": worse_by, "within_bound": bound}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--change", default="WORKTREE", help="change revision or WORKTREE")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,4,7-9")
    ap.add_argument("--scratch", required=True, help="directory for both checkouts")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    sides = {"parent": os.path.join(a.scratch, "parent"),
             "change": os.path.join(a.scratch, "change")}
    unpack(a.parent, sides["parent"])
    unpack(a.change, sides["change"])
    log = os.path.join(a.scratch, f"ab-{a.workload}.jsonl")

    pairs, failed = [], {"parent": 0, "change": 0}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            r = run_once(sides[side], a.workload, seed, seconds, a.trace)
            with open(log, "a") as f:
                f.write(json.dumps({"side": side, "seed": seed, "result": r}) + "\n")
            if r is None or not r.get("correct", False):
                failed[side] += 1
            got[side] = r
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))
        e2e = lambda s: (got[s]["metrics"]["op_p50_s"]["value"] if got[s] else float("nan"))
        print(f"[ab] seed {seed} ({order[0]} first): op_p50_s "
              f"parent {e2e('parent'):.3f} change {e2e('change'):.3f}",
              file=sys.stderr, flush=True)

    print(f"workload {a.workload}: {len(pairs)} pairs, seeds {a.seeds}, "
          f"{seconds:g} s runs; failed or incorrect runs: "
          f"parent {failed['parent']}, change {failed['change']}")
    if not pairs:
        sys.exit(1)
    print(f"{'metric':<18} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'wins':>6} {'claim':>6} {'bound (worse by)':>18}")
    for m in bench["end_to_end"]:
        v = verdict(m, pairs)
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
        print(f"{v['metric']:<18} {fmt(v['parent']):>28} {fmt(v['change']):>28} "
              f"{v['wins']:>2}/{v['pairs']:<3} {'yes' if v['claim'] else 'no':>6} "
              f"{v['within_bound']:>10} ({v['worse_by']:+.1%})")


if __name__ == "__main__":
    main()
