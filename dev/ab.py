#!/usr/bin/env python3
"""Same-window A/B of the benchmark: alternating base/change pairs of
`perfbench/run.py`, one pair per seed.

The change is this checkout's working tree. The base is a git revision,
extracted with `git archive` into a directory of its own (a temporary one
unless --base-dir names one; nothing is written under .git and no worktree
is made). A --base-dir records the commit it holds in `.ab-base-rev` and is
reused only for that commit: a directory holding any other tree is refused.
Each side builds its own `.bench_build/` on its first run. Pairs
alternate which side runs first, so a drift in host speed during the window
falls on both sides alike.

For every pair it prints the four end-to-end metrics of both sides; then,
per metric, the median and interquartile range of each side, the change of
the medians, and the number of pairs the change won (better in the
direction BENCHMARK.json gives). A run that is not correct is reported and
its pair left out of the summary.

A metric whose change median is worse than the base median by more than
its BENCHMARK.json `bound` (a fraction of the base median) is flagged
`OVER BOUND`, the rule a change is rejected by; the script then exits 1.

Usage (from the root of the checkout):

    python3 dev/ab.py --base HEAD~1 --workload stream_upsert --seeds 3001-3005
    python3 dev/ab.py --base 0dddcdf --workload batch_curation --seeds 3001,3002 \\
        --base-dir /path/to/base-copy --dry-run

--dry-run prints the extraction and every benchmark command, runs nothing.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAMP = ".ab-base-rev"


def seeds_arg(text):
    """'3001-3005' or '3001,3004' (or a mix) -> list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def end_to_end():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["better"], m["bound"]) for m in json.load(f)["end_to_end"]]


def worse_by(base, change, better):
    """How much worse the change median is than the base median, as a
    fraction of the base median (negative when it is better)."""
    if not base:
        return float("nan")
    return (change - base) / base if better == "lower" else (base - change) / base


def commit_of(rev):
    return subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                          capture_output=True, text=True, check=True).stdout.strip()


def held_commit(base_dir):
    """The commit an existing, non-empty --base-dir was extracted from
    ('' when it has no stamp), or None when there is nothing to reuse."""
    if not os.path.isdir(base_dir) or not os.listdir(base_dir):
        return None
    stamp = os.path.join(base_dir, STAMP)
    if not os.path.isfile(stamp):
        return ""
    with open(stamp) as f:
        return f.read().strip()


def extract(commit, dest):
    """The tree of `commit`, written to `dest` with `git archive` and
    stamped with the commit."""
    tar = subprocess.run(["git", "archive", "--format=tar", commit], cwd=ROOT,
                         capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest)
    with open(os.path.join(dest, STAMP), "w") as f:
        f.write(commit + "\n")


def bench_cmd(args, seed):
    return ["python3", "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(args.seconds), "--trace", "0"]


def run(cmd, cwd):
    """One benchmark run: its metrics, or None when it failed or was not correct."""
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return None
    if p.returncode != 0 or not res.get("correct"):
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is its own IQR."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarise(pairs, metrics):
    """Print the per-metric summary; return the names of the metrics whose
    change median is worse than the base median by more than their bound."""
    print(f"\n{len(pairs)} correct pairs")
    over = []
    for name, better, bound in metrics:
        base = [b[name] for _, b, _ in pairs]
        chg = [c[name] for _, _, c in pairs]
        bq, cq = quartiles(base), quartiles(chg)
        won = sum((c < b) if better == "lower" else (c > b) for b, c in zip(base, chg))
        delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        gap = abs(cq[1] - bq[1]) > bq[2] - bq[0]
        worse = worse_by(bq[1], cq[1], better)
        flag = ""
        if worse > bound:
            over.append(name)
            flag = f"  OVER BOUND (worse by {worse * 100:.1f}%, bound {bound * 100:.0f}%)"
        print(f"{name:22s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  {delta:+.1f}%  "
              f"change won {won}/{len(pairs)}  median gap > base IQR: {gap}{flag}")
    return over


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True, choices=("stream_upsert", "batch_curation"))
    ap.add_argument("--seeds", required=True, type=seeds_arg, help="e.g. 3001-3005 or 3001,3003")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--base-dir", help="extract the base here (kept; reused for the same commit)")
    ap.add_argument("--dry-run", action="store_true", help="print the commands, run nothing")
    args = ap.parse_args()

    metrics = end_to_end()
    commit = commit_of(args.base)
    base_dir = args.base_dir or os.path.join(tempfile.gettempdir(), "ab-base-<tmp>")
    held = held_commit(args.base_dir) if args.base_dir else None
    if held is not None and held != commit:
        sys.exit(f"--base-dir {args.base_dir} holds {held or 'a tree with no ' + STAMP}, "
                 f"not {args.base} ({commit}); name an empty or new directory")
    reuse = held is not None
    if args.dry_run:
        if not reuse:
            print(f"git archive --format=tar {commit} | tar -x -C {base_dir}")
        for i, seed in enumerate(args.seeds):
            sides = [("base", base_dir), ("change", ROOT)]
            for side, cwd in sides if i % 2 == 0 else sides[::-1]:
                print(f"[pair {i + 1} {side}] cd {cwd} && {' '.join(bench_cmd(args, seed))}")
        return

    if not args.base_dir:
        base_dir = tempfile.mkdtemp(prefix="ab-base-")
    if not reuse:
        os.makedirs(base_dir, exist_ok=True)
        extract(commit, base_dir)
    pairs = []
    try:
        names = [n for n, _, _ in metrics]
        print("pair seed side    " + "  ".join(f"{n:>20s}" for n in names))
        for i, seed in enumerate(args.seeds):
            sides = [("base", base_dir), ("change", ROOT)]
            got = {}
            for side, cwd in sides if i % 2 == 0 else sides[::-1]:
                got[side] = run(bench_cmd(args, seed), cwd)
            for side in ("base", "change"):
                vals = got[side]
                cells = ("  ".join(f"{vals[n]:20.4g}" for n in names) if vals
                         else "failed or not correct")
                print(f"{i + 1:4d} {seed:4d} {side:7s} {cells}", flush=True)
            if got["base"] and got["change"]:
                pairs.append((seed, got["base"], got["change"]))
    finally:
        if not args.base_dir:
            shutil.rmtree(base_dir, ignore_errors=True)
    if not pairs:
        sys.exit("no correct pairs")
    over = summarise(pairs, metrics)
    if over:
        sys.exit(f"worse than the base by more than the bound: {', '.join(over)}")


if __name__ == "__main__":
    main()
