#!/usr/bin/env python3
"""Dry run of the bench.json staleness guard (dev/bench_guard.py) that
dev/gate.py and dev/seal.py apply before publishing bench_r{N}.json.

Builds a throwaway repo layout for round 16 and injects bench.json files:
a stale one must be rejected even when every mtime says it is new, and a
fresh one must be accepted even when every mtime says it is old (a fresh
checkout). Prints one line per case and exits non-zero on a wrong verdict.

Usage: python3 dev/test_bench_guard.py
"""
import json
import os
import shutil
import sys
import tempfile

from bench_guard import stale_reason

ROUND = 16
PREV_STAMP_MS = 1_760_000_000_000


def write(path, record, mtime_s):
    with open(path, "w") as f:
        json.dump(record, f)
    os.utime(path, (mtime_s, mtime_s))


def main():
    repo = tempfile.mkdtemp(prefix="bench_guard_")
    try:
        prev = {"metric": "total", "value": 270.6, "recorded_at_ms": PREV_STAMP_MS}
        prev_path = os.path.join(repo, f"bench_r{ROUND - 1:02d}.json")
        # the round-start record, mtime far in the past: the old
        # mtime anchor accepted anything newer than this
        write(os.path.join(repo, f"BENCH_r{ROUND - 1:02d}.json"), {"n": ROUND - 1}, 0)
        write(prev_path, prev, 0)
        now = PREV_STAMP_MS / 1000 + 86400
        cases = [
            ("stale: recorded before the previous round's record, fresh mtime",
             {"metric": "total", "recorded_at_ms": PREV_STAMP_MS - 3_600_000}, now, True),
            ("stale: byte-identical leftover of the previous record",
             prev, now, True),
            ("stale: no recorded_at_ms stamp",
             {"metric": "total", "value": 1.0}, now, True),
            ("stale: clobbered to JSON null",
             None, now, True),
            ("fresh: recorded after the previous round's record, old mtime",
             {"metric": "total", "recorded_at_ms": PREV_STAMP_MS + 60_000}, 1, False),
        ]
        failed = 0
        for name, record, mtime, want_stale in cases:
            write(os.path.join(repo, "bench.json"), record, mtime)
            reason = stale_reason(repo, ROUND)
            ok = (reason is not None) == want_stale
            failed += not ok
            verdict = f"rejected ({reason})" if reason else "accepted"
            print(f"[{'ok' if ok else 'WRONG'}] {name}: {verdict}")
        return 1 if failed else 0
    finally:
        shutil.rmtree(repo)


if __name__ == "__main__":
    sys.exit(main())
