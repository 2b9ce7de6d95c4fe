"""Staleness guard for publishing the untracked bench.json as a round's
committed per-query record bench_r{N}.json (dev/gate.py, dev/seal.py).

bench.json belongs to round N only if graft.Bench recorded it after the
previous round's definitive record, bench_r{N-1}.json. Both carry Bench's
`recorded_at_ms` content stamp, which survives clones and checkouts. File
mtimes do not: a fresh checkout gives every file the checkout time, so an
mtime anchor (the round-start record BENCH_r{N-1}.json) refuses a fresh
bench.json in a new clone and accepts a stale one whenever the anchor file
is older than the leftover.

Dry run: `python3 dev/test_bench_guard.py`.
"""
import filecmp
import json
import os


def recorded_at_s(path):
    """Bench's content stamp in seconds, or None when absent or unreadable."""
    try:
        with open(path) as f:
            v = json.load(f).get("recorded_at_ms")
    except (OSError, ValueError, AttributeError):
        return None
    return v / 1000.0 if isinstance(v, (int, float)) and v > 0 else None


def stale_reason(repo, n):
    """Why repo/bench.json must not become bench_r{n}.json, or None."""
    src = os.path.join(repo, "bench.json")
    prev = os.path.join(repo, f"bench_r{n - 1:02d}.json")
    when = recorded_at_s(src)
    if when is None:
        return "bench.json carries no recorded_at_ms stamp"
    anchor = recorded_at_s(prev)
    if anchor is not None and when <= anchor:
        return (f"bench.json was recorded at {when:.0f}, not after the previous "
                f"round's {os.path.basename(prev)} ({anchor:.0f})")
    # an unstamped previous record (before Bench stamped its output) still
    # catches the plain leftover: a byte-identical copy of it
    if anchor is None and os.path.exists(prev) and filecmp.cmp(src, prev, shallow=False):
        return f"bench.json is byte-identical to {os.path.basename(prev)}"
    return None
