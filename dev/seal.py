#!/usr/bin/env python3
"""Round-close artifact self-check (VERDICT r9 #6): the driver's collection
clobbered CORRECTNESS_r{N}.json back to `{}` after the round commit in
rounds 6-9. dev/gate.py embeds the authoritative driver-schema record (and
its md5) inside CORRECTNESS_local_r{N}.json, which the driver never touches;
this script verifies the sibling CORRECTNESS_r{N}.json against that copy and
re-emits it if it was clobbered.

Usage: python3 dev/seal.py CORRECTNESS_local_r10.json
Exit 0 = intact; exit 2 = repaired (re-run `git add` + commit); exit 1 = the
local record itself carries no embedded copy (pre-r10 gate.py — re-run gate).
"""
import hashlib, json, os, sys

local_path = sys.argv[1]
local = json.load(open(local_path))
embedded = local.get("driver_record") or {}
want_md5 = local.get("driver_record_md5")
if not embedded:
    print(f"[seal] {local_path} has no embedded driver record — re-run dev/gate.py")
    sys.exit(1)

driver_path = os.path.join(
    os.path.dirname(os.path.abspath(local_path)),
    os.path.basename(local_path).replace("_local", "", 1))
cur_md5, cur_entries = None, 0
if os.path.exists(driver_path):
    raw = open(driver_path, "rb").read()
    cur_md5 = hashlib.md5(raw).hexdigest()
    try:
        cur_entries = len(json.loads(raw))
    except ValueError:
        cur_entries = 0

repaired = False
if cur_entries == len(embedded) and (want_md5 is None or cur_md5 == want_md5):
    print(f"[seal] {driver_path} intact: md5={cur_md5}, {cur_entries} entries")
else:
    # Stale-record guard (ADVICE r10 #3): running seal.py against an OLD
    # local record must not clobber a NEWER legitimate driver record from a
    # later gate run. Refuse only when the driver file is newer AND at least
    # as populated as the embedded copy (a richer record a later gate wrote);
    # a newer-but-SMALLER record is the driver-clobber failure class this
    # script exists to repair (historically `{}`, but partial clobbers
    # qualify too) — repair it, keeping the .clobbered backup as evidence.
    if (os.path.exists(driver_path) and cur_entries >= len(embedded)
            and os.path.getmtime(driver_path) > os.path.getmtime(local_path)):
        print(f"[seal] REFUSED: {driver_path} ({cur_entries} entries) is "
              f"NEWER than {local_path} and at least as populated "
              f"({len(embedded)} embedded) — your local record looks stale; "
              f"re-run dev/gate.py instead of sealing against it")
        sys.exit(1)
    if os.path.exists(driver_path) and cur_entries > 0:
        os.replace(driver_path, driver_path + ".clobbered")
    with open(driver_path, "w") as f:
        json.dump(embedded, f, indent=1)
    new_md5 = hashlib.md5(open(driver_path, "rb").read()).hexdigest()
    print(f"[seal] REPAIRED {driver_path}: was md5={cur_md5} ({cur_entries} "
          f"entries), re-emitted {len(embedded)} entries md5={new_md5} "
          f"(recorded {want_md5})")
    repaired = True

# Per-query bench coverage (VERDICT r10 #4): the committed bench_r{N}.json
# must carry the round's per-query timing map; restore it from the
# untracked bench.json if the copy is missing.
import re, shutil
from bench_guard import stale_reason
m = re.search(r"_r(\d+)", os.path.basename(local_path))
repo_dir = os.path.dirname(os.path.abspath(local_path))
bench_src = os.path.join(repo_dir, "bench.json")
if m:
    bench_dst = os.path.join(repo_dir, f"bench_r{m.group(1)}.json")
    # Same staleness guard as gate.py (dev/bench_guard.py): restoring
    # unconditionally would relabel the PREVIOUS round's timings as this
    # round's (the exact failure VERDICT r10 #4 was fixed to prevent).
    if not os.path.exists(bench_dst) and os.path.exists(bench_src):
        stale = stale_reason(repo_dir, int(m.group(1)))
        if stale:
            print(f"[seal] REFUSED bench restore: {stale} — run a full sf0.1 "
                  f"Bench first")
        else:
            shutil.copyfile(bench_src, bench_dst)
            print(f"[seal] RESTORED {bench_dst} from bench.json — git add it")
            repaired = True
    elif os.path.exists(bench_dst):
        print(f"[seal] {bench_dst} present")
    # A round must not seal green without its per-query bench record — a
    # refused (or impossible) restore is a FAILURE that forces a full
    # sf0.1 Bench + gate rerun, not a warning to scroll past.
    if not os.path.exists(bench_dst):
        print(f"[seal] FAILED: no {os.path.basename(bench_dst)} — run a "
              f"full sf0.1 Bench, then dev/gate.py (or re-run seal)")
        sys.exit(1)

# Round bench-record integrity (VERDICT r11 #1): r11's official
# per-query map was measured inside the Verify gate's sbt session (3-7x
# contention inflation on unchanged queries). For every BENCH_r{K}.json
# with a committed bench_r{K}.json sibling, flag a parsed map that
# diverges >3x from the sibling on shared >=1s queries. BENCH_r{K}.json
# files are read-only inputs: a missing/null parsed map is left as it is.
# Divergence only BLOCKS (exit 1) for the round being sealed — historic
# records get a warning, not a permanent seal veto.
import glob
diverged_now = False
for bpath in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
    k = re.search(r"BENCH_r(\d+)\.json$", bpath)
    if not k:
        continue
    sib = os.path.join(repo_dir, f"bench_r{k.group(1)}.json")
    if not os.path.exists(sib):
        continue
    try:
        bench = json.load(open(bpath))
        clean = json.loads(open(sib).read().strip())
    except ValueError:
        continue
    got = (bench.get("parsed") or {}).get("queries") or {}
    want = clean.get("queries") or {}
    bad = sorted(q for q in set(got) & set(want)
                 if min(got[q], want[q]) > 0
                 and max(got[q], want[q]) >= 1.0
                 and max(got[q], want[q]) / min(got[q], want[q]) > 3.0)
    if bad:
        this_round = m and k.group(1) == m.group(1)
        tag = "REFUSED (this round)" if this_round else "WARNING (historic)"
        print(f"[seal] {tag}: {os.path.basename(bpath)} per-query map "
              f"diverges >3x from {os.path.basename(sib)} on {bad[:6]} — "
              f"contention-skewed official bench; re-run Bench in its own "
              f"sbt invocation, never inside the Verify gate session")
        if this_round:
            diverged_now = True
if diverged_now:
    sys.exit(1)

sys.exit(2 if repaired else 0)
