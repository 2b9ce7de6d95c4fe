#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_counters.py

1. BENCHMARK.json names exactly the metrics run.py reports.
2. Every workload, run traced at the tiny size twice with the same seed,
   repeats every count metric exactly (jobs, stages, tasks, shuffle records,
   files, segments, folds, compactions, source scans, ...), so counts can be
   cited across runs and across commits without a timing window.
3. The input fingerprint is a function of the seed: the same seed gives the
   same fingerprint, another seed a different one.
4. Both runs pass every correctness check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, seed, trace=1):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny"], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_work", workload, "summary.json")) as f:
        return result, json.load(f)["info"]["input"]


def main():
    failures = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if [(m["name"], m["unit"]) for m in spec["end_to_end"]] != run.E2E:
        failures.append("BENCHMARK.json end_to_end differs from run.E2E")
    if [(m["name"], m["unit"]) for m in spec["per_layer"]] != run.PER_LAYER:
        failures.append("BENCHMARK.json per_layer differs from run.PER_LAYER")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(run.WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from run.WORKLOADS")

    for w in run.WORKLOADS:
        (a, in_a), (b, in_b) = bench(w, 7), bench(w, 7)
        for r in (a, b):
            if not r["correct"] or r["failed"]:
                failures.append(f"{w}: correctness checks failed ({r['failed']} of {r['attempted']})")
        for name in run.COUNT_METRICS:
            va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
            if va != vb:
                failures.append(f"{w}: count {name} differs across identical runs: {va} vs {vb}")
        if in_a != in_b:
            failures.append(f"{w}: same seed, different input: {in_a} vs {in_b}")
        _, in_c = bench(w, 8, trace=0)
        if in_c.get("input_fingerprint") == in_a.get("input_fingerprint"):
            failures.append(f"{w}: seeds 7 and 8 gave the same input fingerprint")
        print(f"{w}: {len(run.COUNT_METRICS)} counts repeat, input fingerprint seeded", flush=True)

    for f in failures:
        print("FAIL", f)
    print("ok" if not failures else f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
