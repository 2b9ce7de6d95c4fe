#!/usr/bin/env python3
"""Benchmark of the graft engine: streaming upsert, batch backfill and the
curation mix, each checked for correctness, with per-layer traces.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload stream_upsert --seed 1 --seconds 10 --trace 0

The first run builds the program and the harness from source with sbt into
`.bench_build/`; later runs reuse the build while the sources are unchanged.
Every run clears its work directory under `.bench_work/` first, generates its
inputs from the seed, runs one JVM on `local[<nproc>]`, checks the outputs and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics, with `--trace 1` the
per-layer metrics (see GLOSSARY.md). The line before it is a compact summary
of the run: workload metrics under their own names, settings and input.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")

WORKLOADS = ("stream_upsert", "batch_curation")
HELD_OUT_SEED = 20261017  # reserved for confirming a claimed gain; never tune on it
JVM_BUDGET_S = 165
BUILD_BUDGET_S = 840

# The timed end-to-end metrics are CPU time of the program's own threads
# over the warm part of the run (the triggers or backfill passes after the
# warm-up ones, plus the curation mix's pass), normalised to a reference host
# speed. The program's threads are the JVM's, less its JIT compiler threads,
# whose share swings with the JVM's compilation decisions. The kernel leaves
# stolen time out of a thread's CPU time; the host's remaining swing in speed
# is taken out with the probe (see Probe in Main.scala): each interval's CPU
# time is scaled by the reference burst over the probe's median burst in it.
# The raw CPU and wall times are printed on the summary line, with the
# per-operation medians. `setup_s` is wall time.
E2E = [("setup_s", "s"), ("work_ref_cpu_s", "s"), ("events_per_ref_cpu_s", "1/s"),
       ("peak_rss_mb", "MB")]


def _layer(prefix, names_units):
    return [(f"{prefix}.{n}", u) for n, u in names_units]


STAGE_COUNTERS = [("busy_ms", "ms"), ("jobs", "count"), ("task_cpu_ms", "ms"),
                  ("shuffle_write_bytes", "bytes"), ("shuffle_records", "count"),
                  ("spill_bytes", "bytes"), ("output_bytes", "bytes")]
BATCH_COUNTERS = [("busy_ms", "ms"), ("task_cpu_ms", "ms"),
                  ("shuffle_write_bytes", "bytes"), ("shuffle_records", "count"),
                  ("spill_bytes", "bytes"), ("exchanges", "count")]
FAMILY_COUNTERS = [("busy_ms", "ms"), ("task_cpu_ms", "ms"), ("jobs", "count"),
                   ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")]
SINKS = ["FGAC_PURCHASE", "QUAR_PURCHASE", "SINK_PURCHASE", "SINK_CLICK", "SINK_SIGNUP"]
FAMILIES = ["operators.dedup_index", "operators.ann_index_store", "operators.bpe",
            "multimodal", "flatten"]
BUILT_FAMILIES = ["operators.dedup_index", "multimodal"]

PER_LAYER = (
    [("spec.parse_ms", "ms"), ("compile.compile_ms", "ms"),
     ("compile.bridge_ms", "ms"), ("compile.plan_ms", "ms")]
    + _layer("streaming.trigger", [
        ("add_batch_p50_ms", "ms"), ("add_batch_max_ms", "ms"), ("floor_p50_ms", "ms"),
        ("wal_commit_p50_ms", "ms"), ("commit_offsets_p50_ms", "ms"),
        ("latest_offset_p50_ms", "ms"), ("query_planning_p50_ms", "ms"),
        ("jobs", "count"), ("stages", "count"), ("tasks", "count")])
    + [("streaming.triggers", "count"), ("streaming.input_rows", "count")]
    + _layer("streaming.scan", STAGE_COUNTERS)
    + _layer("streaming.snapshot_store", STAGE_COUNTERS)
    + _layer("streaming.changelog_sink", STAGE_COUNTERS)
    + [(f"streaming.changelog_sink.{s}.busy_ms", "ms") for s in SINKS]
    + _layer("streaming.snapshot_store", [
        ("live_segments_max", "count"), ("folds", "count"), ("compactions", "count"),
        ("files", "count"), ("bytes_per_key", "bytes")])
    + _layer("streaming.changelog_sink", [
        ("live_segments_max", "count"), ("folds", "count"), ("files", "count"),
        ("bytes_per_row", "bytes")])
    + [("streaming.checkpoint.files", "count")]
    + [m for s in ("batch.view", "batch.xref", "batch.fgac", "batch.quarantine")
       for m in _layer(s, BATCH_COUNTERS)]
    + [("batch.view.json_parses", "count"), ("batch.source_scans", "count"),
       ("batch.output_bytes", "bytes")]
    + [m for f in FAMILIES for m in _layer(f, FAMILY_COUNTERS)]
    + [(f"{f}.build_s", "s") for f in BUILT_FAMILIES]
    + [("jvm.gc_ms", "ms"), ("jvm.jit_cpu_ms", "ms"), ("spark.jobs", "count"),
       ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.task_cpu_ms", "ms"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes")]
    + [("host.probe_ms", "ms"), ("traced.events_per_ref_cpu_s", "1/s"),
       ("traced.setup_s", "s"), ("traced.work_ref_cpu_s", "s")]
)

# Count metrics: deterministic for a given seed and size (see test_counters.py).
COUNT_METRICS = [n for n, u in PER_LAYER if u == "count"]

# The names each workload's summary line uses for its end-to-end metrics.
SUMMARY_NAMES = {
    "stream_upsert": {"events_per_ref_cpu_s": "stream_events_per_ref_cpu_s"},
    "batch_curation": {"events_per_ref_cpu_s": "backfill_events_per_ref_cpu_s"},
}


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark: $SPARK_HOME, else the
    installation that provides `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        die("Spark not found: set SPARK_HOME to a Spark installation")
    return jars


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        die(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}: "
            "run from the root of a checkout of the repository")
    digest = source_hash()
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("sources") == digest:
            return st["classpath"], digest, 0.0
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "scala-2.13" in l and l.count(":") > 2 and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed; see {log}")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp[-1]}, f)
    return cp[-1], digest, time.time() - t0


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A fixed, pre-touched heap: the process's peak RSS then does not depend on
# when the collector happens to grow the heap. The JIT compiler threads all
# start with the JVM and never stop, so the harness can leave their CPU time
# out of the program's (see Host.workCpuMs in Main.scala).
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads"]


def run_jvm(cp, args, work, size, deadline, corpus):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + ["-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", size,
              "--work", work, "--bench", HERE, "--out", out,
              "--mix-oracle", "1" if args.mix_oracle else "0",
              "--corpus", corpus])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"workload timed out; see {log}", 1)
    if rc != 0 or not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload JVM exited with {rc}; see {log}", 1)
    with open(out) as f:
        return json.load(f)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("normal", "tiny"), default="normal",
                    help="tiny: a small input for the deterministic-counter test")
    ap.add_argument("--mix-oracle", action="store_true",
                    help="also write the curation mix's results for oracle.py")
    args = ap.parse_args()
    start = time.time()

    cp, digest, build_s = build()
    # the budget for the run proper starts after a (first-run) build
    deadline = time.time() + JVM_BUDGET_S
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_jvm = time.time()
    # the curation mix's corpus does not depend on the seed: one copy per build
    corpus = os.path.join(BUILD, f"mix_corpus-{digest[:12]}")
    res = run_jvm(cp, args, work, args.size, deadline, corpus)
    res["info"]["mix_corpus"] = corpus
    res["info"]["phase_jvm_s"] = round(time.time() - t_jvm, 2)

    checks = dict(res["checks"])
    attempted, failed = res["attempted"], res["failed"]

    wanted = E2E if args.trace == 0 else PER_LAYER
    source = res["e2e"] if args.trace == 0 else res["layers"]
    metrics = {}
    for name, unit in wanted:
        v = source.get(name, {}).get("value")
        metrics[name] = {"value": 0 if v is None else v, "unit": unit}

    info = res["info"]
    named = {SUMMARY_NAMES[args.workload].get(k, k): v["value"] for k, v in res["e2e"].items()}
    named.update(info.get("figures", {}))
    named["failed_frac"] = failed / max(1, attempted)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {k: fmt(v) for k, v in named.items()},
        "samples": info.get("samples"),
        "failed_checks": [k for k, ok in checks.items() if not ok],
        "input": info.get("input"),
        "host": {"nproc": info.get("nproc"), "xmx_mb": info.get("xmx_mb"),
                 "spark": info.get("spark_version"), "jvm": info.get("jvm"),
                 "jvm_flags": " ".join(JVM_FLAGS), "git": git_sha(), "src": digest[:12]},
        "confs": info.get("spark_confs"),
        "wall_s": round(time.time() - start, 1), "build_s": round(build_s, 1),
    }
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"summary": summary, "checks": checks, "info": info}, f, indent=1)
    line = "PERFBENCH " + json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:
        summary.pop("confs")
        line = "PERFBENCH " + json.dumps(summary, separators=(",", ":"))
    print(line[:1900])
    print(json.dumps({"correct": failed == 0 and all(checks.values()),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
