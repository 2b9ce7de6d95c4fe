#!/usr/bin/env python3
"""List the queries whose plans differ between two `graft.tools.PlanDump`
directories.

PlanDump writes one `<query>_<tag>.txt` per query (the tag is whatever the
run was given, e.g. `base` and `change`). Plan texts carry run counters that
differ between two runs of the same code, so each text is normalised before
the comparison:

    #123              expression ids                    -> #N
    Foo.scala:42      call-site line numbers            -> Foo.scala:N
    plan_id=7         exchange plan ids                 -> plan_id=N
    RDD[12]           RDD ids                           -> RDD[N]
    $$Lambda$12/0x..  lambda class names                -> $$Lambda
    @5f2a1b3c         object hashes                     -> @H
    x_12#             lambda variable (and other) suffixes -> x_N#

It prints one line per query whose normalised plan differs, then the
queries found in only one directory, then a count. `-u` adds a unified diff
of each differing plan.

Usage (from the root of the checkout):

    sbt "runMain graft.tools.PlanDump /tmp/plans_base base"      # on the base
    sbt "runMain graft.tools.PlanDump /tmp/plans_change change"  # on the change
    python3 dev/plandiff.py /tmp/plans_base /tmp/plans_change [-u]
    python3 dev/plandiff.py --dry-run    # checks itself on hand-made plan texts

Exit status: 0 when no plan differs, 1 when some do.
"""
import argparse
import difflib
import io
import os
import re
import sys
import tempfile

COUNTERS = [
    (re.compile(r"\$\$Lambda[$/\w.]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{6,}\b"), "@H"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_\d+#N"), "_N#N"),
]


def normalise(text):
    for pattern, repl in COUNTERS:
        text = pattern.sub(repl, text)
    return text


def plans(directory):
    """Query name -> plan text of every `<query>_<tag>.txt` in `directory`."""
    out = {}
    for f in sorted(os.listdir(directory)):
        if f.endswith(".txt") and "_" in f:
            with open(os.path.join(directory, f)) as fh:
                out[f[:-len(".txt")].rsplit("_", 1)[0]] = fh.read()
    return out


def compare(base_dir, change_dir, unified=False, out=sys.stdout):
    """Print the differing queries; return their names."""
    base, change = plans(base_dir), plans(change_dir)
    differ = [q for q in sorted(base.keys() & change.keys())
              if normalise(base[q]) != normalise(change[q])]
    for q in differ:
        print(f"DIFF {q}", file=out)
        if unified:
            out.writelines(difflib.unified_diff(
                normalise(base[q]).splitlines(True), normalise(change[q]).splitlines(True),
                f"{base_dir}/{q}", f"{change_dir}/{q}"))
    for q in sorted(base.keys() - change.keys()):
        print(f"ONLY {base_dir}: {q}", file=out)
    for q in sorted(change.keys() - base.keys()):
        print(f"ONLY {change_dir}: {q}", file=out)
    print(f"{len(differ)} of {len(base.keys() & change.keys())} common queries differ", file=out)
    return differ


def dry_run():
    """Two hand-made dumps: one query differs only in run counters, one in
    its plan, one exists on one side only."""
    same_a = ("Project [__r#232.USER_ID AS USER_ID#262L]\n"
              "+- Exchange hashpartitioning(k#5L, 4), ENSURE_REQUIREMENTS, [plan_id=99]\n"
              "   +- Scan ExistingRDD[k#5L] MapPartitionsRDD[12] at localCheckpoint at "
              "StreamingPipeline.scala:267\n"
              "      +- transform(xs#7, lambdafunction((x_12#40 + 1), x_12#40, false), "
              "graft.X$$Lambda$1234/0x0000000801a2b3c4@5f2a1b3c)\n")
    same_b = ("Project [__r#9.USER_ID AS USER_ID#10L]\n"
              "+- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=3]\n"
              "   +- Scan ExistingRDD[k#1L] MapPartitionsRDD[40] at localCheckpoint at "
              "StreamingPipeline.scala:270\n"
              "      +- transform(xs#2, lambdafunction((x_3#4 + 1), x_3#4, false), "
              "graft.X$$Lambda/0x00007f00dead0000@1c2d3e4f)\n")
    changed_a = "Aggregate [k#1L], [max_by(struct(a, a#2, b, b#3), ts#4) AS __r#5]\n"
    changed_b = "Aggregate [k#7L], [max_by(named_struct(a, a#8), ts#9) AS __r#10]\n"
    with tempfile.TemporaryDirectory() as tmp:
        a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
        for d, tag, texts in ((a, "base", (same_a, changed_a)), (b, "change", (same_b, changed_b))):
            os.makedirs(d)
            for name, text in zip(("q_same", "q_changed"), texts):
                with open(os.path.join(d, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(text)
        with open(os.path.join(a, "q_gone_base.txt"), "w") as fh:
            fh.write("LocalTableScan\n")
        buf = io.StringIO()
        differ = compare(a, b, out=buf)
    expected = ["DIFF q_changed", f"ONLY {a}: q_gone", "1 of 2 common queries differ"]
    ok = differ == ["q_changed"] and buf.getvalue().splitlines() == expected
    print(buf.getvalue(), end="")
    print("dry run:", "ok" if ok else "FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="?", help="PlanDump directory of the base")
    ap.add_argument("change", nargs="?", help="PlanDump directory of the change")
    ap.add_argument("-u", action="store_true", help="print a unified diff of each differing plan")
    ap.add_argument("--dry-run", action="store_true", help="check the tool on hand-made plan texts")
    args = ap.parse_args()
    if args.dry_run:
        return dry_run()
    if not (args.base and args.change):
        ap.error("give two PlanDump directories, or --dry-run")
    return 1 if compare(args.base, args.change, args.u) else 0


if __name__ == "__main__":
    sys.exit(main())
