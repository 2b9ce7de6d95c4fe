#!/usr/bin/env python3
"""Reachability audit of the main Scala sources: which file of `src/main/scala`
does a query, the benchmark or a standing tool reach, and through what.

The walk is file by file. A file's names are the `object`, `class` and `trait`
names it defines at the top level (brace depth 0). A file refers to another
when its text, with comments stripped, holds one of the other file's names as
an identifier. The roots are:

    the main entry points   SparkEntry, Bench, Verify, Generate
    the standing tools      every file under graft/tools/
    the benchmark harness   every main file whose names the harness sources
                            (perfbench/harness/src) use

It prints each main file with the chain of names that reaches it from a root,
then the unreached files. A file may stay unreached only if ALLOWLIST names it,
with the reason it is kept; a file that only allowlisted files reach is listed
as kept with them. An allowlisted file that is reached is reported too, so a
stale entry does not linger.

Usage (from the root of the checkout):

    python3 dev/reach.py            # the audit
    python3 dev/reach.py --dry-run  # checks itself on a hand-made tree

Exit status: 0 when every unreached file is allowlisted and every allowlist
entry is unreached, 1 otherwise.
"""
import argparse
import io
import os
import re
import sys
import tempfile

MAIN = os.path.join("src", "main", "scala")
HARNESS = os.path.join("perfbench", "harness", "src")
ENTRY_POINTS = ("SparkEntry", "Bench", "Verify", "Generate")
TOOLS_DIR = "graft/tools/"

# main files kept although no root reaches them, each with its reason
ALLOWLIST = {
    "graft/streaming/StatefulXref.scala":
        "the only state TTL (COVERAGE T3); deleted once SnapshotStore folds "
        "out keys idle past an event-time TTL (ROADMAP G)",
    "graft/sources/KafkaWiring.scala":
        "reference surface: the Kafka reader/writer options of the "
        "reference's DDL (COVERAGE S1); no Kafka jar to run it against",
    "graft/sources/ConnectorWorkbook.scala":
        "reference surface: the connector Excel template parser and "
        "validate_row port (COVERAGE S2/V4)",
}

DEF = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")


def strip_comments(src):
    """`src` without `//` and (nested) `/* */` comments. String and character
    literals are kept, so a `//` inside one does not start a comment.
    Newlines inside a block comment are kept, so line counts still hold."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
            out.append(" ")
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """a"""" ends on its last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and CHAR_LIT.match(src, i):
            m = CHAR_LIT.match(src, i)
            out.append(m.group(0))
            i = m.end()
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def top_level_names(code):
    """Names `code` defines at brace depth 0 (string and character literal
    contents ignored)."""
    depth, names = 0, set()
    blanked = re.sub(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|' + CHAR_LIT.pattern, '""', code)
    for m in re.finditer(r"[{}]|" + DEF.pattern, blanked):
        if m.group(0) == "{":
            depth += 1
        elif m.group(0) == "}":
            depth -= 1
        elif depth == 0:
            names.add(m.group(1))
    return names


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def read_code(path):
    with open(path, encoding="utf-8") as fh:
        return strip_comments(fh.read())


def walk(repo):
    """Return (files, refs, roots, lines): every main file (relative to MAIN),
    a function from a file to the main files it refers to, the root files
    with their root labels, and each file's line count."""
    main_root = os.path.join(repo, MAIN)
    code, lines = {}, {}
    for p in scala_files(main_root):
        rel = os.path.relpath(p, main_root).replace(os.sep, "/")
        code[rel] = read_code(p)
        with open(p, encoding="utf-8") as fh:
            lines[rel] = sum(1 for _ in fh)
    definers = {}
    for rel, c in code.items():
        for name in top_level_names(c):
            definers.setdefault(name, set()).add(rel)

    def names_in(text):
        found = set()
        for ident in set(IDENT.findall(text)):
            found |= definers.get(ident, set())
        return found

    roots = {}  # file -> root label, first label wins
    for name in ENTRY_POINTS:
        for rel in sorted(definers.get(name, ())):
            roots.setdefault(rel, f"root:{name}")
    for rel in sorted(code):
        if rel.startswith(TOOLS_DIR):
            roots.setdefault(rel, "root:tools")
    for p in scala_files(os.path.join(repo, HARNESS)):
        label = "root:perfbench/" + os.path.basename(p)
        for rel in sorted(names_in(read_code(p))):
            roots.setdefault(rel, label)
    return sorted(code), lambda rel: names_in(code[rel]) - {rel}, roots, lines


def bfs(parent, starts, refs):
    """Extend `parent` (file -> the file or root label it was reached from)
    breadth-first from `starts`, in sorted order so chains are stable."""
    frontier = sorted(starts)
    while frontier:
        nxt = []
        for rel in frontier:
            for dep in sorted(refs(rel)):
                if dep not in parent:
                    parent[dep] = rel
                    nxt.append(dep)
        frontier = nxt
    return parent


def chain(rel, parent):
    """`root:X > A > B > rel`, naming each file by its stem (a root file's
    chain is its label and itself). Labels hold a colon; paths do not."""
    hops = []
    while ":" not in parent[rel]:
        hops.append(rel)
        rel = parent[rel]
    hops.append(rel)
    names = [os.path.basename(h)[:-len(".scala")] for h in reversed(hops)]
    return " > ".join([parent[rel]] + names)


def report(repo, allowlist, out=sys.stdout):
    """Print the audit; return the exit status. A file that only an
    allowlisted file reaches is part of that kept surface: it is listed as
    kept, with its chain, and needs no allowlist entry of its own."""
    files, refs, roots, lines = walk(repo)
    parent = bfs(dict(roots), roots, refs)
    unreached = [f for f in files if f not in parent]
    kept_roots = {f: "kept:allowlist" for f in unreached if f in allowlist}
    kept = bfs({**parent, **kept_roots}, kept_roots, refs)
    for f in files:
        if f in parent:
            print(f"reached    {f}  <- {chain(f, parent)}", file=out)
    for f in files:
        if f in kept and f not in parent and f not in kept_roots:
            print(f"kept       {f}  <- {chain(f, kept)}", file=out)
    unreached = [f for f in files if f not in kept or f in kept_roots]
    bad = 0
    for f in unreached:
        if f in allowlist:
            print(f"UNREACHED  {f} ({lines[f]} lines), allowlisted: {allowlist[f]}", file=out)
        else:
            print(f"UNREACHED  {f} ({lines[f]} lines), NOT allowlisted", file=out)
            bad += 1
    for f in sorted(allowlist):
        if f in parent:
            print(f"STALE      {f} is allowlisted but reached: drop the entry", file=out)
            bad += 1
        elif f not in files:
            print(f"STALE      {f} is allowlisted but gone: drop the entry", file=out)
            bad += 1
    n_kept = len(files) - len(parent) - len(unreached)
    print(f"{len(files)} main files, {len(parent)} reached, {n_kept} kept by an "
          f"allowlisted file, {len(unreached)} unreached "
          f"({sum(lines[f] for f in unreached)} lines), {bad} problem(s)", file=out)
    return 1 if bad else 0


def dry_run():
    """A hand-made tree: an entry-point chain, a tool, a harness-used file,
    a name used only in a comment, a `//` inside a string, a `{` character
    literal, a nested name that must not count as a definition, a file only
    an allowlisted file
    uses, and three unreached files (one allowlisted, one not, one
    allowlisted although reached)."""
    tree = {
        f"{MAIN}/graft/Bench.scala":
            'package graft\nobject Bench { def main(a: Array[String]): Unit = A.run() }\n',
        f"{MAIN}/graft/a/A.scala":
            'package graft.a\n/* Orphan is named only here */\n'
            'object A {\n  // and Dead only here\n  def run() = { val u = "http://x"; B.x }\n'
            '  object Inner\n}\n',
        f"{MAIN}/graft/a/B.scala": "package graft.a\nobject B { val x = Kept.y }\n",
        f"{MAIN}/graft/a/Kept.scala": "package graft.a\nobject Kept { val y = 1 }\n",
        f"{MAIN}/graft/tools/T.scala": "package graft.tools\nobject T { val c = C() }\n",
        f"{MAIN}/graft/a/C.scala":
            "package graft.a\nobject Brace { val c = '{' }\ncase class C()\n",
        f"{MAIN}/graft/a/H.scala": "package graft.a\nobject H\n",
        f"{MAIN}/graft/a/Orphan.scala":
            "package graft.a\nobject Orphan { val z = Inner; val h = Helper }\n",
        f"{MAIN}/graft/a/Helper.scala": "package graft.a\nobject Helper\n",
        f"{MAIN}/graft/a/Dead.scala": "package graft.a\nobject Dead { val z = B.x }\n",
        f"{HARNESS}/main/scala/perfbench/Main.scala":
            "package perfbench\n// not C\nobject Main { graft.a.H }\n",
    }
    allow = {"graft/a/Orphan.scala": "kept on purpose", "graft/a/Kept.scala": "stale"}
    with tempfile.TemporaryDirectory() as tmp:
        for rel, text in tree.items():
            path = os.path.join(tmp, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(text)
        buf = io.StringIO()
        status = report(tmp, allow, out=buf)
    expected = [
        "reached    graft/Bench.scala  <- root:Bench > Bench",
        "reached    graft/a/A.scala  <- root:Bench > Bench > A",
        "reached    graft/a/B.scala  <- root:Bench > Bench > A > B",
        "reached    graft/a/C.scala  <- root:tools > T > C",
        "reached    graft/a/H.scala  <- root:perfbench/Main.scala > H",
        "reached    graft/a/Kept.scala  <- root:Bench > Bench > A > B > Kept",
        "reached    graft/tools/T.scala  <- root:tools > T",
        "kept       graft/a/Helper.scala  <- kept:allowlist > Orphan > Helper",
        "UNREACHED  graft/a/Dead.scala (2 lines), NOT allowlisted",
        "UNREACHED  graft/a/Orphan.scala (2 lines), allowlisted: kept on purpose",
        "STALE      graft/a/Kept.scala is allowlisted but reached: drop the entry",
        "10 main files, 7 reached, 1 kept by an allowlisted file, 2 unreached (4 lines), "
        "2 problem(s)",
    ]
    got = buf.getvalue().splitlines()
    ok = status == 1 and got == expected
    print(buf.getvalue(), end="")
    if not ok:
        print("expected:\n" + "\n".join(expected))
    print("dry run:", "ok" if ok else "FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dry-run", action="store_true", help="check the tool on a hand-made tree")
    args = ap.parse_args()
    if args.dry_run:
        return dry_run()
    return report(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ALLOWLIST)


if __name__ == "__main__":
    sys.exit(main())
