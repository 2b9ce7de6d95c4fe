"""DuckDB oracle for the curation mix: every mix query's Spark result must
equal its DuckDB mirror (`SparkEntry.oracleSql`) over the same generated
corpus, compared the way the repository's correctness gate compares them:
same columns, same row count, and equal values row by row in the queries'
deterministic order."""
import glob
import json
import os


def _compare(got, want):
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    import pandas as pd
    for c in got.columns:
        a, b = (x.dt.tz_localize(None) if str(x.dtype).startswith("datetime64")
                and getattr(x.dt, "tz", None) is not None else x
                for x in (got[c], want[c]))
        eq = a.astype(object).where(pd.notna(a), None) == b.astype(object).where(pd.notna(b), None)
        neq = (~eq) & ~(pd.isna(a) & pd.isna(b))
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: {a[i]!r} != {b[i]!r} ({neq.sum()} diffs)"
    return None


def check(input_dir, output_dir):
    """{query: ok} for every query with a written result and a mirror."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    with open(os.path.join(output_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    results = {}
    for name, sql in sorted(sqls.items()):
        try:
            got = pd.read_parquet(os.path.join(output_dir, name))
            want = con.execute(sql).fetchdf()
            err = _compare(got, want)
        except Exception as e:  # an oracle or read failure is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            print(f"[perfbench] oracle mismatch {name}: {err}", flush=True)
        results[name] = err is None
    return results


def main():
    """Run the batch_curation workload once at tiny size with the mix's
    results written out, check each against its DuckDB mirror, and record
    the run's fingerprints as the expected values every run compares to."""
    import subprocess
    import sys
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", "batch_curation",
                    "--seed", "1", "--seconds", "1", "--size", "tiny", "--mix-oracle"],
                   cwd=root, check=True, stdout=subprocess.DEVNULL)
    work = os.path.join(root, ".bench_work", "batch_curation")
    with open(os.path.join(work, "summary.json")) as f:
        info = json.load(f)["info"]
    results = check(info["mix_corpus"], os.path.join(work, "mix_output"))
    print(json.dumps(results, indent=1))
    if not all(results.values()):
        sys.exit("oracle mismatch: mix_expected.json not written")
    fps = info["mix_fingerprints"]
    with open(os.path.join(here, "mix_expected.json"), "w") as f:
        json.dump(dict(sorted(fps.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
