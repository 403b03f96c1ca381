#!/usr/bin/env python3
"""Local self-check mimicking the driver's correctness gate:
run each oracle SQL in DuckDB over the same parquet tables and compare
with the Verify parquet output (columns sorted by name, values hashed).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
Each gate that threw in Verify (named in verify_failures.json) counts as a
failure; a missing manifest means Verify did not finish, one failure more.
Dev-only tool (driver-side stack: duckdb/pyarrow/pandas); the Scala
library has no dependency on this.
"""
import sys, json, glob, os, math
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # The driver sorts result rows by all columns before hashing; replay
    # that so locally-green means driver-green. Array-typed cells make
    # pandas sort_values throw (round-2 failure mode) — let it propagate
    # so the gate author sees it here first.
    if len(df.columns) and len(df):
        df = df.sort_values(by=df.columns.tolist(), kind="mergesort")
    return df

def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6g}" if v == v else "NULL"
    return str(v)

def frame_rows(df: pd.DataFrame):
    df = canon(df)
    out = []
    for row in df.itertuples(index=False):
        out.append(tuple(cell(v) for v in row))
    return df.columns.tolist(), out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    manifest = f"{out_dir}/verify_failures.json"
    if os.path.exists(manifest):
        failed = json.load(open(manifest))
    else:
        print(f"{'verify_failures.json':35s} MISSING (Verify did not finish)")
        failed = {}
        n_fail += 1
    for name in sorted(failed):
        e = failed[name]
        print(f"{name:35s} VERIFY-FAILED {e['class']}: {e['message']}")
        n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or name in failed:
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            status = "ROWS-ONLY " + ("ok" if len(got) > 0 else "EMPTY!")
            if len(got) > 0: n_pass += 1
            else: n_fail += 1
            print(f"{name:35s} {status} ({len(got)} rows)")
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"{name:35s} ORACLE-SQL-ERROR: {e}")
            n_fail += 1
            continue
        try:
            gc, gr = frame_rows(got)
            ec, er = frame_rows(exp)
        except Exception as e:
            print(f"{name:35s} UNSORTABLE (array column?): {e}")
            n_fail += 1
            continue
        if gc != ec:
            print(f"{name:35s} SCHEMA-MISMATCH spark={gc} duck={ec}")
            n_fail += 1
            continue
        if gr == er:
            print(f"{name:35s} OK ({len(gr)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            if len(gr) != len(er):
                print(f"{name:35s} ROWCOUNT spark={len(gr)} duck={len(er)}")
            else:
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(gr, er)) if a != b]
                print(f"{name:35s} VALUE-DIFF {len(bad)}/{len(gr)} rows, first: {bad[0] if bad else ''}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
