#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

With SPARK_GRAFT_ONLY=q_a,q_b set (as for the Verify run it scores), only
those queries are scored; a selected query with no output still fails.

Reads oracle_sql.json from the verify output dir, runs each SQL in
DuckDB over the sfDir parquet tables, and compares against the Spark
parquet dump: columns sorted by name, rows sorted by all columns,
values compared exactly (floats bit-compared after round-trip through
repr) — i.e., at least as strict as a hash match.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize column dtypes for comparison
    for c in df.columns:
        if df[c].dtype.name.startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        # DuckDB HUGEINT surfaces as object; make it comparable but keep
        # its float-ness visible to the kind check below
        if df[c].dtype.name == "object" and len(df) and \
           all(isinstance(v, int) and not isinstance(v, bool)
               for v in df[c].dropna()):
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def kind(dtype) -> str:
    """int vs float vs bool vs other — the class the driver's hash is
    sensitive to."""
    n = dtype.name
    if n.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if n.startswith(("float", "Float")):
        return "float"
    if n.startswith(("bool", "Bool")):
        return "bool"
    return n

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # iterate declared oracles ∪ produced dirs: a query that crashed in
    # Verify (no output dir) must FAIL here, not silently vanish
    produced = {n for n in os.listdir(out_dir)
                if os.path.isdir(os.path.join(out_dir, n))}
    names = set(oracle) | produced
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        # Verify ran only these; the oracle map and stale dirs list more
        names = {n.strip() for n in only.split(",") if n.strip()}
        print(f"scoring the {len(names)} queries named by SPARK_GRAFT_ONLY")
    for name in sorted(names):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            print(f"✗ {name}: NO OUTPUT (query failed in Verify)")
            n_fail += 1
            continue
        files = glob.glob(f"{d}/*.parquet") or glob.glob(f"{d}/part-*")
        if not files:  # dir exists but write died before any part file
            print(f"✗ {name}: PARTIAL OUTPUT (no parquet files in dir)")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            print(f"  [rows-only] {name}: rows={len(got)}")
            continue
        try:
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"✗ {name}: column mismatch spark={list(g.columns)} duckdb={list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"✗ {name}: row count spark={len(g)} duckdb={len(w)}")
            n_fail += 1
            continue
        # the driver's hash is dtype-class-sensitive (int64 19525 hashes
        # differently from float64 19525.0) — reject kind mismatches even
        # when values are numerically equal
        kinds_g = [kind(g[c].dtype) for c in g.columns]
        kinds_w = [kind(w[c].dtype) for c in w.columns]
        if kinds_g != kinds_w:
            bad = [(c, a, b) for c, a, b in
                   zip(g.columns, kinds_g, kinds_w) if a != b]
            print(f"✗ {name}: dtype-kind mismatch (spark vs duckdb): {bad}")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            print(f"✓ {name}: {len(g)} rows")
            n_pass += 1
        except AssertionError as e:
            print(f"✗ {name}: VALUE mismatch\n{str(e)[:800]}")
            # show first differing rows
            neq = (g.astype(str) != w.astype(str)).any(axis=1)
            if neq.any():
                i = neq.idxmax()
                print("  spark :", g.iloc[i].to_dict())
                print("  duckdb:", w.iloc[i].to_dict())
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
