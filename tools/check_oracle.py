#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the test parquet tables and compare with the Spark result
parquet dumped by graft.Verify. Columns sorted by name, rows sorted, exact
value compare (floats reported with max abs diff on mismatch). Every gate in
oracle_sql.json is checked; one without an output dir counts as MISSING.
Exits non-zero when any check fails.

DuckDB spills to a fresh directory under the system temp dir, removed at
exit, capped at half of that filesystem's free space: an oracle too large
for the host fails as that gate's ORACLE-ERROR and the run goes on.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import atexit, json, sys, glob, os, shutil, tempfile
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s) or s.dtype == object and s.map(
                lambda v: isinstance(v, int)).all() and len(s) > 0:
            try:
                df[c] = s.astype("int64")
            except (TypeError, OverflowError, ValueError):
                pass
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def connect():
    """A DuckDB connection whose spill directory is a fresh temp dir
    (removed at exit) capped at half of its filesystem's free space.
    DuckDB's own default spills to ./.tmp with no cap."""
    spill = tempfile.mkdtemp(prefix="check_oracle-")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET max_temp_directory_size = '{shutil.disk_usage(spill).free // 2}B'")
    return con

def create_views(con, sf_dir):
    """One view per test table present in `sf_dir`, named as the oracles
    name it."""
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table: directory of part files
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def check(sf_dir, out_dir):
    """Compare every gate named in oracle_sql.json; returns (n_pass, n_fail).
    A gate with no output dir (Verify could not run it) is a failure."""
    con = connect()
    create_views(con, sf_dir)
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            print(f"{name:24s} MISSING (no output dir)")
            n_fail += 1
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").df() if files else pd.DataFrame()
        try:
            oracle_df = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name:24s} ORACLE-ERROR {e}")
            n_fail += 1
            continue
        a, b = canon(spark_df), canon(oracle_df)
        if list(a.columns) != list(b.columns):
            print(f"{name:24s} COLS-MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"{name:24s} ROWCOUNT spark={len(a)} oracle={len(b)}")
            n_fail += 1
            continue
        ok = True
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]):
                av, bv = a[c].values, b[c].values
                same = (av == bv) | (pd.isna(av) & pd.isna(bv))
                if not same.all():
                    diff = abs(pd.Series(av) - pd.Series(bv)).max()
                    print(f"{name:24s} FLOAT-DIFF col={c} maxabs={diff}")
                    ok = False
            else:
                same = (a[c].values == b[c].values) | (pd.isna(a[c]).values & pd.isna(b[c]).values)
                if not same.all():
                    idx = (~same).nonzero()[0][:3]
                    print(f"{name:24s} VALUE-DIFF col={c} e.g. {[(a[c].iloc[i], b[c].iloc[i]) for i in idx]}")
                    ok = False
        if ok:
            print(f"{name:24s} PASS rows={len(a)}")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return n_pass, n_fail


if __name__ == "__main__":
    _, failed = check(sys.argv[1], sys.argv[2])
    sys.exit(1 if failed else 0)
