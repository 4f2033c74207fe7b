#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir>
       python3 tools/check.py --compare <verify_out_dir_a> <verify_out_dir_b>

Reads each <out_dir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <out_dir>/oracle_sql.json in DuckDB over the
<sf_dir> tables, and compares after sorting columns by name and rows by
all columns. Prints a per-query verdict.

--compare hashes every query output of two Verify directories in the same
canonical form (columns by name, rows by all columns, dtypes included) and
reports each query as identical or not, rows-only queries included; it
exits nonzero unless both directories hold the same queries with identical
hashes."""
import sys, json, glob, os, hashlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _plain(v):
    """An array, struct or map cell as a sortable, hashable string."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v) if isinstance(v, (list, dict, tuple)) else v


def canon_hash(df: pd.DataFrame) -> str:
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_plain)
    df = canon(df)
    h = hashlib.sha256(json.dumps(
        [[c, str(t)] for c, t in zip(df.columns, df.dtypes)]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def compare(dir_a, dir_b):
    con = duckdb.connect()

    def outputs(d):
        return {os.path.basename(p) for p in glob.glob(f"{d}/*")
                if os.path.isdir(p)}

    a_names, b_names = outputs(dir_a), outputs(dir_b)
    n_same = n_diff = 0
    for name in sorted(a_names | b_names):
        if name not in a_names or name not in b_names:
            side = dir_a if name in a_names else dir_b
            print(f"DIFF  {name}: only in {side}")
            n_diff += 1
            continue
        hashes, rows = [], []
        for d in (dir_a, dir_b):
            if not glob.glob(f"{d}/{name}/*.parquet"):
                hashes.append(None)
                rows.append(0)
                continue
            df = con.sql(f"SELECT * FROM '{d}/{name}/*.parquet'").df()
            hashes.append(canon_hash(df))
            rows.append(len(df))
        if hashes[0] is not None and hashes[0] == hashes[1]:
            print(f"SAME  {name}: {rows[0]} rows, {hashes[0][:16]}")
            n_same += 1
        else:
            print(f"DIFF  {name}: rows {rows[0]} vs {rows[1]}, "
                  f"hash {str(hashes[0])[:16]} vs {str(hashes[1])[:16]}")
            n_diff += 1
    print(f"\n{n_same} identical, {n_diff} differ, "
          f"{len(a_names | b_names)} total")
    sys.exit(1 if n_diff else 0)


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
                   if os.path.isdir(p))
    n_ok = n_bad = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no spark output")
            n_bad += 1
            continue
        spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        if name not in oracles:
            print(f"rows  {name}: {len(spark_df)} rows (no oracle)")
            continue
        try:
            duck_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {str(e)[:200]}")
            n_bad += 1
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_bad += 1
            continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            n_bad += 1
            continue
        try:
            # strict dtype check: the driver's gate hashes typed values, so
            # a HUGEINT-vs-bigint difference fails there even when the
            # rendered numbers agree (the round-1 q32 lesson)
            pd.testing.assert_frame_equal(a, b, check_dtype=True,
                                          check_exact=True)
            print(f"OK    {name}: {len(a)} rows")
            n_ok += 1
        except AssertionError as e:
            print(f"FAIL  {name}: value mismatch: {str(e)[:300]}")
            # show first differing rows
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_rows = neq.any(axis=1)
            if bad_rows.any():
                i = bad_rows.idxmax()
                print(f"      spark row {i}: {a.loc[i].to_dict()}")
                print(f"      duck  row {i}: {b.loc[i].to_dict()}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed, {len(names)} total")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--compare"] and len(sys.argv) == 4:
        compare(sys.argv[2], sys.argv[3])
    else:
        main()
