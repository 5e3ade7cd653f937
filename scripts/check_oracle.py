#!/usr/bin/env python3
"""Local pre-flight for the driver's t2 correctness gate.

Usage: python3 scripts/check_oracle.py [sfDir] [outDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already produced
per-query parquet dumps + oracle_sql.json. Registers the sf tables in
DuckDB, runs each oracle SQL, and compares row sets against the Spark
results (columns sorted by name, rows sorted, values stringified with
float rounding) — approximating the driver's hash compare. Each result
line ends with the seconds spent on each side: `[sql S s, dump D s]`,
the oracle SQL (run, fetched and canonicalized) and the read of the
Spark dump.

TYPE-PARITY (round 14, verdict "What's wrong #2"): the driver hashes
result sets AFTER a pandas conversion, where DuckDB HUGEINT (the type of
an uncast sum(int)) lands as float64 and renders "64.0" while Spark's
BIGINT renders "64" — a hash mismatch on identical values that the old
value-level canon() (which collapsed 64.0 -> "64") could not see (q293,
round 13: local gate said 296 ok, driver said 295). This version fetches
BOTH sides as pandas frames and fails a query on any per-column dtype-KIND
mismatch (int vs float vs bool vs object/Decimal ...), which is exactly
the class the driver's renderer distinguishes, BEFORE the value compare.
"""
import json, math, sys, time
from pathlib import Path

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")

# each result line reaches a pipe or a log as soon as it is known
sys.stdout.reconfigure(line_buffering=True)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def dtype_kinds(df):
    """Column-name -> dtype kind, the granularity the driver's renderer
    distinguishes: 'i' int64/int32, 'f' float (incl. HUGEINT-via-pandas),
    'b' bool, 'M' datetime, 'O' object (strings, Decimal, lists)."""
    out = {}
    for c in df.columns:
        k = df[c].dtype.kind
        out[c.lower()] = "i" if k in ("i", "u") else k
    return out


def fetch(con, sql):
    """Runs `sql` once and returns its lower-cased column names, its
    pandas frame and its canonical rows. The result is kept in a table
    with the query's own column types, and both reads come from it, so
    the query is not executed a second time for the rows."""
    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    con.execute("DROP TABLE IF EXISTS fetched")
    rel.to_table("fetched")
    res = con.table("fetched")
    return cols, res.df(), canon_rows(cols, res.fetchall())


def timing(t_dump, t_sql):
    """The seconds each side took: the dump read ran from `t_dump` to
    `t_sql`, the oracle SQL from `t_sql` to now."""
    return f"[sql {time.monotonic() - t_sql:.2f} s, dump {t_sql - t_dump:.2f} s]"


def main():
    t0 = time.monotonic()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    ok = fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = OUT / name
        if not res_dir.exists():
            print(f"MISSING  {name}: no Spark result dump")
            fail += 1
            continue
        t_dump = time.monotonic()
        s_cols, s_df, s_rows = fetch(con, f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
        s_kinds = dtype_kinds(s_df)
        t_sql = time.monotonic()
        try:
            d_cols, d_df, d_rows = fetch(con, sql)
            d_kinds = dtype_kinds(d_df)
        except Exception as e:
            print(f"SQLERR   {name}: {e} {timing(t_dump, t_sql)}")
            fail += 1
            continue
        took = timing(t_dump, t_sql)
        type_mismatch = [
            (c, s_kinds[c], d_kinds[c])
            for c in s_kinds if c in d_kinds and s_kinds[c] != d_kinds[c]
        ]
        # An all-NULL column comes back object on one side; only flag
        # kind clashes where both sides hold non-null values.
        type_mismatch = [
            (c, sk, dk) for (c, sk, dk) in type_mismatch
            if s_df[c].notna().any() and d_df[c].notna().any()
        ]
        if sorted(s_cols) != sorted(d_cols):
            print(f"SCHEMA   {name}: spark={sorted(s_cols)} duck={sorted(d_cols)} {took}")
            fail += 1
        elif type_mismatch:
            det = ", ".join(f"{c}: spark={sk} duck={dk}" for c, sk, dk in type_mismatch)
            print(f"TYPE     {name}: {det} (driver hasher renders these differently — cast the oracle) {took}")
            fail += 1
        elif s_rows != d_rows:
            diff_s = [r for r in s_rows if r not in d_rows][:3]
            diff_d = [r for r in d_rows if r not in s_rows][:3]
            print(f"ROWS     {name}: {len(s_rows)} spark vs {len(d_rows)} duck rows {took}")
            print(f"         spark-only: {diff_s}")
            print(f"         duck-only:  {diff_d}")
            fail += 1
        else:
            print(f"OK       {name} ({len(s_rows)} rows) {took}")
            ok += 1
    print(f"\n{ok} ok, {fail} failed in {time.monotonic() - t0:.0f} s")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
