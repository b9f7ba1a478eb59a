#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tool only; the
shipped library is pure Scala). Runs each oracle SQL from
out/verify/oracle_sql.json in DuckDB over the fixture parquet tables,
loads the corresponding Spark result parquet, canonicalizes both
(columns sorted by name, rows sorted, floats rounded to 4dp) and
compares hashes, printing a per-query verdict with a diff preview on
mismatch.

Two type guards run before the value compare, because pandas reads
HUGEINT as float64 and the value compare ignores dtype width:
- an oracle output column of type HUGEINT fails the row (cast it);
- a column that is integer on one side and floating on the other fails
  the row (dtype kind is compared from the declared types, not width).

Usage: python3 tools/check.py [sfdir] [outdir]
"""
import json, sys, glob
import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/out/verify"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        # normalize tz-aware → naive for comparison robustness
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
            "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}
DUCK_FLOAT = {"FLOAT", "DOUBLE"}

def spark_kinds(files):
    """Column -> 'int' | 'float' | None from the landed parquet schema."""
    sch = pq.read_schema(files[0])
    return {f.name: "int" if pa.types.is_integer(f.type)
            else "float" if pa.types.is_floating(f.type) else None for f in sch}

def oracle_kinds(rel):
    return {c: "int" if str(t) in DUCK_INT else "float" if str(t) in DUCK_FLOAT else None
            for c, t in zip(rel.columns, rel.types)}

def type_guard(files, rel):
    """A failure message for a HUGEINT oracle column or an integer/float
    kind mismatch between the two sides; None when the types agree."""
    huge = [c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
    if huge:
        return f"HUGEINT oracle column(s) {huge}: CAST them to BIGINT"
    got, exp = spark_kinds(files), oracle_kinds(rel)
    bad = [f"{c}: got={got[c]} exp={exp[c]}" for c in sorted(set(got) & set(exp))
           if got[c] and exp[c] and got[c] != exp[c]]
    return f"DTYPE kind mismatch {bad}" if bad else None

def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        path = f"{outdir}/{name}"
        files = glob.glob(f"{path}/*.parquet")
        if not files:
            results[name] = "MISSING spark output"
            continue
        try:
            rel = con.sql(sql)
            guard = type_guard(files, rel)
            got = canon(pd.read_parquet(path))
            exp = canon(rel.df())
        except Exception as e:
            results[name] = f"ERROR {e}"
            continue
        if guard:
            results[name] = guard
            continue
        if list(got.columns) != list(exp.columns):
            results[name] = f"SCHEMA got={list(got.columns)} exp={list(exp.columns)}"
            continue
        if len(got) != len(exp):
            results[name] = f"ROWS got={len(got)} exp={len(exp)}"
            continue
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            results[name] = "OK"
        except AssertionError as e:
            results[name] = "VALUES " + str(e).split("\n")[0]
            # show first differing rows
            neq = (got != exp) & ~(got.isna() & exp.isna())
            bad = neq.any(axis=1)
            print(f"--- {name} first diffs:")
            print(pd.concat([got[bad].head(3).add_suffix("_got"),
                             exp[bad].head(3).add_suffix("_exp")], axis=1).to_string())
    ok = sum(1 for v in results.values() if v == "OK")
    for name, v in sorted(results.items()):
        print(f"{'PASS' if v == 'OK' else 'FAIL':4} {name}: {v}")
    print(f"{ok}/{len(results)} oracle-matched")
    return 0 if ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main())
