#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate.

Runs DuckDB oracle SQL against the testdata parquet tables and
compares with the Verify-dumped Spark results (columns sorted by name,
rows sorted, exact value compare). Dev tool only — not library code.

    python3 tools/check_oracle.py <sfDir> <outDir> [name ...]

Each name is a query name or its short id (`a01`); with names, only
those queries are checked. Every line carries the DuckDB seconds of
its oracle query.
"""
import json, sys, glob, time
import duckdb
import pandas as pd

def load_spark(outdir, name):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    # canonicalize types: timestamps -> ns utc-naive, floats stay
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df

def picks(name, tokens):
    return any(name == t or name.startswith(t + "_") for t in tokens)

def main(sfdir, outdir, *names):
    sql = json.load(open(f"{outdir}/oracle_sql.json"))
    if names:
        unknown = [t for t in names if not any(picks(n, [t]) for n in sql)]
        if unknown:
            print(f"UNKNOWN  {' '.join(unknown)}")
            return 1
        sql = {n: q for n, q in sql.items() if picks(n, names)}
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    ok = fail = 0
    for name, q in sorted(sql.items()):
        spark_df = load_spark(outdir, name)
        if spark_df is None:
            print(f"MISSING  {name}"); fail += 1; continue
        t0 = time.perf_counter()
        try:
            duck_df = con.execute(q).fetchdf()
        except Exception as e:
            print(f"SQLERR   {name}: {e}"); fail += 1; continue
        name = f"{name} [duckdb {time.perf_counter() - t0:.1f}s]"
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"COLS     {name}: spark={list(a.columns)} duck={list(b.columns)}"); fail += 1; continue
        if len(a) != len(b):
            print(f"ROWS     {name}: spark={len(a)} duck={len(b)}"); fail += 1; continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            # the driver's hash is type-sensitive (e.g. DuckDB HUGEINT vs
            # Spark BIGINT) — flag dtype drift even when values match
            # kind mismatches (int vs float vs object, e.g. DuckDB HUGEINT
            # surfacing as float64/object) break the driver hash; width
            # diffs (int32/int64, ns/us) proved hash-safe in r01
            dt = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
                  if a[c].dtype.kind != b[c].dtype.kind]
            # the driver hash is byte-sensitive: -0.0 vs +0.0 compare
            # equal in pandas but hash differently (bit r03: a01/a09)
            import numpy as np
            sz = []
            for c in a.columns:
                if a[c].dtype.kind == "f":
                    va, vb = a[c].to_numpy(), b[c].to_numpy()
                    m = ~(pd.isna(va) | pd.isna(vb))
                    if (np.signbit(va[m]) != np.signbit(vb[m])).any():
                        sz.append(c)
            if dt:
                print(f"DTYPE    {name}: {dt}"); fail += 1
            elif sz:
                print(f"NEGZERO  {name}: signbit mismatch in {sz}"); fail += 1
            else:
                print(f"OK       {name} ({len(a)} rows)"); ok += 1
        except AssertionError as e:
            print(f"VALUES   {name}: {str(e).splitlines()[-1][:200]}"); fail += 1
    print(f"\n{ok} ok, {fail} fail")
    return 1 if fail else 0

if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
