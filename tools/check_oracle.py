#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate.

Runs DuckDB oracle SQL against the testdata parquet tables and
compares with the Verify-dumped Spark results (columns sorted by name,
rows sorted, exact value compare). Dev tool only — not library code.

    python3 tools/check_oracle.py <sfDir> <outDir> [name ...]

Each name is a query name or its short id (`a01`); with names, only
those queries are checked. Every line carries the DuckDB seconds of
its oracle query, or `cached`.

DuckDB's normalized answers are cached under `.oracle_cache/` at the
repository root, keyed on the oracle SQL text, a manifest of the
sfDir's parquet files (name, size, SHA-256) and `duckdb.__version__`.
A miss reruns DuckDB; the compare is the same exact compare either way.
Delete the directory to drop the cache.
"""
import hashlib, json, os, sys, glob, time
import duckdb
import pandas as pd

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".oracle_cache")

def manifest(sfdir):
    """(name, size, SHA-256) of every parquet file under sfdir."""
    out = []
    for d, _, files in sorted(os.walk(sfdir)):
        for f in sorted(files):
            if ".parquet" not in f:
                continue
            path = os.path.join(d, f)
            h = hashlib.sha256()
            with open(path, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
            out.append([os.path.relpath(path, sfdir), os.path.getsize(path), h.hexdigest()])
    return out

def cache_path(q, files):
    key = json.dumps([q, files, duckdb.__version__]).encode()
    return os.path.join(CACHE, hashlib.sha256(key).hexdigest() + ".pkl")

def oracle_answer(con, q, files):
    """DuckDB's normalized answer and how it was had: `cached` or its seconds."""
    path = cache_path(q, files)
    if os.path.exists(path):
        return pd.read_pickle(path), "cached"
    t0 = time.perf_counter()
    df = normalize(con.execute(q).fetchdf())
    took = f"duckdb {time.perf_counter() - t0:.1f}s"
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df, took

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
    files = manifest(sfdir)
    ok = fail = 0
    for name, q in sorted(sql.items()):
        spark_df = load_spark(outdir, name)
        if spark_df is None:
            print(f"MISSING  {name}"); fail += 1; continue
        try:
            b, how = oracle_answer(con, q, files)
        except Exception as e:
            print(f"SQLERR   {name}: {e}"); fail += 1; continue
        name = f"{name} [{how}]"
        a = normalize(spark_df)
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
