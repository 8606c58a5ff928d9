"""Output check against the library's DuckDB oracles.

Each checked op's check-pass output (parquet written by the benchmark
JVM) is compared with its oracle SQL from `SparkEntry.oracleSql`, run
in DuckDB over the same seed's input tables: columns sorted by name,
rows sorted by all columns, values compared exactly (NaN equals NaN).
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) \
            and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    s, d = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].to_list(), d[c].to_list())):
            if not _same(x, y):
                return f"col={c} row={i} spark={x!r} duck={y!r}"
    return None


def _read(out_dir, name):
    parts = sorted(glob.glob(os.path.join(out_dir, "check", name, "*.parquet")))
    if not parts:
        return None
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def output_hashes(out_dir, names):
    """{op: sha256 of its canonicalized check output} (None if absent)."""
    out = {}
    for name in names:
        df = _read(out_dir, name)
        out[name] = None if df is None else hashlib.sha256(
            _canon(df).to_csv(index=False).encode()).hexdigest()
    return out


def oracle_check(inputs_dir, out_dir, ops):
    """{oracle op name: None | reason} for every op that names an oracle."""
    sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(inputs_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    results = {}
    for name, meta in ops.items():
        q = meta.get("oracle")
        if not q:
            continue
        spark_df = _read(out_dir, name)
        if q not in sql:
            results[name] = f"no oracle SQL for {q}"
        elif spark_df is None:
            results[name] = "no check output"
        else:
            try:
                results[name] = compare(spark_df, con.execute(sql[q]).fetchdf())
            except Exception as e:  # an oracle that cannot run is a failure
                results[name] = f"oracle error: {type(e).__name__}: {e}"[:300]
    return results
