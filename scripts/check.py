#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: compare Verify output
parquet against DuckDB oracle results (column-name-sorted, row-sorted,
value-normalized). Trailing query names restrict the check to those
queries (after a `graft.Verify <sf> <out> <name>...` subset run).
Usage: check.py <verify_out_dir> <sf_dir> [query ...]"""
import sys, os, json, glob
import duckdb
import pyarrow.parquet as pq
import pandas as pd

out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f'{out}/oracle_sql.json'))
oracle = {k: v for k, v in oracle.items() if not only or k in only}

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    # normalize ints/floats
    import numpy as np
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype('int64')
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype('float64').round(9)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = 0
for name in sorted(oracle):
    files = glob.glob(f'{out}/{name}/*.parquet')
    if not files:
        print(f'FAIL {name}: no spark output'); fails += 1; continue
    try:
        spark_df = pd.concat([pq.read_table(f).to_pandas() for f in files])
        duck_df = con.execute(oracle[name]).df()
    except Exception as e:
        print(f'FAIL {name}: {e}'); fails += 1; continue
    s, dd = norm(spark_df), norm(duck_df)
    if list(s.columns) != list(dd.columns):
        print(f'FAIL {name}: columns {list(s.columns)} vs {list(dd.columns)}'); fails += 1; continue
    if len(s) != len(dd):
        print(f'FAIL {name}: rows {len(s)} vs {len(dd)}'); fails += 1; continue
    if not s.equals(dd):
        neq = (s != dd) & ~(s.isna() & dd.isna())
        bad = neq.any(axis=1)
        print(f'FAIL {name}: {bad.sum()} differing rows; first:')
        print(pd.concat([s[bad].head(3).add_suffix('_spark'),
                         dd[bad].head(3).add_suffix('_duck')], axis=1).to_string())
        fails += 1; continue
    print(f'OK   {name} ({len(s)} rows)')

# rows-only checks
for d in sorted(glob.glob(f'{out}/q*')):
    name = os.path.basename(d)
    if name not in oracle and (not only or name in only):
        files = glob.glob(f'{d}/*.parquet')
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files) if files else -1
        print(f'ROWS {name}: {n}')

print(f'\n{fails} failures / {len(oracle)} oracle queries')
sys.exit(1 if fails else 0)
