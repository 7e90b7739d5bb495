# Compare graft.Verify output against the DuckDB oracle (driver-style).
# Usage: python3 tools/check_oracle.py [sfDir] [outDir]
# outDir is the directory given to tools/run_verify.sh <sfDir> <outDir>
# (default /tmp/verify_out).
import duckdb, json, glob, pandas as pd, numpy as np, sys
con = duckdb.connect(); sf = sys.argv[1] if len(sys.argv)>1 else '/root/testdata/sf0.01'
for t in ['region','nation','customer','supplier','part','orders',
          'lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
out = sys.argv[2] if len(sys.argv)>2 else '/tmp/verify_out'
oracle = json.load(open(f'{out}/oracle_sql.json'))
out_dirs = [d.split('/')[-1] for d in glob.glob(f'{out}/*') if not d.endswith('.json')]
ok, bad = [], []
def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)
for name in sorted(out_dirs):
    files = glob.glob(f'{out}/{name}/*.parquet')
    if not files: bad.append((name, 'no output files')); continue
    s = pd.concat([pd.read_parquet(p) for p in files])
    # The driver's comparator sorts/hashes scalar cells only — an array
    # column in an oracle-gated result is a hard failure there even when
    # values match. Mirror that here instead of tuple-izing it away.
    arr_cols = [c for c in s.columns
                if len(s) and s[c].map(
                    lambda v: isinstance(v, (list, np.ndarray))).any()]
    if name in oracle and arr_cols:
        bad.append((name, f'array-typed columns {arr_cols} (driver cannot hash)')); continue
    if name not in oracle:
        (ok if len(s)>0 else bad).append((name, f'rows-only: {len(s)} rows'))
        continue
    try:
        d = con.execute(oracle[name]).df()
    except Exception as e:
        bad.append((name, f'oracle error: {e}')); continue
    try:
        sc, dc = canon(s), canon(d)
        if list(sc.columns) != list(dc.columns):
            bad.append((name, f'schema mismatch: spark={list(sc.columns)} duck={list(dc.columns)}')); continue
        if len(sc) != len(dc):
            bad.append((name, f'row count: spark={len(sc)} duck={len(dc)}')); continue
        # The driver hashes RENDERED cells, so an int64 column vs a float64
        # column (e.g. DuckDB HUGEINT sums coming back as float64) is a hard
        # hash failure even when values are numerically equal. Fail any
        # integer-vs-float dtype disagreement before the float-noise fallback.
        dtype_bad = [c for c in sc.columns
                     if (sc[c].dtype.kind in 'iu') != (dc[c].dtype.kind in 'iu')
                     and {sc[c].dtype.kind, dc[c].dtype.kind} <= set('iuf')]
        if dtype_bad:
            bad.append((name, 'dtype mismatch (int-vs-float, driver hash-fails): '
                        + ', '.join(f'{c}: spark={sc[c].dtype} duck={dc[c].dtype}'
                                    for c in dtype_bad)))
            continue
        eq = sc.equals(dc)
        if not eq:
            # tolerate float noise ONLY when both sides are already float
            diffs = 0
            for c in sc.columns:
                if not sc[c].equals(dc[c]):
                    if sc[c].dtype.kind == 'f' and dc[c].dtype.kind == 'f':
                        try:
                            if np.allclose(sc[c], dc[c], rtol=1e-6, equal_nan=True): continue
                        except Exception: pass
                    diffs += 1
            if diffs == 0: eq = True
        (ok if eq else bad).append((name, f'{len(sc)} rows ' + ('MATCH' if eq else 'VALUE MISMATCH')))
    except Exception as e:
        bad.append((name, f'compare error: {e}'))
print(f"OK: {len(ok)}")
for n, m in ok: print(f"  PASS {n}: {m}")
print(f"BAD: {len(bad)}")
for n, m in bad: print(f"  FAIL {n}: {m}")
