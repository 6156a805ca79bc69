"""Check a graft.Verify dump directory.

    python3 tools/compare.py SF_DIR OUT [NAMES]
        Run every oracle in OUT/oracle_sql.json on DuckDB over SF_DIR's
        tables and compare it with the query's dump; queries without an
        oracle must return rows.
    python3 tools/compare.py --against OTHER_OUT OUT [NAMES]
        Diff OUT's dumps with another Verify run's, row for row, under
        the same canonical form (e.g. a change against its parent).

NAMES is an optional comma-separated filter. Exits non-zero on any
failure or difference.
"""
import duckdb, json, glob, os, sys
import pandas as pd

args = sys.argv[1:]
against = None
if args[:1] == ["--against"] and len(args) >= 3:
    against, out, rest = args[1], args[2], args[3:]
elif len(args) >= 2 and "--against" not in args:
    sf, out, rest = args[0], args[1], args[2:]
else:
    sys.exit(__doc__)
keep = set(rest[0].split(",")) if rest else None

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == 'float64':
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith('datetime'):
            df[c] = df[c].astype('datetime64[us]')
        if df[c].dtype == 'object':
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def diff(a, b):
    """None when the canonical frames are equal, else what differs."""
    if list(a.columns) != list(b.columns):
        return f"cols {list(a.columns)} vs {list(b.columns)}"
    types = [f"{c} {a[c].dtype} vs {b[c].dtype}" for c in a.columns
             if a[c].dtype != b[c].dtype]
    if types:
        return "dtypes " + ", ".join(types)
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        d = (a != b) & ~(a.isna() & b.isna())
        return f"{d.any(axis=1).sum()} differing rows of {len(a)}"
    return None

def names(d):
    return {os.path.basename(p) for p in glob.glob(f"{d}/q*")}

if against is not None:
    ours, theirs = names(out), names(against)
    if keep is not None:
        ours, theirs = ours & keep, theirs & keep
    bad = [(n, f"only in {out if n in ours else against}") for n in sorted(ours ^ theirs)]
    for n in sorted(ours & theirs):
        a = canon(pd.read_parquet(f"{out}/{n}"))
        m = diff(a, canon(pd.read_parquet(f"{against}/{n}")))
        if m is None:
            print(f"SAME  {n} ({len(a)} rows)")
        else:
            bad.append((n, m))
    for n, m in bad:
        print(f"DIFF  {n}: {m}")
    print(f"\n{len(ours & theirs)} compared, {len(bad)} differences")
    sys.exit(1 if bad else 0)

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f"{out}/oracle_sql.json"))
if keep is not None:
    oracle = {k: v for k, v in oracle.items() if k in keep}

fails = []
missing = []
for name in sorted(oracle):
    dumps = glob.glob(f"{out}/{name}")
    if not dumps:
        missing.append(name)
        print(f"MISSING {name}: no dump under {out}")
        continue
    try:
        spark_df = pd.read_parquet(dumps[0])
        duck_df = con.execute(oracle[name]).fetchdf()
        a = canon(spark_df)
        m = diff(a, canon(duck_df))
        if m is None:
            print(f"OK    {name} ({len(a)} rows)")
        else:
            fails.append((name, m))
    except Exception as e:
        fails.append((name, f"EXC {type(e).__name__}: {str(e)[:200]}"))
for n, m in fails:
    print(f"FAIL  {n}: {m}")
# also check rows>0 for no-oracle queries
empties = 0
for p in sorted(glob.glob(f"{out}/q*")):
    name = p.split('/')[-1]
    if name not in oracle:
        n = len(pd.read_parquet(p))
        if n == 0:
            empties += 1
        print(f"{'ROWS' if n>0 else 'EMPTY!'}  {name}: {n} rows")
print(f"\n{len(fails)} failures, {len(missing)} missing dumps")
sys.exit(1 if (fails or missing or empties) else 0)
