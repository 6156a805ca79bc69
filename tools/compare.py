import duckdb, json, glob, sys, math
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f"{out}/oracle_sql.json"))
if len(sys.argv) > 3:  # optional comma-separated names filter
    keep = set(sys.argv[3].split(","))
    oracle = {k: v for k, v in oracle.items() if k in keep}

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
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            fails.append((name, f"cols {list(a.columns)} vs {list(b.columns)}"))
        elif len(a) != len(b):
            fails.append((name, f"rows {len(a)} vs {len(b)}"))
        elif not a.equals(b):
            diff = (a != b) & ~(a.isna() & b.isna())
            ndiff = diff.any(axis=1).sum()
            fails.append((name, f"{ndiff} differing rows of {len(a)}"))
        else:
            print(f"OK    {name} ({len(a)} rows)")
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
