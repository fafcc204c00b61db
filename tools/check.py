#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes each oracle SQL in DuckDB
over the same parquet tables and compares (rows sorted, columns sorted by
name, values hashed). Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify]
"""
import json, math, subprocess, sys, os
import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd=REPO, capture_output=True, text=True, timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(f"{v:.17g}")
            elif hasattr(v, "tolist"):  # numpy arrays
                vals.append(json.dumps([f"{x:.17g}" if isinstance(x, float) else str(x) for x in v.tolist()]))
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return cols, sorted(rows)

ok = fail = 0
names = sorted(os.listdir(OUT))
for name in names:
    if name == "oracle_sql.json" or not os.path.isdir(f"{OUT}/{name}"):
        continue
    try:
        spark_df = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: cannot read spark output: {e}"); fail += 1; continue
    if name not in oracle:
        print(f"rows-only {name}: {len(spark_df)} rows " +
              ("OK" if len(spark_df) > 0 else "EMPTY!"))
        if len(spark_df) == 0: fail += 1
        else: ok += 1
        continue
    try:
        oracle_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {str(e)[:200]}"); fail += 1; continue
    sc, sr = canon(spark_df)
    oc, orows = canon(oracle_df)
    if sc != oc:
        print(f"FAIL {name}: columns differ spark={sc} oracle={oc}"); fail += 1; continue
    if len(sr) != len(orows):
        print(f"FAIL {name}: rowcount spark={len(sr)} oracle={len(orows)}"); fail += 1; continue
    bad = [i for i, (a, b) in enumerate(zip(sr, orows)) if a != b]
    if bad:
        i = bad[0]
        print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first @{i}:")
        print(f"  spark : {sr[i][:250]}")
        print(f"  oracle: {orows[i][:250]}")
        fail += 1
    else:
        print(f"OK   {name}: {len(sr)} rows")
        ok += 1
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
