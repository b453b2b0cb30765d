#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate: run
graft.Verify output parquet against DuckDB oracle SQL on the same
tables. Usage: check_oracle.py <sfDir> <verifyOutDir>
(dev tool only — the engine itself is pure Scala/Spark).

Also writes <verifyOutDir>/_hashes.json: query name -> SHA-256 of its
Spark result, stringified with columns sorted and rows sorted, so two
Verify runs (two commits, two widths) compare with a plain diff."""
import hashlib, json, sys, glob, os
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
hashes = {}
for name, sql in sorted(oracle.items()):
    res_dir = f"{out_dir}/{name}"
    if not os.path.isdir(res_dir):
        print(f"MISSING  {name} (no spark result)")
        fail += 1
        continue
    got = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
    rows = sorted(got[sorted(got.columns)].astype(str).values.tolist())
    hashes[name] = hashlib.sha256(
        json.dumps([sorted(got.columns)] + rows).encode()).hexdigest()
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}")
        fail += 1
        continue
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        print(f"SCHEMA   {name}: spark={list(got.columns)} oracle={list(exp.columns)}")
        fail += 1
        continue
    if len(got) != len(exp):
        print(f"ROWS     {name}: spark={len(got)} oracle={len(exp)}")
        fail += 1
        continue
    g = got.astype(str).values.tolist()
    e = exp.astype(str).values.tolist()
    if g != e:
        bad = [i for i, (a, b) in enumerate(zip(g, e)) if a != b][:3]
        print(f"VALUES   {name}: first diffs at rows {bad}")
        for i in bad:
            print(f"  spark : {g[i]}")
            print(f"  oracle: {e[i]}")
        fail += 1
    else:
        print(f"OK       {name} ({len(got)} rows)")
with open(f"{out_dir}/_hashes.json", "w") as f:
    json.dump(hashes, f, indent=1, sort_keys=True)
print("FAILED" if fail else "ALL OK", file=sys.stderr)
sys.exit(1 if fail else 0)
