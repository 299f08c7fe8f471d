#!/usr/bin/env python3
"""Dev-side replica of the driver's correctness gate: compare each
Verify-dumped parquet against its oracle SQL run in DuckDB.
Columns sorted by name; values canonicalized and multiset-hashed.
(Driver-side tooling only; not part of the library.)"""
import duckdb, glob, json, math, os, sys

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, bool): return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)): return "[" + ",".join(canon(x) for x in v) + "]"
    import datetime, decimal
    if isinstance(v, decimal.Decimal): return canon(float(v))
    if isinstance(v, datetime.datetime): return v.isoformat()
    return str(v)

def table_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib
    return sorted(cols), len(rows), hashlib.md5("\n".join(lines).encode()).hexdigest()

# the denominator is the oracle key set: a query that threw in Verify has no
# output directory and counts as MISSING, never drops out of the total
results = {}
for name in sorted(oracle):
    d = os.path.join(out, name)
    if not glob.glob(f"{d}/*.parquet"):
        results[name] = {"status": "MISSING"}
        continue
    try:
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'")
        g_cols = [c[0] for c in got.description]
        g_rows = got.fetchall()
    except Exception as e:
        results[name] = {"status": "SPARK_READ_FAIL", "err": str(e)[:200]}
        continue
    try:
        exp = con.execute(oracle[name])
        e_cols = [c[0] for c in exp.description]
        e_rows = exp.fetchall()
    except Exception as e:
        results[name] = {"status": "ORACLE_FAIL", "err": str(e)[:300]}
        continue
    gc, gn, gh = table_digest(g_cols, g_rows)
    ec, en, eh = table_digest(e_cols, e_rows)
    if gc != ec: results[name] = {"status": "SCHEMA_MISMATCH", "got": gc, "exp": ec}
    elif gn != en: results[name] = {"status": "ROWCOUNT_MISMATCH", "got": gn, "exp": en}
    elif gh != eh: results[name] = {"status": "HASH_MISMATCH", "rows": gn}
    else: results[name] = {"status": "OK", "rows": gn}

n_ok = sum(1 for r in results.values() if r["status"] == "OK")
for k, v in sorted(results.items()):
    print(f"{v['status']:18s} {k} {json.dumps({x: y for x, y in v.items() if x != 'status'})[:160]}")
print(f"\n{n_ok}/{len(results)} passing")
sys.exit(0 if n_ok == len(results) else 1)
