#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>
Registers each parquet table as a DuckDB view, runs every oracle_sql.json
entry, and compares with the Spark parquet dump: row count, column names
(sorted), and exact values (NaN==NaN, timestamps at µs). Each key's
OK/FAIL line carries its oracle's DuckDB seconds, and the five slowest
oracles are listed before the summary.
"""
import sys, json, glob, os, time
import duckdb, pandas as pd, numpy as np

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = []
secs = {}  # name -> seconds DuckDB spent running the oracle
for name, sql in sorted(oracle.items()):
    spark_dir = f"{out}/{name}"
    if not os.path.isdir(spark_dir):
        fails.append((name, "no spark output")); continue
    t0 = time.perf_counter()
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle error: {e}")); continue
    finally:
        secs[name] = time.perf_counter() - t0
    sdf = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{spark_dir}/*.parquet"))])
    if len(odf) != len(sdf):
        fails.append((name, f"rows oracle={len(odf)} spark={len(sdf)}")); continue
    ocols, scols = sorted(odf.columns), sorted(sdf.columns)
    if ocols != scols:
        fails.append((name, f"cols oracle={ocols} spark={scols}")); continue
    ok = True
    # dtype-KIND parity: the driver hashes string repr of values, so an
    # int64 Spark column against a float64/object oracle column ("5" vs
    # "5.0") hash-mismatches even when every value compares equal — the
    # round-2 failure mode (uncast DuckDB HUGEINT). The value compare
    # below coerces and cannot see it; catch it here.
    def kind(dt):
        if np.issubdtype(dt, np.datetime64): return "ts"
        if dt == object: return "obj"
        if np.issubdtype(dt, np.bool_): return "bool"
        if np.issubdtype(dt, np.integer): return "int"
        if np.issubdtype(dt, np.floating): return "float"
        return str(dt)
    for c in ocols:
        ka, kb = kind(odf[c].dtype), kind(sdf[c].dtype)
        if ka != kb:
            fails.append((name, f"col {c} dtype kind oracle={ka}({odf[c].dtype}) "
                          f"spark={kb}({sdf[c].dtype})")); ok = False; break
    if not ok:
        continue
    for c in ocols:
        a, b = odf[c].reset_index(drop=True), sdf[c].reset_index(drop=True)
        if np.issubdtype(a.dtype, np.datetime64) or np.issubdtype(b.dtype, np.datetime64):
            a = pd.to_datetime(a).astype("datetime64[us]")
            b = pd.to_datetime(b).astype("datetime64[us]")
            eq = a.equals(b)
        elif a.dtype == object or b.dtype == object:
            eq = a.astype(str).equals(b.astype(str))
        else:
            av, bv = a.to_numpy(), b.to_numpy()
            try:
                eq = np.array_equal(av.astype("float64"), bv.astype("float64"), equal_nan=True)
            except (TypeError, ValueError):
                eq = np.array_equal(av, bv)
        if not eq:
            mism = None
            try:
                av, bv = a.to_numpy(), b.to_numpy()
                bad = np.where(~((av == bv) | (pd.isna(av) & pd.isna(bv))))[0]
                if len(bad): mism = f"row {bad[0]}: oracle={av[bad[0]]!r} spark={bv[bad[0]]!r}"
            except Exception: pass
            fails.append((name, f"col {c} values differ ({mism})")); ok = False; break
    if ok:
        print(f"  OK  {name} ({len(odf)} rows, {secs[name]:.2f} s)")
print()
print("slowest oracles:")
for n in sorted(secs, key=secs.get, reverse=True)[:5]:
    print(f"  {secs[n]:8.2f} s  {n}")
print()
if fails:
    print(f"FAILED {len(fails)}/{len(oracle)}:")
    for n, r in fails:
        print(f"  FAIL {n}: {r}" + (f" ({secs[n]:.2f} s)" if n in secs else ""))
    sys.exit(1)
print(f"ALL {len(oracle)} MATCH")
