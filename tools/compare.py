#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB against the testdata parquet, load the Verify parquet dump, sort
columns by name + rows by value, and compare cell-exactly.

Usage: python3 tools/compare.py [--timeout S] <sfDir> <verifyOutDir> [query ...]

An oracle query still running after S seconds (default 600) is
interrupted and reported as `TIMEOUT <name>`: a failure, never a pass,
so the run exits 1.
"""
import argparse
import json
import math
import sys

from bench_duckdb import connect, deadline

TIMEOUT_S = 600.0

def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))

def kind(v):
    # type KIND must match: the driver's pandas hash distinguishes
    # decimal/float/int columns even when values print identically, so a
    # loose str() fallback here would hide exactly the drift the driver
    # catches (round-1 lesson: 3 hash fails that compare.py called PASS)
    import decimal
    if isinstance(v, bool): return "bool"
    if isinstance(v, int): return "int"
    if isinstance(v, float): return "float"
    if isinstance(v, decimal.Decimal): return "decimal"
    return type(v).__name__

def cell_eq(a, b):
    if a is None and b is None: return True
    if a is None or b is None: return False
    if kind(a) != kind(b): return False
    if isinstance(a, float):
        if math.isnan(a) and math.isnan(b): return True
        return a == b
    return a == b

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf")
    ap.add_argument("vout")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--timeout", type=float, default=TIMEOUT_S,
                    help=f"seconds per oracle query (default {TIMEOUT_S:g})")
    args = ap.parse_args()
    vout, only = args.vout, set(args.queries)
    con = connect(args.sf)
    oracles = json.load(open(f"{vout}/oracle_sql.json"))
    n_pass = n_fail = n_timeout = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only: continue
        try:
            with deadline(con, args.timeout) as dl:
                ores = con.execute(sql)
                ocols = [d[0] for d in ores.description]
                orows = ores.fetchall()
            sres = con.execute(f"SELECT * FROM '{vout}/{name}/*.parquet'")
            scols = [d[0] for d in sres.description]
            srows = sres.fetchall()
        except Exception as e:
            if dl["fired"]:
                print(f"TIMEOUT {name} (oracle past {args.timeout:g} s)")
                n_timeout += 1
            else:
                print(f"FAIL {name}: ERROR {str(e)[:200]}")
            n_fail += 1
            continue
        oc, orr = canon(orows, ocols)
        sc, srr = canon(srows, scols)
        if oc != sc:
            print(f"FAIL {name}: columns oracle={oc} spark={sc}")
            n_fail += 1
            continue
        if len(orr) != len(srr):
            print(f"FAIL {name}: rows oracle={len(orr)} spark={len(srr)}")
            print("  oracle-only sample:", [r for r in orr if r not in set(srr)][:2])
            print("  spark-only sample:", [r for r in srr if r not in set(orr)][:2])
            n_fail += 1
            continue
        bad = None
        for i, (o, s) in enumerate(zip(orr, srr)):
            if not all(cell_eq(a, b) for a, b in zip(o, s)):
                bad = (i, o, s)
                break
        if bad:
            print(f"FAIL {name}: first diff at sorted row {bad[0]}")
            print(f"  cols:   {oc}")
            print(f"  oracle: {bad[1]}")
            print(f"  spark:  {bad[2]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(orr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ({n_timeout} timeout), {len(oracles)} oracles")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main())
