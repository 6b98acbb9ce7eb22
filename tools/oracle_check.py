#!/usr/bin/env python3
"""Dev-only replica of the driver's DuckDB oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
  where <verifyOutDir> was produced by `runMain graft.Verify <sfDir> <dir>`.

For every query in oracle_sql.json: register the sf tables as DuckDB views,
run the oracle SQL, load the Spark parquet result, and compare row counts,
column names, and sorted cell values. Cells compare by their normalised
value (`norm`): numbers (int, float, Decimal) by exact value, so 1.10 equals
1.1; NaN equals NaN; None equals only None; anything else by its string.
Rows sort on the same normalised values, so equal tables line up row for
row. Prints one PASS/FAIL line per query.
"""
import json, math, sys
from decimal import Decimal

_NONE, _NAN, _NUM, _BOOL, _STR = range(5)

def norm(v):
    """Comparison and sort key of one cell; tagged so keys of different
    kinds order by tag and never compare their values."""
    if v is None:
        return (_NONE, 0)
    if isinstance(v, bool):
        return (_BOOL, v)
    if isinstance(v, float):
        # repr is the shortest string that round-trips, so Decimal(repr(v))
        # is the value the float prints as
        return (_NAN, 0) if math.isnan(v) else (_NUM, Decimal(repr(v)))
    if isinstance(v, (int, Decimal)):
        return (_NUM, Decimal(v))
    return (_STR, str(v))

def eq_cell(a, b):
    return norm(a) == norm(b)

def canon(rows):
    return sorted(rows, key=lambda r: tuple(norm(v) for v in r))

def first_mismatch(got, want):
    """Index of the first differing row of the two canonicalised tables,
    or None when they are equal (same row count assumed)."""
    for i, (gr, wr) in enumerate(zip(canon(got), canon(want))):
        if not all(eq_cell(a, b) for a, b in zip(gr, wr)):
            return i, gr, wr
    return None

def main():
    import duckdb
    sf, out = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "documents", "events",
              "embeddings", "part", "supplier", "nation", "region"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            want = con.execute(sql).fetchall()
            wcols = [d[0] for d in con.description]
            got_rel = duckdb.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
            got = got_rel.fetchall()
            gcols = got_rel.columns
            ok = True
            why = ""
            if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
                ok, why = False, f"cols {gcols} vs {wcols}"
            elif len(got) != len(want):
                ok, why = False, f"rows {len(got)} vs {len(want)}"
            else:
                diff = first_mismatch(got, want)
                if diff is not None:
                    ok, why = False, "row {}: {} vs {}".format(*diff)
            if ok:
                n_pass += 1
                print(f"PASS {name} ({len(got)} rows)")
            else:
                n_fail += 1
                print(f"FAIL {name}: {why[:300]}")
        except Exception as e:
            n_fail += 1
            print(f"FAIL {name}: EXC {str(e)[:300]}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
