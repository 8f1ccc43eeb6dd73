#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 scripts/parity.py <verify_out_dir> <sf_dir>
Loads each <name>/ parquet written by graft.Verify, runs the matching
oracle_sql.json entry in DuckDB over the raw tables, and diffs
(sorted rows, columns sorted by name, values normalized).
"""
import json, math, sys, glob, os
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]
# Queries that have no oracle SQL on purpose: they fold Spark-native hashes
# (xxhash64, crc32) that DuckDB lacks. QueryRegistrySpec pins the same set
# on the Scala side; any other query without oracle SQL fails the run.
ROWS_ONLY = {"q35_simhash", "q36_fingerprint"}

def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return round(v, 6)
    if isinstance(v, (list, tuple)): return tuple(norm(x) for x in v)
    return str(v)

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = 0
    rows_only = []
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet written"); n_fail += 1; continue
        got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_df()
        if name not in oracle:
            print(f"ROWS-ONLY {name}: {len(got)} rows"); rows_only.append(name); continue
        try:
            exp = con.execute(oracle[name]).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        gcols, ecols = sorted(got.columns), sorted(exp.columns)
        if gcols != ecols:
            print(f"FAIL {name}: schema {gcols} vs {ecols}"); n_fail += 1; continue
        g = [tuple(norm(v) for v in row) for row in got[gcols].itertuples(index=False)]
        e = [tuple(norm(v) for v in row) for row in exp[ecols].itertuples(index=False)]
        g.sort(); e.sort()
        if g == e:
            print(f"PASS {name}: {len(g)} rows"); n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: {len(g)} vs {len(e)} rows")
            diff = [(a, b) for a, b in zip(g, e) if a != b][:3]
            for a, b in diff:
                print(f"   spark={a}\n   duck ={b}")
            only_g = [r for r in g[:2000] if r not in set(e)][:2]
            only_e = [r for r in e[:2000] if r not in set(g)][:2]
            if only_g: print(f"   only-spark: {only_g}")
            if only_e: print(f"   only-duck : {only_e}")
    print(f"\n== {n_pass} pass, {n_fail} fail, {len(rows_only)} rows-only ==")
    if set(rows_only) != ROWS_ONLY:
        print(f"FAIL rows-only set {sorted(rows_only)} != {sorted(ROWS_ONLY)}")
        return 1
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
