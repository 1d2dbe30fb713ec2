#!/usr/bin/env python3
"""Driver-mimicking correctness check: for each SparkEntry query result
(parquet under OUTDIR), run the oracle SQL from oracle_sql.json in DuckDB
against the same sf tables, sort columns by name and rows by value, and
compare. Local dev harness only (the real gate is the round driver)."""
# Usage: check_oracle.py [SFDIR] [OUTDIR] [QUERIES]. QUERIES is Verify's
# optional comma-separated query list: only those queries are checked
# (each still flagged if its output is missing).
import duckdb, json, sys, glob, os

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
# oracle_sql.json always lists every oracled query; a subset run checks
# only the queries it was asked for
wanted = lambda name: only is None or name in only
fails = []
matched, rows_only = 0, 0
# a query that crashed in Verify dumps nothing — flag it, don't skip it
for name in sorted(oracle if only is None else only):
    if not os.path.isdir(f"{out_dir}/{name}"):
        print(f"{name:22s} MISSING OUTPUT (query crashed in Verify?)")
        fails.append(name)
for name in sorted(os.listdir(out_dir)):
    d = f"{out_dir}/{name}"
    if not os.path.isdir(d) or not wanted(name):
        continue
    files = glob.glob(f"{d}/*.parquet")
    got = con.execute(f"SELECT * FROM read_parquet({files})").df()
    if name not in oracle:
        print(f"{name:22s} rows-only: {len(got)} rows " +
              ("OK" if len(got) > 0 else "EMPTY!"))
        if len(got) == 0:
            fails.append(name)
        else:
            rows_only += 1
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as ex:
        print(f"{name:22s} ORACLE SQL ERROR: {ex}")
        fails.append(name)
        continue
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        print(f"{name:22s} SCHEMA MISMATCH got={list(g.columns)} exp={list(e.columns)}")
        fails.append(name)
        continue
    if len(g) != len(e):
        print(f"{name:22s} ROWCOUNT MISMATCH got={len(g)} exp={len(e)}")
        fails.append(name)
        continue
    # canonical sort + string-normalize (hash-compare surrogate)
    def canon(df):
        if len(df) == 0:
            return []
        s = df.astype(str).apply(lambda r: "|".join(r.values), axis=1)
        return sorted(s.tolist())
    cg, ce = canon(g), canon(e)
    if cg != ce:
        bad = [(a, b) for a, b in zip(cg, ce) if a != b][:3]
        print(f"{name:22s} VALUE MISMATCH e.g. {bad}")
        fails.append(name)
    else:
        print(f"{name:22s} OK ({len(g)} rows)")
        matched += 1
print("\nFAILED:" if fails else "\nALL OK", fails if fails else "")
# the tally, last, so a caller reads the gate numbers off one line
print(f"{matched} hash-match, {rows_only} rows-only, {len(fails)} failed")
sys.exit(1 if fails else 0)
