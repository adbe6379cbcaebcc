# Oracle check: compares each query's output in OUTDIR (written by
# `runMain graft.Verify SFDIR OUTDIR [names]`) with its DuckDB oracle SQL.
# Usage: python3 tools/check_oracle.py SFDIR OUTDIR [name ...]
# Checks each named query, or every oracle_sql.json key when no names are
# given. Verify writes no directory for a query that throws, so a missing
# output counts as a failure. Each PASS/FAIL line ends with the seconds the
# check took (DuckDB replay plus compare). Exits 1 if any query fails.
import sys, os, json, glob, time
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
names = sys.argv[3:]
with open(os.path.join(outdir, "oracle_sql.json")) as f:
    oracles = json.load(f)

con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

fail = npass = 0
for name in (names or sorted(oracles)):
    t0 = time.monotonic()
    spark_dir = os.path.join(outdir, name)
    if not os.path.isdir(spark_dir):
        fail += 1
        print(f"{name}: FAIL no output {time.monotonic() - t0:.1f}s")
        continue
    sql = oracles.get(name)
    if sql is None:
        print(f"{name}: rows-only (no oracle)")
        continue
    sp = con.execute(
        f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetchdf()
    du = con.execute(sql).fetchdf()
    ok_rows = len(sp) == len(du)
    ok_schema = sorted(sp.columns) == sorted(du.columns)
    ok_hash = False
    if ok_rows and ok_schema:
        cols = sorted(sp.columns)
        a = sp[cols].astype(str).apply(lambda r: "|".join(r), axis=1)
        b = du[cols].astype(str).apply(lambda r: "|".join(r), axis=1)
        ok_hash = sorted(a) == sorted(b)
    secs = f"{time.monotonic() - t0:.1f}s"
    status = "PASS" if (ok_rows and ok_schema and ok_hash) else "FAIL"
    if status == "FAIL":
        fail += 1
        print(f"{name}: {status} rows={len(sp)}/{len(du)} "
              f"schema={ok_schema} hash={ok_hash} {secs}")
        if ok_rows and ok_schema:
            diff = set(a) ^ set(b)
            for d in list(diff)[:4]:
                print("   ", d)
    else:
        npass += 1
        print(f"{name}: PASS ({len(sp)} rows) {secs}")
print(f"{npass} pass, {fail} fail")
sys.exit(1 if fail else 0)
