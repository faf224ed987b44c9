#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle check: for each query dumped
by graft.Verify, run its oracle SQL in DuckDB over the same sf dir and
compare values column-by-column (columns sorted by name, rows sorted).
A query named in oracle_sql.json without a dumped directory fails."""
import sys, json, glob, math
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for tbl in ["region","nation","customer","supplier","part","orders","lineitem",
            "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sfdir}/{tbl}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
# a query with oracle SQL but no dump crashed or was never run: fail it
dumped = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{outdir}/*/")}
for q in sorted(set(oracle) - dumped):
    fails.append(q); print(f"{q:28s} MISSING OUTPUT: oracle SQL has no dumped directory")
for name in sorted(glob.glob(f"{outdir}/*/")):
    q = name.rstrip("/").split("/")[-1]
    spark_df = con.sql(f"SELECT * FROM '{outdir}/{q}/*.parquet'").fetchdf()
    nrows = len(spark_df)
    if q not in oracle:
        status = f"rows-only ({nrows} rows)" + (" EMPTY!" if nrows == 0 else "")
        if nrows == 0: fails.append(q)
        print(f"{q:28s} {status}")
        continue
    try:
        duck_df = con.sql(oracle[q]).fetchdf()
    except Exception as e:
        fails.append(q); print(f"{q:28s} ORACLE SQL ERROR: {e}"); continue
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        fails.append(q); print(f"{q:28s} COLS MISMATCH spark={sc} duck={dc}"); continue
    # Dtype-kind check: the driver hashes the *string rendering* of each value,
    # so int64 99111 vs float64 99111.0 hash-differ even though == in Python
    # (e.g. DuckDB sum(BIGINT) -> HUGEINT -> pandas float64). Catch that class.
    dkind = [c for c in sc
             if spark_df[c].dtype.kind in "iuf" and duck_df[c].dtype.kind in "iuf"
             and (spark_df[c].dtype.kind == "f") != (duck_df[c].dtype.kind == "f")]
    if dkind:
        fails.append(q)
        print(f"{q:28s} DTYPE MISMATCH " + ", ".join(
            f"{c}: spark={spark_df[c].dtype} duck={duck_df[c].dtype}" for c in dkind))
        continue
    a = spark_df[sc].sort_values(sc).reset_index(drop=True)
    b = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(a) != len(b):
        fails.append(q); print(f"{q:28s} ROWS MISMATCH spark={len(a)} duck={len(b)}"); continue
    ok = True
    for c in sc:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            xnan = isinstance(x, float) and math.isnan(x)
            ynan = isinstance(y, float) and math.isnan(y)
            if xnan and ynan: continue
            if x is None and y is None: continue
            if x != y:
                ok = False
                print(f"{q:28s} VALUE MISMATCH col={c} row={i}: spark={x!r} duck={y!r}")
                break
        if not ok: break
    if ok: print(f"{q:28s} OK ({nrows} rows)")
    else: fails.append(q)

print(f"\n{'='*50}\n{'ALL PASS' if not fails else 'FAILURES: ' + ', '.join(fails)}")
sys.exit(1 if fails else 0)
