#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

For each query dir under outDir: load the Spark parquet result, run the
oracle SQL from oracle_sql.json in DuckDB (tables = views over the sf
parquet), sort columns by name and rows by all columns, and compare
row count, column names, and values. Each OK/FAIL line carries the
key's wall seconds, so the slow oracles are visible.

The compare is deliberately STRICTER than it looks, because the r10
round taught us the driver's hash is sensitive to two things a naive
float compare forgives:

  1. Signed zero. Floats compare by full repr(), so `-0.0 != 0.0`.
     DuckDB's float round keeps the sign bit on a tiny negative;
     Spark's BigDecimal HALF_UP round has no signed zero. An oracle
     whose rounded column can hit (-5e-10, 0) must canonicalize with
     `+ 0.0` (see t46 in ExtOracleSql.scala).
  2. Output column TYPES. DuckDB widens SUM(BIGINT) to HUGEINT and
     the driver's fetch path renders HUGEINT as a float ("75000.0"
     vs Spark's "75000") — values equal, hash not. HUGEINT or
     DECIMAL oracle output columns are therefore a FAIL here, not a
     warning: CAST them (see t47/x20 in ExtOracleSql.scala).
"""
import sys, json, math, glob, time
import duckdb

outdir, sfdir = sys.argv[1], sys.argv[2]
oracle = json.load(open(f"{outdir}/oracle_sql.json"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision; repr(-0.0) = '-0.0' on purpose
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cols2 = [cols[i] for i in order]
    rows2 = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return cols2, rows2

def secs(t0):
    return f"[{time.monotonic() - t0:.2f} s]"

fails = 0
for name in sorted(oracle):
    t0 = time.monotonic()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    try:
        cur = con.execute(oracle[name])
        ocols = [d[0] for d in cur.description]
        otypes = dict(zip(ocols, [d[1] for d in cur.description]))
        orows = cur.fetchall()
    except Exception as e:
        print(f"FAIL {name} {secs(t0)}: oracle error: {e}")
        fails += 1
        continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name} {secs(t0)}: no spark output")
        fails += 1
        continue
    cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
    scols = [d[0] for d in cur.description]
    stypes = dict(zip(scols, [d[1] for d in cur.description]))
    srows = cur.fetchall()
    typediff = {c: (stypes[c], otypes[c]) for c in set(scols) & set(ocols)
                if stypes[c] != otypes[c]}
    if typediff:
        print(f"WARN {name}: type drift (spark vs oracle): {typediff}")
    # the driver's fetch renders HUGEINT/DECIMAL columns as floats, so
    # an oracle emitting one hash-mismatches even when values agree
    rel = con.sql(oracle[name])
    badtypes = {c: str(t) for c, t in zip(rel.columns, rel.types)
                if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")}
    if badtypes:
        print(f"FAIL {name} {secs(t0)}: oracle output type needs CAST: {badtypes}")
        fails += 1
        con.close()
        continue
    oc, orw = canon(ocols, orows)
    sc, srw = canon(scols, srows)
    if sc != oc:
        print(f"FAIL {name} {secs(t0)}: schema spark={sc} oracle={oc}")
        fails += 1
    elif len(srw) != len(orw):
        print(f"FAIL {name} {secs(t0)}: rows spark={len(srw)} oracle={len(orw)}")
        fails += 1
    elif srw != orw:
        bad = [(a, b) for a, b in zip(srw, orw) if a != b][:3]
        print(f"FAIL {name} {secs(t0)}: values differ; first diffs (spark vs oracle): {bad}")
        fails += 1
    else:
        print(f"OK   {name} {secs(t0)} ({len(srw)} rows)")
    con.close()
sys.exit(1 if fails else 0)
