"""Output check: the engine's results against their DuckDB twins.

Each checked result was written by the benchmark as parquet under
`<check_dir>/<key>/`, next to `oracle_sql.json`, the engine's DuckDB SQL
for each key. The compare is the engine's own oracle canonicalisation:
columns sorted by name, values rendered exactly (floats by repr, so
-0.0 != 0.0), rows sorted, then row count, column names and every cell
must agree. The one exception is a rounding tie: both sides round a sum
of doubles, added in different orders, so a sum that lies within
rounding error of a half unit can round to either neighbour. Two floats
one unit apart in their last decimal place, where that unit is below a
ten-millionth of the value, are therefore reported as a tie, not a mismatch.
The JSONL collections and the XLSX report of the ClearVue
batch are read back and checked for row count and columns.
"""
import glob
import json
import math
import os
import zipfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def _tie(a, b):
    """Two rendered floats one unit apart in their last decimal place,
    with the unit below a ten-millionth of the value."""
    if not all("." in x and x.lstrip("-").replace(".", "", 1).isdigit()
               for x in (a, b)):
        return False
    unit = 10.0 ** -max(len(x.split(".")[1]) for x in (a, b))
    x, y = float(a), float(b)
    return abs(x - y) <= 1.5 * unit and unit <= 1e-7 * abs(x)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def _connect(input_dir, work_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{work_dir}'")
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet')")
    return con


def compare(check_dir, input_dir, keys):
    """Compare each key's engine result with its oracle; returns
    ({key: None if equal else a one-line reason}, {key: rows that agree
    only up to rounding ties})."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = _connect(input_dir, check_dir)
    out, ties = {}, {}
    for key in keys:
        files = glob.glob(os.path.join(check_dir, key, "*.parquet"))
        if key not in oracle:
            out[key] = "no oracle SQL"
            continue
        if not files:
            out[key] = "no engine result"
            continue
        try:
            cur = con.execute(oracle[key])
            oc, orows = _canon([d[0] for d in cur.description], cur.fetchall())
            cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
            sc, srows = _canon([d[0] for d in cur.description], cur.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[key] = f"error: {e}"
            continue
        if sc != oc:
            out[key] = f"columns differ: engine={sc} oracle={oc}"
        elif len(srows) != len(orows):
            out[key] = f"rows differ: engine={len(srows)} oracle={len(orows)}"
        else:
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b]
            bad = [(a, b) for a, b in diffs
                   if not all(x == y or _tie(x, y) for x, y in zip(a, b))]
            out[key] = (f"values differ, first: engine={bad[0][0]} "
                        f"oracle={bad[0][1]}" if bad else None)
            if diffs and not bad:
                ties[key] = [f"engine={a} oracle={b}" for a, b in diffs]
    con.close()
    return out, ties


def check_collections(unit_dir, collections, check_dir, input_dir):
    """Each JSONL collection must hold the oracle's row count and exactly
    its columns; returns {name: None or reason}."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = _connect(input_dir, check_dir)
    out = {}
    for name, key in sorted(collections.items()):
        rel = con.sql(oracle[key])
        want_cols = sorted(rel.columns)
        want_rows = con.execute(f"SELECT count(*) FROM ({oracle[key]})")\
            .fetchone()[0]
        parts = glob.glob(os.path.join(unit_dir, "collections", name,
                                       "part-*.json"))
        rows, bad = 0, None
        for p in parts:
            with open(p) as fh:
                for n, line in enumerate(fh):
                    if n == 0:
                        cols = sorted(json.loads(line))
                        if cols != want_cols:
                            bad = f"columns {cols} != {want_cols}"
                    rows += 1
        if not parts:
            bad = "no part files"
        elif bad is None and rows != want_rows:
            bad = f"rows {rows} != {want_rows}"
        out[name] = bad
    con.close()
    return out


def check_xlsx(path, sheets):
    """The report must be a workbook holding the data sheets plus the two
    chart sheets with their embedded PNGs."""
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            wb = z.read("xl/workbook.xml").decode()
    except (OSError, KeyError, zipfile.BadZipFile) as e:
        return f"unreadable workbook: {e}"
    found = wb.count("<sheet ")
    if found != sheets + 2:
        return f"{found} sheets, expected {sheets + 2}"
    if not {"xl/media/image1.png", "xl/media/image2.png"} <= names:
        return "chart images missing"
    return None
