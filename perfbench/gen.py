"""Seeded input generator for the benchmark.

Writes the engine's ten input tables, one parquet file each, with the
column names, physical types and value distributions of the engine's
sf0.01 test corpus (TPC-H-like star schema plus the `events`,
`documents` and `embeddings` extension tables). The same seed gives the
same bytes; a different seed gives different rows with the same
properties the engine depends on:

- row counts and key cardinalities (`SIZES`), keys dense from 0;
- date ranges: orders 1995-01-01..2001-08-01, shipments
  1995-01-02..2001-11-04, events in January 2024;
- no nulls and no null literals (the corpus has none);
- 5% of documents are near-duplicates: another document's text plus
  the token " dup";
- one file per table, one row group, snappy, written by pyarrow — so
  the lineitem scan stays a single input split, as in the test corpus.

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64
EMBED_LABELS = 10


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _strings(prefix, keys, width=9):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys], pa.string())


def tables(seed):
    """The ten tables as {name: pyarrow.Table}, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    nk = np.arange(n["nation"])
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in nk], pa.string()),
        "n_regionkey": pa.array(nk % 5, pa.int32())})
    ck = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _strings("Customer#", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(ck))),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, len(ck)))})
    sk = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _strings("Supplier#", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(sk)))})
    pk = np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(rng.choice(names, len(pk))),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, len(pk))], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, len(pk))),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2))})
    ok = np.arange(n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)),
                              pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], len(ok))),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, len(ok))),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(ok)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, len(ok)))})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, e)) + start
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
        "value": pa.array(np.round(rng.exponential(40.0, e) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, e)], pa.string())})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd):
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100)))
             for _ in range(nd)]
    dups = rng.choice(nd, int(nd * NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + " dup"
    ids = np.arange(nd)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _embeddings(rng, nv):
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, nv)
    v = 0.3 * centers[labels] + rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write(out_dir, seed):
    """Generate every table into `out_dir`; returns {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = (table.num_rows, os.path.getsize(path))
    return sizes


if __name__ == "__main__":
    for name, (rows, size) in write(sys.argv[1], int(sys.argv[2])).items():
        print(f"{name:12s} {rows:8d} rows {size:10d} bytes")
