"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query catalog reads (region ... embeddings) as
parquet, with the schemas, physical types and value domains of the
engine's reference test data (FIXTURES.md section A), at the sf0.01 row
counts. The same seed always gives the same bytes of data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "merge window order column join vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
US_PER_DAY = 86_400_000_000


def _cents(rng, lo, hi, n):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, first, last, n):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)],
                    pa.string())


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"])})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": _pick(rng, names, n["part"]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["O", "F"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = np.maximum(rng.exponential(259e6, e).astype(np.int64), 1)
    out["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["customer"] // 10, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, d)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = n["embeddings"]
    x = rng.standard_normal((v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})
    return out


def write(outdir, seed):
    os.makedirs(outdir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
