"""Seeded input tables for the query_suite workload.

Writes the ten tables `SparkEntry.queries` and its DuckDB oracles read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as one parquet file each. Schemas and value ranges
follow the repository's sf0.001 test data; every value is drawn from a numpy
generator seeded with the run's seed, so a seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at this scale (sf0.001 of the TPC-H-like schema)
CUSTOMERS = 150
ORDERS = 1500
LINES = 6000
PARTS = 200
SUPPLIERS = 10
EVENTS = 1000
USERS = 50
DOCUMENTS = 500
EMBEDDINGS = 500
DIM = 64

WORDS = ("a the data table row column key value part order line query scan sort "
         "join merge hash group agg filter window batch stream fast slow big "
         "small customer spark vector").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["red", "blue", "green", "small", "large", "shiny"]
THINGS = ["widget", "bolt", "ring", "gear", "spring", "valve"]
TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]


def _days(rng, start, n, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tables(seed):
    """name -> pyarrow.Table"""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": rng.choice(SEGMENTS, CUSTOMERS)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, SUPPLIERS), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(PARTS, dtype=np.int64),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(THINGS)}" for _ in range(PARTS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, PARTS)],
        "p_type": rng.choice(TYPES, PARTS),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(PARTS) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": _days(rng, "1995-01-01", ORDERS, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, ORDERS)})
    qty = rng.integers(1, 51, LINES).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ORDERS, LINES).astype(np.int64),
        "l_partkey": rng.integers(0, PARTS, LINES).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, LINES).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, LINES), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, LINES), 2),
        "l_discount": np.round(rng.integers(0, 11, LINES) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, LINES) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], LINES),
        "l_linestatus": rng.choice(["F", "O"], LINES),
        "l_shipdate": _days(rng, "1995-01-02", LINES, 2498)})
    # events: a 30-day stream, sorted by time, microsecond timestamps
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, USERS, EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, EVENTS),
        "value": np.round(np.minimum(rng.exponential(50, EVENTS) + 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})
    # documents: distinct texts of 8..90 words from a small vocabulary
    texts, seen = [], set()
    while len(texts) < DOCUMENTS:
        s = " ".join(rng.choice(WORDS, int(rng.integers(8, 91))))
        if s not in seen:
            seen.add(s)
            texts.append(s)
    t["documents"] = pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    # embeddings: 10 clusters of unit-ish 64-d float vectors
    centers = rng.normal(0, 1, (10, DIM))
    labels = rng.integers(0, 10, EMBEDDINGS)
    vecs = centers[labels] + rng.normal(0, 0.8, (EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(seed, out_dir):
    """Write every table to `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
