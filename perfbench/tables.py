"""Seeded tables with the schemas and row counts of the project's sf0.01
test data (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), written with pyarrow like the originals.

The seed is the only input: the same seed writes the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _us(day0, offsets_days):
    base = np.datetime64(day0, "us")
    return base + (np.asarray(offsets_days, dtype=np.int64) * 86_400_000_000
                   ).astype("timedelta64[us]")


def build(seed):
    """Return {name: pyarrow.Table} for one seed."""
    rng = np.random.default_rng(seed)
    t = {}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols):
        return pa.table({k: pa.array(v, type=ty) for k, (v, ty) in cols.items()})

    t["region"] = table({"r_regionkey": (np.arange(5), i32),
                         "r_name": (REGIONS, s)})
    t["nation"] = table({"n_nationkey": (np.arange(25), i32),
                         "n_name": ([f"NATION_{i}" for i in range(25)], s),
                         "n_regionkey": (np.arange(25) % 5, i32)})
    n = ROWS["customer"]
    t["customer"] = table({
        "c_custkey": (np.arange(n), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": (rng.integers(0, 25, n), i32),
        "c_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n), 2), f64),
        "c_mktsegment": (rng.choice(SEGMENTS, n), s)})
    n = ROWS["supplier"]
    t["supplier"] = table({
        "s_suppkey": (np.arange(n), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": (rng.integers(0, 25, n), i32),
        "s_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n), 2), f64)})
    n = ROWS["part"]
    price = np.round(900 + (np.arange(n) % 1000) / 10, 1)
    t["part"] = table({
        "p_partkey": (np.arange(n), i64),
        "p_name": ([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n),
                                                rng.choice(PART_NOUN, n))], s),
        "p_brand": ([f"Brand#{k}" for k in rng.integers(1, 26, n)], s),
        "p_type": (rng.choice(PART_TYPES, n), s),
        "p_size": (rng.integers(1, 51, n), i32),
        "p_retailprice": (price, f64)})
    n = ROWS["orders"]
    t["orders"] = table({
        "o_orderkey": (np.arange(n), i64),
        "o_custkey": (rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": (rng.choice(["F", "O", "P"], n), s),
        "o_totalprice": (np.round(rng.uniform(1000, 500000, n), 2), f64),
        "o_orderdate": (_us("1995-01-01", rng.integers(0, 2404, n)), ts),
        "o_orderpriority": (rng.choice(PRIORITIES, n), s)})
    n = ROWS["lineitem"]
    partkey = rng.integers(0, ROWS["part"], n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = table({
        "l_orderkey": (rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": (partkey, i64),
        "l_suppkey": (rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": (rng.integers(1, 8, n), i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (np.round(qty * price[partkey], 2), f64),
        "l_discount": (rng.integers(0, 11, n) / 100, f64),
        "l_tax": (rng.integers(0, 9, n) / 100, f64),
        "l_returnflag": (rng.choice(["A", "N", "R"], n), s),
        "l_linestatus": (rng.choice(["F", "O"], n), s),
        "l_shipdate": (_us("1995-01-02", rng.integers(0, 2499, n)), ts)})
    n = ROWS["events"]
    # 30 days of strictly increasing event times, microsecond resolution
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n, n)
    t["events"] = table({
        "event_id": (np.arange(n), i64),
        "ts": (np.datetime64("2024-01-01", "us")
               + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, 150, n), i64),
        "event_type": (rng.choice(EVENT_TYPES, n), s),
        "value": (np.maximum(0.01, np.round(rng.exponential(50, n), 2)), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], s)})
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 99)))))
    t["documents"] = table({
        "doc_id": (np.arange(n), i64),
        "text": (texts, s),
        "lang": (rng.choice(LANGS, n, p=LANG_P), s),
        "source": ([f"src{i % 20}" for i in range(n)], s),
        "n_chars": ([len(x) for x in texts], i64)})
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})
    return t


def write(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in build(seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
