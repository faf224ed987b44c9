"""Write the ten query_mix input tables as parquet, deterministically.

The tables follow the shapes the queries were written against (a small
TPC-H-like star schema plus `events`, `documents` and `embeddings`): the
same columns and types, the same value domains, and the same planted
structure the dedup and near-duplicate queries rely on (5% of documents
are another document's text plus " dup"). Row counts scale with `sf`;
documents and embeddings never drop below 500 rows.

Usage: python3 gen_tables.py <out_dir> <sf> [data_seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000


def day_us(iso):
    return int(np.datetime64(iso, "us").astype(np.int64))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_sup = max(10, int(sf * 10_000))
    n_cust = max(150, int(sf * 150_000))
    n_part = max(200, int(sf * 200_000))
    n_ord = max(1500, int(sf * 1_500_000))
    n_li = max(6000, int(sf * 6_000_000))
    n_ev = max(1000, int(sf * 1_000_000))
    n_users = max(15, int(sf * 15_000))
    n_docs = max(500, int(sf * 50_000))
    n_emb = max(500, int(sf * 20_000))
    i32, i64 = pa.int32(), pa.int64()

    write(out, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_sup), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), i32),
        "s_acctbal": money(rng, n_sup, -999.99, 9999.99)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    d0 = day_us("1995-01-01")
    odate = d0 + rng.integers(0, 2405, n_ord) * DAY_US
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_li)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "A", "N", "N", "R", "R"])[flags],
        "l_linestatus": np.array(["F", "O", "O", "F", "F", "O"])[flags],
        "l_shipdate": pa.array(d0 + DAY_US + rng.integers(0, 2498, n_li) * DAY_US,
                               pa.timestamp("us"))})

    ts = day_us("2024-01-01") + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n_docs)]
    for i in np.sort(rng.choice(n_docs, n_docs // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
