"""Seeded generator for the ten fixture tables the query registry reads.

The tables follow the schemas and value ranges of the TPC-H-ish fixture
family described in FIXTURES.md (section B): the same column names, parquet
physical types and categorical vocabularies, and the same shapes the queries
rely on (sorted event times, planted near-duplicate documents, label-clustered
unit embeddings). Sizes scale with `sf` like that family's: lineitem has
6,000,000 x sf rows.

The output is a pure function of (seed, sf): the registry workload stores
expected results for one fixed (seed, sf) pair in expected.json.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _ts(start, micros):
    base = np.datetime64(start, "us")
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start, days):
    return _ts(start, days.astype(np.int64) * 86_400_000_000)


def tables(seed, sf):
    """Return {name: pyarrow.Table} for one (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})

    ck = np.arange(n_c, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)]})

    sk = np.arange(n_s, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_s, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)})

    pk = np.arange(n_p, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_p)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_p)]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    ok = np.arange(n_o, dtype=np.int64)
    order_days = rng.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _days("1995-01-01", order_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]})

    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_l, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_l))})

    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    out["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": rng.integers(0, n_users, n_e, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})

    # ~5% of documents are a copy of an earlier one plus " dup": the
    # near-duplicate pairs the dedup operators must find
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 96))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, n_words)]))
    doc_ids = np.arange(n_docs, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": doc_ids, "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # unit vectors, weakly clustered around one random direction per label
    dim, labels = 64, rng.integers(0, 10, n_vecs, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    return out


def write(dir_, seed, sf):
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))


if __name__ == "__main__":
    import sys
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
