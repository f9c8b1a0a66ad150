"""Seeded corpus for the operator mix.

The tables and schemas of FIXTURES.md §B (TPC-H-like star schema plus
`events`, `documents` and `embeddings`), one `<table>.parquet` file each, at
scale factor `sf` (sf 0.1 = 600 000 lineitem rows); `rows` overrides the
row count of single tables. The same seed gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the agg batch big column customer data fast filter group hash join key line merge order "
         "part query row scan slow small sort spark stream table value vector window "
         "le la el der und de los die et y").split()


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _documents(rng, n):
    src = np.arange(n)
    kind = rng.random(n)
    back = 1 + rng.integers(0, 100, n)
    copy = (kind < 0.05) & (src > 0)
    src = np.where(copy, np.maximum(0, src - back), src)
    edit = np.where((kind >= 0.02) & (kind < 0.05), rng.integers(0, 8, n), -1)
    lengths = rng.integers(8, 81, n)
    words = [list(_pick(rng, VOCAB, int(k))) for k in lengths]
    texts = []
    for i in range(n):
        # copies (2%) repeat an earlier document; near-copies (3%) change one word
        w = list(words[src[i]])
        if copy[i] and edit[i] >= 0:
            w[min(edit[i], len(w) - 1)] = "edited"
        texts.append(" ".join(w))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, ["en", "en", "de", "es", "fr", "zh"], n), pa.string()),
        "source": pa.array(["src%d" % k for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n)
    centroids = rng.standard_normal((10, 64))
    v = centroids[labels] + 0.8 * rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng, n, users, days=30):
    span_us = days * 86400 * 1_000_000
    off = ((np.arange(n) + rng.random(n)) * (span_us / n)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + off.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(_pick(rng, ["click", "error", "purchase", "signup", "view"], n), pa.string()),
        "value": pa.array(np.round(-60.0 * np.log1p(-rng.random(n)), 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)], pa.string()),
    })


def generate(directory, seed, sf, rows=None):
    """Write the corpus; return {table: rows}."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, round(v * sf)) for k, v in dict(
        customer=150000, supplier=10000, part=200000, orders=1500000, lineitem=6000000,
        events=1000000, documents=50000, embeddings=20000, users=15000).items()}
    n.update(rows or {})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array(["NATION_%d" % i for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array(["Customer#%09d" % i for i in range(n["customer"])], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.random(n["customer"]) * 10999.65 - 999.85, 2)),
            "c_mktsegment": pa.array(_pick(rng, segs, n["customer"]), pa.string())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array(["Supplier#%09d" % i for i in range(n["supplier"])], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.random(n["supplier"]) * 10999.65 - 999.85, 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pa.array([a + " " + b for a, b in zip(
                _pick(rng, "blue cold green hot large red small tiny".split(), n["part"]),
                _pick(rng, "anvil bolt gear nut ring screw spring widget".split(), n["part"]))], pa.string()),
            "p_brand": pa.array(["Brand#%d" % k for k in rng.integers(1, 26, n["part"])], pa.string()),
            "p_type": pa.array(_pick(rng, "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split(), n["part"]), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + rng.random(n["part"]) * 99.9, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n["orders"]), pa.string()),
            "o_totalprice": pa.array(np.round(1000.0 + rng.random(n["orders"]) * 499000.0, 2)),
            "o_orderdate": pa.array(_days(rng, n["orders"], "1995-01-01", 2404), pa.timestamp("us")),
            "o_orderpriority": pa.array(_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                              n["orders"]), pa.string())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(900.0 + rng.random(n["lineitem"]) * 104100.0, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n["lineitem"]), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n["lineitem"]), pa.string()),
            "l_shipdate": pa.array(_days(rng, n["lineitem"], "1995-01-02", 2498), pa.timestamp("us"))}),
        "events": _events(rng, n["events"], n["users"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])), f"{time.time() - t0:.2f} s")
