"""Deterministic synthetic corpus for the graft benchmark.

Writes the ten tables graft's `sources.Tables` reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the column names, types and
value shapes of the repo's sf0.1 test corpus. The same seed always
gives byte-identical table contents.

    python3 perfbench/gen.py <out_dir> [seed] [scale]

`scale` multiplies the row counts of the fact tables (1.0 = sf0.1
sizes: 600k lineitem rows, 5000 documents, 2000 embeddings).
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "screw", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _ts(rng, n, start, end):
    """n timestamps (µs resolution) uniform in [start, end)."""
    lo = int(start.timestamp() * 1e6)
    hi = int(end.timestamp() * 1e6)
    return rng.integers(lo, hi, n).astype("datetime64[us]")


def _days(rng, n, start, end):
    """n midnight timestamps uniform over the days in [start, end)."""
    d0 = np.datetime64(start.date(), "D")
    span = (end.date() - start.date()).days
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    lens = rng.integers(8, 96, n)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
             for k in lens]
    # near duplicates (one word swapped for "dup") and a few exact
    # copies, so the dedup operators have work to find
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
        elif i > 10 and r < 0.053:
            texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def generate(out, seed=42, scale=1.0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 15000, 1000, 20000
    n_ord = int(150000 * scale)
    n_line = int(600000 * scale)
    n_ev = int(100000 * scale)
    n_doc, n_emb = int(5000 * scale), int(2000 * scale)
    i32, i64 = np.int32, np.int64

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(i32))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.datetime(1992, 1, 1),
                                      dt.datetime(2002, 1, 1))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": pa.array(_days(rng, n_line, dt.datetime(1992, 1, 1),
                                     dt.datetime(2002, 1, 1)))})
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": pa.array(np.sort(_ts(rng, n_ev, dt.datetime(2024, 1, 1),
                                   dt.datetime(2024, 1, 31)))),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(i64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _documents(rng, n_doc))
    _write(out, "embeddings", _embeddings(rng, n_emb))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 42,
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
