"""Seeded generator for the relational tables the query workloads read.

Writes the ten tables graft's queries load (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
Snappy parquet file each, with the column names, physical types and
value shapes of the TPC-H-like test tables the oracle checks run on:
two-decimal money and rate columns, integral quantities, a 30-day
monotone event clock, a 31-word document vocabulary with ~5% near-
duplicate documents, and unit-norm 64-d embeddings.

Row counts scale with the scale factor `sf` the same way the test
tables do (lineitem = 6M x sf). The same (sf, seed) gives byte-identical
files.

    python3 perfbench/gen_tables.py <out_dir> <sf> [seed]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]

US_PER_DAY = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _money(rng, lo, hi, n):
    """Uniform two-decimal values in [lo, hi] (exact in DECIMAL(12,2))."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end] as epoch micros."""
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n) * US_PER_DAY


def _ts(values):
    return pa.array(values, pa.int64()).cast(pa.timestamp("us"))


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table at scale factor sf."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = min(2000, max(500, int(20_000 * sf)))
    n_users = max(1, int(15_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4), n_line))})
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt)) + start
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), n_words)))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def write(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]),
          int(sys.argv[3]) if len(sys.argv) > 3 else 42)
