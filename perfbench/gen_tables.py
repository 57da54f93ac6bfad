"""Seeded generator of the star-schema tables the declared queries read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the schemas and value domains listed
in FIXTURES.md section A (row counts scale with `sf` the same way: lineitem
has 6,000,000 x sf rows, events 1,000,000 x sf rows over 15,000 x sf users).
The same (seed, sf) always gives byte-identical values.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> <sf>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring", "panel", "hinge"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.15, 0.14, 0.13]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big query "
         "customer stream filter group vector").split()


def epoch_us(y, m, d):
    return int(datetime.datetime(y, m, d, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000


def cents(rng, lo, hi, n):
    """Uniform money values with exactly two decimals."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days(rng, start, end, n):
    """Uniform midnight timestamps in [start, end] (microseconds)."""
    span = (end - start) // 86_400_000_000
    return start + rng.integers(0, span + 1, n) * 86_400_000_000


def ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def main(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(3, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(10, int(1_000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(days(rng, epoch_us(1995, 1, 1), epoch_us(2001, 8, 1), n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 100000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts(days(rng, epoch_us(1995, 1, 2), epoch_us(2001, 11, 4), n_line))})
    start = epoch_us(2024, 1, 1)
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(8, 100, n_docs)]
    write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(rng.standard_normal((n_vecs, 8), dtype=np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
