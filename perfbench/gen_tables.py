#!/usr/bin/env python3
"""Seeded generator of the query pack's input tables.

Writes the ten parquet tables the operator pack reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value distributions of the repository's TPC-H-style
test tables, sized as at scale factor 0.01 (60k lineitem rows).

    python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
ADJ = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
NOUN = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
TYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
WORDS = ('a agg batch big column customer data fast filter group hash join key '
         'line merge order part query row scan slow small sort spark stream '
         'table the value vector window').split()
LANGS = ['en', 'es', 'de', 'fr', 'zh']
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86400 * 1000000
N_CUST, N_SUPP, N_PART = 1500, 100, 2000
N_ORD, N_LINE, N_EV = 15000, 60000, 10000
N_DOC, N_EMB, N_USER = 500, 200, 150


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(start, rng, span, n):
    d0 = np.datetime64(start, 'D')
    return (d0 + rng.integers(0, span, n).astype('timedelta64[D]')).astype('datetime64[us]')


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f'{name}.parquet'))


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    write(out, 'region', {'r_regionkey': pa.array(range(5), pa.int32()),
                          'r_name': REGIONS})
    write(out, 'nation', {'n_nationkey': pa.array(range(25), pa.int32()),
                          'n_name': [f'NATION_{i}' for i in range(25)],
                          'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, 'customer', {
        'c_custkey': pa.array(np.arange(N_CUST), pa.int64()),
        'c_name': [f'Customer#{i:09d}' for i in range(N_CUST)],
        'c_nationkey': pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        'c_acctbal': money(rng, -999.99, 9999.99, N_CUST),
        'c_mktsegment': [SEGMENTS[i] for i in rng.integers(0, 5, N_CUST)]})
    write(out, 'supplier', {
        's_suppkey': pa.array(np.arange(N_SUPP), pa.int64()),
        's_name': [f'Supplier#{i:09d}' for i in range(N_SUPP)],
        's_nationkey': pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        's_acctbal': money(rng, -999.99, 9999.99, N_SUPP)})
    write(out, 'part', {
        'p_partkey': pa.array(np.arange(N_PART), pa.int64()),
        'p_name': [f'{ADJ[a]} {NOUN[b]}' for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        'p_brand': [f'Brand#{i}' for i in rng.integers(1, 26, N_PART)],
        'p_type': [TYPES[i] for i in rng.integers(0, 6, N_PART)],
        'p_size': pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        'p_retailprice': np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 1)})
    write(out, 'orders', {
        'o_orderkey': pa.array(np.arange(N_ORD), pa.int64()),
        'o_custkey': pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        'o_orderstatus': [('F', 'O', 'P')[i] for i in rng.integers(0, 3, N_ORD)],
        'o_totalprice': money(rng, 1000.0, 500000.0, N_ORD),
        'o_orderdate': days('1995-01-01', rng, 2404, N_ORD),
        'o_orderpriority': [PRIORITIES[i] for i in rng.integers(0, 5, N_ORD)]})
    qty = rng.integers(1, 51, N_LINE).astype(np.float64)
    write(out, 'lineitem', {
        'l_orderkey': pa.array(rng.integers(0, N_ORD, N_LINE), pa.int64()),
        'l_partkey': pa.array(rng.integers(0, N_PART, N_LINE), pa.int64()),
        'l_suppkey': pa.array(rng.integers(0, N_SUPP, N_LINE), pa.int64()),
        'l_linenumber': pa.array(rng.integers(1, 8, N_LINE), pa.int32()),
        'l_quantity': qty,
        'l_extendedprice': np.round(qty * rng.uniform(900.0, 2100.0, N_LINE), 2),
        'l_discount': rng.integers(0, 11, N_LINE) / 100.0,
        'l_tax': rng.integers(0, 9, N_LINE) / 100.0,
        'l_returnflag': [('A', 'N', 'R')[i] for i in rng.integers(0, 3, N_LINE)],
        'l_linestatus': [('F', 'O')[i] for i in rng.integers(0, 2, N_LINE)],
        'l_shipdate': days('1995-01-02', rng, 2499, N_LINE)})
    gaps = rng.exponential(30.0 * DAY_US / N_EV, N_EV)
    ts = np.datetime64('2024-01-01T00:00:00', 'us') + \
        np.cumsum(gaps).astype(np.int64).astype('timedelta64[us]')
    write(out, 'events', {
        'event_id': pa.array(np.arange(N_EV), pa.int64()),
        'ts': pa.array(ts, pa.timestamp('us')),
        'user_id': pa.array(rng.integers(0, N_USER, N_EV), pa.int64()),
        'event_type': [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EV)],
        'value': np.maximum(0.01, np.round(rng.exponential(50.0, N_EV), 2)),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})
    texts = [' '.join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
             for n in rng.integers(10, 100, N_DOC)]
    # 5% near-duplicates: another document's text plus one marker word
    for i in np.flatnonzero(rng.random(N_DOC) < 0.05):
        texts[i] = texts[int(rng.integers(0, N_DOC))] + ' dup'
    write(out, 'documents', {
        'doc_id': pa.array(np.arange(N_DOC), pa.int64()),
        'text': texts,
        'lang': [LANGS[i] for i in rng.choice(5, N_DOC, p=LANG_P)],
        'source': [f'src{i % 20}' for i in range(N_DOC)],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 0.125, (N_EMB, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, 'embeddings', {
        'vec_id': pa.array(np.arange(N_EMB), pa.int64()),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
        'label': pa.array(labels, pa.int32())})


if __name__ == '__main__':
    main()
