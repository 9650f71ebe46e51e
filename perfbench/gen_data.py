#!/usr/bin/env python3
"""Deterministic query inputs for the benchmark's query workloads.

Writes the ten tables the engine's queries read (`region` ... `embeddings`,
one parquet file each) with the same schemas and value domains as the
project's sf fixtures: independent uniform TPC-H-style columns, a 30-day
event stream, a small-vocabulary document corpus with planted near
duplicates, and unit-norm 64-d embeddings clustered by label. The data
depends only on the scale factor, so every benchmark run in a checkout
reads identical bytes.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
PART_ADJ = ['blue', 'old', 'large', 'hot', 'cold', 'red', 'small', 'new']
PART_NOUN = ['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod', 'anvil']
PART_TYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
LANGS = ['en', 'en', 'en', 'de', 'es', 'fr', 'zh']
WORDS = ('a agg batch big column customer data dup fast filter group hash join '
         'key line merge order part query row scan slow small sort spark '
         'stream table the value vector window').split()


def _days(rng, n, lo, hi):
    """`n` midnight timestamps uniform over [lo, hi] as datetime64[us]."""
    span = (hi - lo).days
    base = np.datetime64(lo, 'us')
    return base + rng.integers(0, span + 1, n).astype('timedelta64[D]')


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf):
    rng = np.random.default_rng(42)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = n_ord * 4
    n_evt = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = 5_000 if sf >= 0.1 else 500
    n_vecs = 2_000 if sf >= 0.1 else 500

    out = {}
    out['region'] = pa.table({
        'r_regionkey': pa.array(range(5), pa.int32()),
        'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    out['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), pa.int32()),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    out['customer'] = pa.table({
        'c_custkey': pa.array(np.arange(n_cust), pa.int64()),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        'c_acctbal': _money(rng, n_cust, -999.99, 9999.99),
        'c_mktsegment': np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out['supplier'] = pa.table({
        's_suppkey': pa.array(np.arange(n_supp), pa.int64()),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        's_acctbal': _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    out['part'] = pa.table({
        'p_partkey': pa.array(np.arange(n_part), pa.int64()),
        'p_name': np.char.add(np.char.add(adj, ' '), noun),
        'p_brand': np.char.add('Brand#', rng.integers(1, 26, n_part).astype(str)),
        'p_type': np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        'p_size': pa.array(rng.integers(1, 51, n_part), pa.int32()),
        'p_retailprice': np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out['orders'] = pa.table({
        'o_orderkey': pa.array(np.arange(n_ord), pa.int64()),
        'o_custkey': pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        'o_orderstatus': np.array(['F', 'O', 'P'])[rng.integers(0, 3, n_ord)],
        'o_totalprice': _money(rng, n_ord, 1000.0, 500000.0),
        'o_orderdate': _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        'o_orderpriority': np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    flags = np.array(['A', 'N', 'R'])[rng.integers(0, 3, n_line)]
    out['lineitem'] = pa.table({
        'l_orderkey': pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        'l_partkey': pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        'l_suppkey': pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        'l_linenumber': pa.array(rng.integers(1, 8, n_line), pa.int32()),
        'l_quantity': rng.integers(1, 51, n_line).astype(np.float64),
        'l_extendedprice': _money(rng, n_line, 900.0, 105000.0),
        'l_discount': rng.integers(0, 11, n_line) / 100.0,
        'l_tax': rng.integers(0, 9, n_line) / 100.0,
        'l_returnflag': flags,
        'l_linestatus': np.array(['F', 'O'])[rng.integers(0, 2, n_line)],
        'l_shipdate': _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    out['events'] = pa.table({
        'event_id': pa.array(np.arange(n_evt), pa.int64()),
        'ts': pa.array(np.datetime64('2024-01-01T00:00:00', 'us')
                       + (secs * 1e6).astype('timedelta64[us]'), pa.timestamp('us')),
        'user_id': pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        'event_type': np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        'value': np.round(rng.exponential(50.0, n_evt), 2),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split(' ')
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append('dup')
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        texts.append(' '.join(words))
    out['documents'] = pa.table({
        'doc_id': pa.array(np.arange(n_docs), pa.int64()),
        'text': texts,
        'lang': np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        'source': [f'src{i % 20}' for i in range(n_docs)],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out['embeddings'] = pa.table({
        'vec_id': pa.array(np.arange(n_vecs), pa.int64()),
        'embedding': pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        'label': pa.array(labels, pa.int32())})
    return out


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'))


if __name__ == '__main__':
    main()
