#!/usr/bin/env python3
"""Generate the benchmark's input tables from a fixed seed.

Usage: python3 perfbench/gen_data.py OUT_DIR

Writes OUT_DIR/base/<table>.parquet for the ten tables the engine reads
(region nation customer supplier part orders lineitem events documents
embeddings), with the schemas and value distributions of the engine's
TPC-H-ish test fixtures at scale factor BASE_SF. OUT_DIR/corpus/ holds the
same tables generated at CORPUS_SF, with documents, embeddings and
events then replicated 10x by the repository's unchanged
tools/make_scale_fixture.py (every document gains 9 exact copies;
10,000-row parquet row groups). Generation is deterministic: SEED always
gives byte-identical tables, and the golden digests depend on that.
"""
import argparse
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "cold", "large", "small", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
US_PER_DAY = 86_400_000_000
BASE_SF = 0.01
# one tenth of this corpus leaves per-query overhead above the data path
CORPUS_SF = 0.1
SEED = 42


def ts_us(days_since_epoch, extra_us=0):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * US_PER_DAY
                    + extra_us, pa.timestamp("us"))


def day(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   version="2.6")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    strs = lambda a: pa.array(list(a), pa.string())

    write(out, "region", {
        "r_regionkey": i32(range(5)),
        "r_name": strs(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": strs(f"NATION_{i}" for i in range(25)),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    write(out, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": strs(f"Customer#{i:09d}" for i in range(n_cust)),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": strs(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    write(out, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": strs(f"Supplier#{i:09d}" for i in range(n_supp)),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write(out, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": strs(names[rng.integers(0, len(names), n_part)]),
        "p_brand": strs(f"Brand#{b}" for b in rng.integers(1, 26, n_part)),
        "p_type": strs(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0)})

    order_day = rng.integers(day(1995, 1, 1), day(2001, 8, 1) + 1, n_ord)
    write(out, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": strs(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": ts_us(order_day),
        "o_orderpriority": strs(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    l_order = rng.integers(0, n_ord, n_line)
    write(out, "lineitem", {
        "l_orderkey": i64(l_order),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": strs(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": strs(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": ts_us(order_day[l_order] + rng.integers(1, 96, n_line))})

    n_users = max(100, n_cust // 10)
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    write(out, "events", {
        "event_id": i64(range(n_ev)),
        "ts": ts_us(day(2024, 1, 1), ev_us),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": strs(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": strs(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev))})

    # 5% of documents are near-duplicates of an earlier one (" dup"
    # appended), 0.2% exact copies; the rest are random word sequences
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
    write(out, "documents", {
        "doc_id": i64(range(n_doc)),
        "text": strs(texts),
        "lang": strs(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": strs(f"src{i % 20}" for i in range(n_doc)),
        "n_chars": i64([len(t) for t in texts])})

    vec = rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    args = ap.parse_args()
    base, corpus = os.path.join(args.out, "base"), os.path.join(args.out, "corpus")
    corpus_src = os.path.join(args.out, "corpus-src")
    shutil.rmtree(args.out, ignore_errors=True)
    os.makedirs(base)
    os.makedirs(corpus_src)
    generate(base, BASE_SF, SEED)
    generate(corpus_src, CORPUS_SF, SEED)
    scale = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                         "tools", "make_scale_fixture.py")
    subprocess.run([sys.executable, scale, corpus_src, corpus, "10", "10000"],
                   check=True, stdout=subprocess.DEVNULL)
    shutil.rmtree(corpus_src)


if __name__ == "__main__":
    main()
