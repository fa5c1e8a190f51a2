"""Seeded generator for the ten benchmark tables.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
schemas `graft.ops.Tables` reads and the value laws of the project's
synthetic test data (uniform keys and enums, TPC-H-like date ranges,
a 30-word document vocabulary with 5% planted " dup" near-copies and
a few exact copies, unit-norm 64-d float32 embeddings). Every table is
a pure function of the seed: the same seed gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# Row counts relative to the sf1 of the project's TPC-H-like test data:
# 0.015 is 0.15x its sf0.1 bench scale (750 documents, 300 embeddings,
# 90,000 lineitems). At sf0.1 one run of the dedup workload alone takes
# about five minutes on 4 cores, its correctness step half of that;
# README.md gives the figures.
SCALE = 0.015
US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line, n_ev = int(1_500_000 * SCALE), int(6_000_000 * SCALE), int(1_000_000 * SCALE)
    n_docs, n_emb, n_users = int(50_000 * SCALE), int(20_000 * SCALE), int(15_000 * SCALE)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN], dtype=object)
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(25)], dtype=object)
                            [rng.integers(0, 25, n_part)]),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # Sorted distinct microsecond offsets: ts rises with event_id and no
    # (user_id, ts) pair repeats, as the as-of join and window queries need.
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    offs = np.unique(rng.integers(0, 30 * US_PER_DAY, n_ev + n_ev // 100))[:n_ev]
    offs = np.sort(rng.permutation(offs)[:n_ev])
    out["events"] = pa.table({
        "event_id": np.arange(len(offs), dtype=np.int64),
        "ts": pa.array(t0 + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, len(offs)),
        "event_type": _pick(rng, EVENT_TYPES, len(offs)),
        "value": np.round(rng.exponential(50.0, len(offs)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, len(offs))]})
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, n_docs)]
    # 5% of documents are a copy of another document plus " dup", and a
    # few are exact copies: the near-duplicate and exact-duplicate
    # families the dedup operators exist to find.
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in rng.choice(n_docs, max(2, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
