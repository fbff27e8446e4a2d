"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the query registry reads (a TPC-H-like star
schema, an `events` table that the tick view is derived from, `documents`
and `embeddings`) for a scale factor `sf`, with the same schemas, value
ranges and row counts per scale factor as the project's testdata. The
tables depend only on (`sf`, `seed`); the benchmark keeps them fixed at
seed 42 and varies request order and the tick stream with its own seed.

Usage: python3 perfbench/datagen.py <sf> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
P_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "zh", "de", "fr", "es"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int = 42) -> dict:
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_events = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                             rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + order_days * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    lines_per_order = rng.integers(1, 8, n_ord)
    n_line = int(lines_per_order.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    linenumber = np.arange(n_line) - starts + 1
    flag_status = rng.integers(0, 6, n_line)
    ship = np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_line)
    li = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104950.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[flag_status % 3],
        "l_linestatus": np.array(["O", "F"])[flag_status // 3],
        "l_shipdate": _ts(EPOCH_1995_US + ship * DAY_US)})
    out["lineitem"] = li.take(rng.permutation(n_line))

    # (symbol, event_time) must be unique: the tick view's open/close
    # are first/last by event_time, so ties would make them ambiguous.
    span = 30 * DAY_US
    ts = np.unique(rng.integers(0, span, n_events + n_events // 10 + 16))
    ts = np.sort(rng.choice(ts, n_events, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(sf: float, out_dir: str, seed: int = 42) -> None:
    """Write every table to `out_dir`; a `_DONE` marker makes reruns free."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    write(float(sys.argv[1]), sys.argv[2])
