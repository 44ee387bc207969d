"""Deterministic synthetic input tables for the query batteries.

The registry queries read ten parquet tables (``graft.sources.Tables``):
a TPC-H-shaped star schema, an ``events`` click stream, a ``documents``
corpus and an ``embeddings`` table. This module writes them for a scale
factor ``sf`` with the same schemas, key ranges and value distributions
as the engine's reference test tables, so the batteries exercise the same
plans. Row counts scale with ``sf`` (lineitem = 6,000,000 x sf); the
corpus tables keep a floor of 500 rows.

The bytes are a pure function of (sf, seed): numpy's PCG64 stream per
table, written single-threaded with pyarrow.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
COLORS = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TS = pa.timestamp("us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def build(sf, seed=42):
    """Return {table name: pyarrow.Table} for scale factor ``sf``."""
    def rng(tag):
        return np.random.default_rng([seed, sum(map(ord, tag))])

    n_line = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng("customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rng("supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = rng("part")
    keys = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(COLORS)[r.integers(0, 8, n_part)], " "),
                        np.array(NOUNS)[r.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})

    r = rng("orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2405, n_ord), TS),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = rng("lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2500, n_line), TS)})

    r = rng("events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), TS),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    # corpus: uniform words, 5% near-duplicates (an earlier document plus
    # a trailing "dup") and 0.2% exact duplicates, for the dedup operators
    r = rng("documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(10, 101))])
             for _ in range(n_docs)]
    near = r.choice(np.arange(1, n_docs), n_docs // 20, replace=False)
    for i in near:
        texts[i] = texts[r.integers(0, i)] + " dup"
    exact = r.choice(np.setdiff1d(np.arange(1, n_docs), near),
                     max(1, n_docs // 500), replace=False)
    for i in exact:
        texts[i] = texts[r.integers(0, i)]
    doc_ids = np.arange(n_docs, dtype=np.int64)
    t["documents"] = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", (doc_ids % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    r = rng("embeddings")
    v = r.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write(sf, out_dir, seed=42):
    """Write every table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
