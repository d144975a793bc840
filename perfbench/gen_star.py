"""Seeded star schema for the ``query_mix`` workload.

Writes the ten tables the registered queries read (``region`` ...
``lineitem`` TPC-H-like, an ``events`` stream, a ``documents`` text table
and an ``embeddings`` vector table), with the column names, types and
value ranges of the engine's test fixtures, at a row count set by
``scale`` (1.0 = the sf0.01 fixture's rows).

One lineitem row is the same for every seed: a 1994 shipment (a year no
other row has) of extended price 1.005 at no discount. Its
``round(sum(double), 2)`` sits on the half-cent boundary where the
engine's rounding and DuckDB's disagree, so ``q13_dense_rank_suppliers``
fails the oracle on every seed until money is summed exactly.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
_THINGS = ["widget", "bolt", "ring", "gear", "valve", "panel"]
_TYPES = ["ECONOMY", "STANDARD", "SMALL", "LARGE", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_DOC_WORDS = ("a the data spark table query join agg group order sort key "
              "value row column filter scan hash merge window batch stream "
              "line part customer vector big small fast slow").split()
PLANTED_SHIP = datetime(1994, 6, 15)
PLANTED_PRICE = 1.005


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_since_epoch):
    return pa.array((np.asarray(days_since_epoch, dtype="int64")
                     * 86_400_000_000).astype("datetime64[us]"),
                    pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write ``out_dir/<table>.parquet`` for every table and return
    ``{table: {"rows": n, "bytes": b}}``. The same seed and scale always
    write byte-identical files."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_events, n_docs, n_vecs = int(10000 * scale), 500, 500
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900 + (np.arange(n_part) % 1200) * 0.1
                      + rng.integers(0, 100, n_part), 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_COLORS, n_part),
                                              rng.choice(_THINGS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    day0 = (datetime(1995, 1, 1) - datetime(1970, 1, 1)).days
    o_day = day0 + rng.integers(0, 6 * 365, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(o_day),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * retail[l_part], 2)
    ship_day = o_day[l_order] + rng.integers(1, 122, n_li)
    planted_day = (PLANTED_SHIP - datetime(1970, 1, 1)).days
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.append(l_order, 0), pa.int64()),
        "l_partkey": pa.array(np.append(l_part, 0), pa.int64()),
        "l_suppkey": pa.array(np.append(rng.integers(0, n_supp, n_li), 0),
                              pa.int64()),
        "l_linenumber": pa.array(np.append(l_line, 8), pa.int32()),
        "l_quantity": np.append(qty, 1.0),
        "l_extendedprice": np.append(price, PLANTED_PRICE),
        "l_discount": np.append(rng.integers(0, 11, n_li) / 100.0, 0.0),
        "l_tax": np.append(rng.integers(0, 9, n_li) / 100.0, 0.0),
        "l_returnflag": np.append(rng.choice(["A", "N", "R"], n_li), "N"),
        "l_linestatus": np.append(rng.choice(["F", "O"], n_li), "F"),
        "l_shipdate": _ts(np.append(ship_day, planted_day))})

    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    ev_base = (datetime(2024, 1, 1) - datetime(1970, 1, 1)).days \
        * 86_400_000_000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array((ev_base + ev_us).astype("datetime64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, 0, 50, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = [" ".join(rng.choice(_DOC_WORDS, rng.integers(8, 90)))
             for _ in range(n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype("float32")],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        stats[name] = {"rows": tables[name].num_rows,
                       "bytes": os.path.getsize(path)}
    return stats
