"""Seeded input tables for the headline queries of ``grid_ingest``.

Writes the nine parquet tables that bench.py's headline queries in
``plans/demo_queries.py`` read (the TPC-H-like star schema without
``part``, an ``events`` stream, ``documents`` and ``embeddings``) with the
column names, types and value ranges of the sf0.01 test tables.  Everything is drawn from ``numpy.random`` under the
workload seed, so one seed always gives byte-identical tables.

Keys are ``0..n-1`` as in the test tables.  The spatial queries derive
geometry from keys alone (``doc_id`` → lon/lat, ``s_suppkey`` → city
point), so their inputs, and the join work they do, are the same for
every seed; the seed changes every other value: texts, languages,
embeddings, prices, dates and events.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts: half those of the sf0.01 test tables
SIZES = {"customer": 750, "supplier": 50, "orders": 7500,
         "lineitem": 30000, "events": 5000, "documents": 250,
         "embeddings": 250}

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark "
         "a group part big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

TS_US = pa.timestamp("us")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    lo = np.datetime64(start, "us")
    span = (end - start).days
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate: an earlier document with trailing "dup" tokens
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])     # exact duplicate
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    n, dim, k = SIZES["embeddings"], 64, 10
    centers = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0.0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _events(rng) -> pa.Table:
    n = SIZES["events"]
    # ~30 days of events at exponential gaps, microsecond timestamps
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=TS_US),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
        "value": _money(rng, n, 0.01, 490.02),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
    })


def make_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_ord, n_li = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    n_sup = SIZES["supplier"]
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
    }
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    sup_keys = np.arange(n_sup, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sup_keys,
        "s_name": [f"Supplier#{k:09d}" for k in sup_keys],
        "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
        "s_acctbal": _money(rng, n_sup, -999.99, 9999.99)})
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1992, 1, 1),
                                      dt.date(1998, 12, 31)), type=TS_US),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
        "l_suppkey": rng.choice(sup_keys, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), type=TS_US)})
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def write_tables(out_dir: str, seed: int) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in make_tables(np.random.default_rng(seed)).items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, p)
        paths.append(p)
    return paths
