"""Deterministic input tables for the benchmark.

The tables have the schemas, types and parquet layout of the driver's
synthetic fixtures (FIXTURES.md §A: one single-row-group SNAPPY parquet
file per table, timestamps as ``timestamp[us]``), so every registered
query and the ETL CLI read them unchanged. They are generated from a
fixed seed: the benchmark's ``--seed`` chooses what the program is asked
to do with them (table order, replayed days, query order), never the
data itself.

Two deliberate differences from the fixtures:
  * ``orders`` dates span ``ORDERS_DAYS`` days instead of ~2,400. The
    day-partitioned ``orders`` sink writes one file per (input task,
    day), ~11 ms each when one task writes them all, so the fixture span
    would cost a whole run per full refresh. ``lineitem`` (not
    partitioned by the ETL) keeps a three-year ship-date span, so the
    TPC-H date filters of the query mix select rows on both sides.
  * ``documents`` carry planted near-duplicates (mutated copies), so the
    near-duplicate operators have pairs to find and the rows-only check
    "non-empty" is meaningful.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Row counts per table. TPC-H-ish tables are ~sf0.02; the text and
#: vector tables match the sf0.01 fixtures.
ROWS = {
    "customer": 3_000,
    "supplier": 200,
    "part": 4_000,
    "orders": 30_000,
    "lineitem": 120_000,
    "events": 20_000,
    "documents": 500,
    "embeddings": 500,
}
ORDERS_START, ORDERS_DAYS = dt.date(1996, 8, 1), 100
SHIP_START, SHIP_DAYS = dt.date(1996, 1, 1), 1096
EVENTS_START = dt.date(2024, 1, 1)
EVENTS_DAYS = 30

_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, n: int, start: dt.date, span: int) -> pa.Array:
    day = np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(day.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < 0.08:  # mutated near-copy of an original doc
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
            originals.append(i)
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in rng.integers(0, 5, n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def tables() -> dict[str, dict]:
    """Column dicts of every table, generated from ``DATA_SEED``."""
    rng = np.random.default_rng(DATA_SEED)
    r = ROWS
    n_ord, n_li, n_ev = r["orders"], r["lineitem"], r["events"]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ev_us = np.sort(rng.integers(0, EVENTS_DAYS * 86_400_000_000, n_ev))
    ev_ts = np.datetime64(EVENTS_START, "us") + ev_us.astype("timedelta64[us]")
    vecs = rng.normal(0.0, 1.0, (r["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(r["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(r["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, r["customer"])),
            "c_mktsegment": pa.array([_SEGMENTS[k] for k in rng.integers(0, 5, r["customer"])]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(r["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(r["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, r["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(np.arange(r["part"]), pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (r["part"], 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, r["part"])]),
            "p_type": pa.array([_PTYPES[k] for k in rng.integers(0, 6, r["part"])]),
            "p_size": pa.array(rng.integers(1, 51, r["part"]), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 1000, r["part"]), 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, r["customer"], n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _days(rng, n_ord, ORDERS_START, ORDERS_DAYS),
            "o_orderpriority": pa.array([_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, r["part"], n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, n_li, SHIP_START, SHIP_DAYS),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": pa.array([_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
        },
        "documents": _documents(rng, r["documents"]),
        "embeddings": {
            "vec_id": pa.array(np.arange(r["embeddings"]), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, r["embeddings"]), pa.int32()),
        },
    }


def ensure(data_dir: str) -> str:
    """Generate the tables into ``data_dir`` unless it exists. Writes to
    a sibling temp directory and renames it into place, so an
    interrupted generation never leaves a complete-looking directory."""
    if os.path.isdir(data_dir):
        return data_dir
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in tables().items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", version="2.6")
    os.rename(tmp, data_dir)
    return data_dir


if __name__ == "__main__":
    ensure(sys.argv[1])
