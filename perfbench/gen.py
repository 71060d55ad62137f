"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from the seed, so
the program under test receives only generated files:

- ``tables(out_dir, sf, seed)``: the ten TPC-H-ish tables the catalog
  queries read (``region nation customer supplier part orders lineitem
  events documents embeddings``), with the same column names, types and
  value shapes as the engine's test data (random keys, duplicate order
  lines, ~5% near-duplicate documents carrying an appended ``dup`` token,
  a few exact duplicate texts, unit-norm weakly clustered 64-d vectors).
- ``warehouse_day(base_dir, day_dir, day, seed)``: day ``d`` of the daily
  warehouse feed. Day 0 is the base input; each later day changes one
  column (quantity or discount) on a fresh set of sale ids and appends new
  orders. The planted cells are returned so the reconciliation count can
  be checked exactly.

Outputs are written once per (workload, seed) and reused: a directory is
complete when its ``_DONE`` marker exists.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJ = ["red", "blue", "old", "large", "hot", "cold", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMB_DIM = 64
BASE_ONLY = ("region", "nation", "customer", "supplier", "part")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(path: str) -> None:
    open(os.path.join(path, "_DONE"), "w").close()


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo), np.datetime64(hi)
    d = a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    """Random texts over VOCAB; ~5% copy an earlier text plus a trailing
    ``dup`` token and ~0.2% copy one verbatim."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))] + (" dup" if r < 0.05 else ""))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(size=(10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    x = 0.6 * centers[label] + rng.normal(scale=1 / np.sqrt(EMB_DIM), size=(n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables at scale factor ``sf`` (0.01 ~ 60K lineitem)."""
    if _done(out_dir):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = lambda a: a.astype(np.int32)  # noqa: E731
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _ids("Customer", n_cust),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _ids("Supplier", n_supp),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts,
        "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, max(int(50_000 * sf), 500)))
    _write(out_dir, "embeddings", _embeddings(rng, max(int(20_000 * sf), 500)))
    _finish(out_dir)
    return out_dir


def warehouse_day(base_dir: str, day_dir: str, day: int, seed: int, n_changed: int, n_new_orders: int):
    """Write day ``day`` of the feed and return the cells planted since
    the previous day as a set of (SALE_ID, column) pairs.

    Changes accumulate: day d is day d-1 with ``n_changed`` further sale
    ids edited (each in exactly one column) and ``n_new_orders`` orders
    (one line each) appended. Only sale ids whose (orderkey, linenumber)
    is unique are edited, because the warehouse keeps one line per
    SALE_ID and a duplicated id would make the expected diff depend on
    which copy survives.
    """
    line = pq.read_table(os.path.join(base_dir, "lineitem.parquet")).to_pydict()
    orders = pq.read_table(os.path.join(base_dir, "orders.parquet")).to_pydict()
    sale = np.array(line["l_orderkey"], dtype=np.int64) * 10 + np.array(line["l_linenumber"])
    uniq, first, counts = np.unique(sale, return_index=True, return_counts=True)
    candidates = np.sort(first[counts == 1])
    rng = np.random.default_rng([seed, 7])
    order = rng.permutation(candidates)
    n_ord0 = len(orders["o_orderkey"])
    n_cust = pq.read_metadata(os.path.join(base_dir, "customer.parquet")).num_rows
    n_part = pq.read_metadata(os.path.join(base_dir, "part.parquet")).num_rows
    n_supp = pq.read_metadata(os.path.join(base_dir, "supplier.parquet")).num_rows
    planted: set = set()
    for d in range(1, day + 1):
        drng = np.random.default_rng([seed, d])
        rows = order[(d - 1) * n_changed : d * n_changed]
        planted = set()
        for r in rows:
            sid = f"SL{int(sale[r]):09d}"
            if drng.random() < 0.5:
                q = line["l_quantity"][r]
                line["l_quantity"][r] = float(q % 50 + 1)  # always a different value in 1..50
                planted.add((sid, "QUANTITY"))
            else:
                line["l_discount"][r] = round((round(line["l_discount"][r] * 100) + 1) % 11 / 100, 2)
                planted.add((sid, "DISCOUNT"))
        start = n_ord0 + (d - 1) * n_new_orders
        keys = list(range(start, start + n_new_orders))
        dates = _days(drng, "2001-08-02", "2001-11-04", n_new_orders)
        orders["o_orderkey"] += keys
        orders["o_custkey"] += drng.integers(0, n_cust, n_new_orders).tolist()
        orders["o_orderstatus"] += drng.choice(["P", "O", "F"], n_new_orders).tolist()
        orders["o_totalprice"] += _money(drng, 1000, 500_000, n_new_orders).tolist()
        orders["o_orderdate"] += dates.tolist()
        orders["o_orderpriority"] += drng.choice(PRIORITIES, n_new_orders).tolist()
        line["l_orderkey"] += keys
        line["l_partkey"] += drng.integers(0, n_part, n_new_orders).tolist()
        line["l_suppkey"] += drng.integers(0, n_supp, n_new_orders).tolist()
        line["l_linenumber"] += [1] * n_new_orders
        line["l_quantity"] += drng.integers(1, 51, n_new_orders).astype(float).tolist()
        line["l_extendedprice"] += _money(drng, 900, 105_000, n_new_orders).tolist()
        line["l_discount"] += (drng.integers(0, 11, n_new_orders) / 100).tolist()
        line["l_tax"] += (drng.integers(0, 9, n_new_orders) / 100).tolist()
        line["l_returnflag"] += drng.choice(["A", "N", "R"], n_new_orders).tolist()
        line["l_linestatus"] += drng.choice(["F", "O"], n_new_orders).tolist()
        line["l_shipdate"] += dates.tolist()
    if not _done(day_dir):
        shutil.rmtree(day_dir, ignore_errors=True)
        os.makedirs(day_dir)
        for name in BASE_ONLY:
            shutil.copyfile(os.path.join(base_dir, f"{name}.parquet"), os.path.join(day_dir, f"{name}.parquet"))
        schema = pq.read_schema(os.path.join(base_dir, "lineitem.parquet"))
        pq.write_table(pa.Table.from_pydict(line, schema=schema.remove_metadata()), os.path.join(day_dir, "lineitem.parquet"))
        schema = pq.read_schema(os.path.join(base_dir, "orders.parquet"))
        pq.write_table(pa.Table.from_pydict(orders, schema=schema.remove_metadata()), os.path.join(day_dir, "orders.parquet"))
        _finish(day_dir)
    return planted
