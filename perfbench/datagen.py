"""Seeded generator for the benchmark's corpus tables.

Writes ``<table>.parquet`` for the ten tables the engine's dataset-dir
source and query fleet read (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings).  Row counts scale
linearly with ``sf`` (sf0.1 = 600k lineitem rows, 893k rows in all);
column types, value domains and key relationships follow the TPC-H-ish
corpus the fleet's oracles were written against.  The same (sf, seed)
always produces byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "big", "red", "blue", "green", "hot", "cold", "shiny",
             "matte", "heavy", "light", "smooth", "rough"]
_PART_NOUN = ["anvil", "widget", "bolt", "gear", "ring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a the data spark stream table row column key value join agg "
          "group sort hash window filter scan query batch line part order "
          "customer merge vector big small fast slow").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> pa.Array:
    """``n`` uniform midnight timestamps in [lo, hi] (microseconds)."""
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _cents(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _keyed(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()])


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(text),
        "lang": _pick(_LANGS, n, rng, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(n: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(sf: float, seed: int,
                only: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """Build the tables named in ``only`` in memory.  Each table draws
    from its own generator, so a subset has the same values as the
    full set."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 10)
    n_vecs = max(int(20_000 * sf), 10)

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS)})

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def customer(rng):
        ck = np.arange(n_cust, dtype=np.int64)
        return pa.table({
            "c_custkey": ck,
            "c_name": _keyed("Customer#", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": _pick(_SEGMENTS, n_cust, rng)})

    def supplier(rng):
        sk = np.arange(n_supp, dtype=np.int64)
        return pa.table({
            "s_suppkey": sk,
            "s_name": _keyed("Supplier#", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(-999.99, 9999.99, n_supp, rng)})

    def part(rng):
        pk = np.arange(n_part, dtype=np.int64)
        adj = np.asarray(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
        noun = np.asarray(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
        return pa.table({
            "p_partkey": pk,
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun).tolist()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(_PART_TYPES, n_part, rng),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})

    def orders(rng):
        return pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": _cents(1000.0, 500_000.0, n_ord, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": _pick(_PRIORITIES, n_ord, rng)})

    def lineitem(rng):
        return pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(900.0, 105_000.0, n_line, rng),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
            "l_linestatus": _pick(["F", "O"], n_line, rng),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)})

    def events(rng):
        start = (np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64) * _DAY_US
        ts = np.sort(start + rng.choice(30 * _DAY_US, n_ev, replace=False))
        return pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(_EVENT_TYPES, n_ev, rng),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    def documents(rng):
        return _documents(n_docs, rng)

    def embeddings(rng):
        return _embeddings(n_vecs, rng)

    build = {"region": region, "nation": nation, "customer": customer,
             "supplier": supplier, "part": part, "orders": orders,
             "lineitem": lineitem, "events": events, "documents": documents,
             "embeddings": embeddings}
    return {name: build[name](np.random.default_rng([seed, i]))
            for i, name in enumerate(TABLES) if name in only}


def write_tables(out_dir: str, sf: float, seed: int,
                 only: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write tables as ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed, only).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
