"""Seeded synthetic tables for the benchmark.

The tables have the schema of the repository's synthetic TPC-H-like star
schema (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), so the registry queries in ``__spark_entry__.py``
and their DuckDB oracles run on them unchanged.

``generate(out_dir, seed, sf, copies, files)`` writes each table as a
directory ``<name>.parquet/`` of ``files`` parquet parts, which both Spark
and DuckDB (``<name>.parquet/*.parquet``) read as one table.  ``copies > 1``
applies the key-shifted replication recipe: every row is crossed with copy
numbers ``0..copies-1``, keys are shifted by ``copy * span`` (copy 0 keeps
the base keys, so fixed-key filters in the queries still select rows),
document token lists are rotated by ``copy`` positions and embeddings are
perturbed per copy.  Everything derives from ``seed``: the same arguments
write the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_EMB_DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class TableStats:
    rows: int
    bytes: int
    files: int


def base_sizes(sf: float) -> dict[str, int]:
    """Row counts of the base (copy 0) tables at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    d = rng.integers(0, span_days, n)
    return pa.array(_EPOCH_1995 + d * _DAY_US, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _base_tables(rng, sf: float) -> dict[str, dict]:
    """Column dicts (numpy or arrow arrays) of the copy-0 tables."""
    n = base_sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    users = max(5, round(15_000 * sf))
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": pa.array(_REGIONS)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc)}
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, _PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2)}
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _days(rng, no, 2404),
        "o_orderpriority": _pick(rng, _PRIORITIES, no)}
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US,
                               pa.timestamp("us"))}
    ne = n["events"]
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])}
    nd = n["documents"]
    docs = []
    for i in range(nd):
        toks = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), rng.integers(10, 100))]
        if rng.random() < 0.05:
            toks += ["dup"] * int(rng.integers(1, 3))
        docs.append(toks)
    for i in range(1, nd):
        if rng.random() < 0.002:  # a few exact duplicates of earlier docs
            docs[i] = list(docs[int(rng.integers(0, i))])
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "tokens": docs,
        "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)])}
    nv = n["embeddings"]
    v = rng.standard_normal((nv, _EMB_DIM)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "vectors": v / np.linalg.norm(v, axis=1, keepdims=True),
        "label": rng.integers(0, 10, nv).astype(np.int32)}
    return t


# key columns shifted by copy * span, grouped by the table whose row count
# is the span (foreign keys shift with the key they reference)
_KEYS = {"customer": ["c_custkey", "o_custkey"],
         "supplier": ["s_suppkey", "l_suppkey"],
         "part": ["p_partkey", "l_partkey"],
         "orders": ["o_orderkey", "l_orderkey"],
         "events": ["event_id"],
         "documents": ["doc_id"],
         "embeddings": ["vec_id"]}
# tables that replicate; the small dimension tables stay as they are
_REPLICATED = ("customer", "supplier", "part", "orders", "lineitem", "events",
               "documents", "embeddings")


def _replicate(name: str, cols: dict, copies: int, sizes: dict, rng) -> dict:
    """Cross the rows with copies 0..copies-1 and shift keys per copy."""
    if copies == 1 or name not in _REPLICATED:
        return cols
    n = len(next(iter(cols.values())))
    copy = np.repeat(np.arange(copies), n)
    out = {}
    for c, v in cols.items():
        if isinstance(v, list):
            out[c] = v * copies
        elif isinstance(v, np.ndarray) and v.ndim == 2:
            out[c] = np.tile(v, (copies, 1))
        elif isinstance(v, pa.Array):
            out[c] = pa.concat_arrays([v] * copies)
        else:
            out[c] = np.tile(v, copies)
    for span_table, keys in _KEYS.items():
        for k in keys:
            if k in out:
                out[k] = out[k] + (copy * sizes[span_table]).astype(out[k].dtype)
    if name == "events":
        # each copy is a new user population over the same 30 days
        users = int(cols["user_id"].max()) + 1
        out["user_id"] = out["user_id"] + copy * users
    if name == "documents":
        out["tokens"] = [t[c % len(t):] + t[:c % len(t)]
                         for t, c in zip(out["tokens"], copy)]
    if name == "embeddings":
        v = out["vectors"] + (copy[:, None] > 0) * 0.05 * rng.standard_normal(
            out["vectors"].shape).astype(np.float32)
        out["vectors"] = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return out


def _to_arrow(name: str, cols: dict) -> pa.Table:
    if name == "documents":
        text = [" ".join(t) for t in cols["tokens"]]
        return pa.table({
            "doc_id": cols["doc_id"], "text": pa.array(text),
            "lang": cols["lang"], "source": cols["source"],
            "n_chars": np.array([len(s) for s in text], dtype=np.int64)})
    if name == "embeddings":
        v = cols["vectors"]
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)),
            pa.array(v.reshape(-1), pa.float32()))
        return pa.table({"vec_id": cols["vec_id"], "embedding": emb,
                         "label": cols["label"]})
    return pa.table(cols)


def generate(out_dir: str, seed: int, sf: float, copies: int = 1,
             files: int = 1, tables=TABLES) -> dict[str, TableStats]:
    """Write the seeded tables under ``out_dir``; return rows/bytes per table."""
    rng = np.random.default_rng(seed)
    base = _base_tables(rng, sf)
    sizes = base_sizes(sf)
    stats = {}
    for name in tables:
        table = _to_arrow(name, _replicate(name, base[name], copies, sizes, rng))
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        parts = max(1, min(files, table.num_rows // 1000)) if name in _REPLICATED else 1
        step = -(-table.num_rows // parts)
        size = 0
        for i in range(parts):
            path = os.path.join(tdir, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(i * step, step), path)
            size += os.path.getsize(path)
        stats[name] = TableStats(table.num_rows, size, parts)
    return stats
