"""Seeded generator for the ten-table star schema the engine reads.

The tables have the column names, types and value domains of the
engine's parquet sources (TPC-H-ish dimensions and facts, an `events`
stream, a `documents` corpus and unit-norm 64-d `embeddings`). Row
counts follow the usual scale factor rules, so `sf=0.01` gives 15,000
orders and about 60,000 line items. The same `(sf, seed)` always
writes byte-identical files.

Each table is one parquet file `<out>/<name>.parquet`, the layout
`sources.tables.table_path` expects.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_ADJ = ["red", "blue", "hot", "cold", "small", "large", "old", "new"]
_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = ("a the key agg row scan slow fast table value part hash batch "
          "window spark order data column join small line customer query "
          "merge filter sort group stream big vector").split()
_EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> np.ndarray:
    days = rng.integers(0, (end - start).days + 1, n)
    return _us(start) + days * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def row_counts(sf: float) -> dict[str, int]:
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    return {
        "region": 5, "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": n_docs, "embeddings": n_docs,
    }


def _build(name: str, n: dict[str, int], rng) -> pa.Table:
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": _REGIONS})
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": keys,
                         "n_name": [f"NATION_{k}" for k in keys],
                         "n_regionkey": keys % 5})
    if name == "customer":
        k = np.arange(n["customer"], dtype=np.int64)
        return pa.table({
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, k.size, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k.size),
            "c_mktsegment": rng.choice(_SEGMENTS, k.size)})
    if name == "supplier":
        k = np.arange(n["supplier"], dtype=np.int64)
        return pa.table({
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, k.size, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k.size)})
    if name == "part":
        k = np.arange(n["part"], dtype=np.int64)
        return pa.table({
            "p_partkey": k,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, k.size),
                                                  rng.choice(_NOUN, k.size))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k.size)],
            "p_type": rng.choice(_PTYPES, k.size),
            "p_size": rng.integers(1, 51, k.size, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})
    if name == "orders":
        k = np.arange(n["orders"], dtype=np.int64)
        return pa.table({
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], k.size),
            "o_orderstatus": rng.choice(_STATUS, k.size),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, k.size),
            "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1),
                                     dt.datetime(2001, 8, 1), k.size)),
            "o_orderpriority": rng.choice(_PRIORITY, k.size)})
    if name == "lineitem":
        m = n["lineitem"]
        qty = rng.integers(1, 51, m).astype(np.float64)
        return pa.table({
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * rng.uniform(900.0, 2100.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2),
                                    dt.datetime(2001, 11, 4), m))})
    if name == "events":
        m = n["events"]
        start = _us(dt.datetime(2024, 1, 1))
        ts = np.sort(start + rng.integers(0, 30 * _DAY_US, m))
        return pa.table({
            "event_id": np.arange(m, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(10, n["events"] // 66), m),
            "event_type": rng.choice(_EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m) + 0.01, 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)]})
    if name == "documents":
        m = n["documents"]
        texts = []
        for i in range(m):
            if i % 12 == 11:
                # every 12th document is a near-duplicate of an earlier
                # one (one word swapped), so the dedup structures have a
                # seed-independent amount of work
                words = texts[int(rng.integers(0, i))].split()
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(_WORDS))
            else:
                words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
            texts.append(" ".join(words))
        return pa.table({
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, m, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        m = n["embeddings"]
        labels = rng.integers(0, 10, m, dtype=np.int32)
        centres = rng.normal(0.0, 1.0, (10, _EMB_DIM))
        vec = centres[labels] + rng.normal(0.0, 0.8, (m, _EMB_DIM))
        vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)
               ).astype(np.float32)
        return pa.table({
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": labels})
    raise KeyError(name)


def generate(out_dir: str, sf: float, seed: int,
             tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write the tables under `out_dir`; returns their row counts.
    Each table draws from its own stream, so a subset is identical to
    the same tables of a full generation."""
    os.makedirs(out_dir, exist_ok=True)
    n = row_counts(sf)
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        rng = np.random.default_rng([seed, i])
        pq.write_table(_build(name, n, rng),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {t: n[t] for t in tables}
