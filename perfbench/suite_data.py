"""Seeded generator for the query suite's input tables.

Writes the ten parquet tables the query catalog reads (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) with the column
names, types and value distributions of the project's reference test data, at
any scale factor. Row counts per unit of scale factor match the reference
(``lineitem`` has 6M rows per sf). Columns are independent draws, as in the
reference data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000   # 1995-01-01
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01


def _days(rng, n, first_day: int, n_days: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, n_days, size=n)) * _DAY_US
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys], pa.string())


def _pick(rng, choices, n, p=None) -> pa.Array:
    return pa.array(np.array(choices, dtype=object)[rng.choice(len(choices), size=n, p=p)],
                    pa.string())


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all tables under ``out_dir``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(_P_ADJ, dtype=object)[rng.integers(0, len(_P_ADJ), size=n_part)]
    noun = np.array(_P_NOUN, dtype=object)[rng.integers(0, len(_P_NOUN), size=n_part)]
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)], pa.string()),
        "p_type": _pick(rng, _P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(n_orders, dtype=np.int64)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, size=n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_orders, 0, 2404),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, size=n_line),
        "l_partkey": rng.integers(0, n_part, size=n_line),
        "l_suppkey": rng.integers(0, n_supp, size=n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, size=n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, size=n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, 1, 2498),
    })
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, size=n_events))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), size=n_events),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, size=n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
                          pa.string()),
    })
    vocab = np.array(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)])
             for k in rng.integers(10, 101, size=n_docs)]
    # ~5% near-duplicates: another document's text plus a marker token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
