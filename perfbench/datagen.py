"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the
column names, types and value domains of the engine's testdata star
schema, so every registered query runs unchanged against them. Row
counts scale with ``sf`` the way the testdata's do (lineitem ~6M rows
per unit of sf, events 1M, documents and embeddings with a floor of
500).

The tables are a pure function of ``(sf, DATA_SEED)`` and this file:
the benchmark's ``--seed`` never reaches this module, so every run of
every workload reads byte-for-byte the same inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_after(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_orders = max(1, int(1_500_000 * sf))
    n_lines = 4 * n_orders
    n_events = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days_after(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": _days_after(rng, "1995-01-02", 2499, n_lines),
        }
    )
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # One document in twenty is an earlier document plus a " dup" suffix:
    # the near-duplicate signal the dedup and quality operators look for.
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, N_LABELS, n_vecs)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def ensure_data(root: str, sf: float) -> str:
    """Return ``<root>/sf<sf>-<digest>``, generating the tables there first
    if a complete copy is absent. The digest is this file's SHA-256, so an
    edit to the generator or to ``DATA_SEED`` builds new tables instead of
    reusing old ones. The build goes to a temporary sibling and is renamed
    into place, so an interrupted build is never read."""
    with open(__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(root, f"sf{sf:g}-{digest}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = f"{out}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out

