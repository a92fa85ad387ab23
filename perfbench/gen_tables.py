"""Seeded catalog tables for the ``catalog`` workload.

The tables have the schemas and value shapes of the repository's
TPC-H-ish test data (``region nation customer supplier part orders
lineitem events documents embeddings``), so every catalog query and its
DuckDB oracle run on them unchanged. The documents and embeddings are
then scaled by copies the way ``tools/make_sf_synth.py`` scales them:
copy ``i >= 1`` re-salts the ids and applies a per-copy substitution
cipher to the text (a bijection on characters, so the near-duplicate
pair graph of each copy is copy 0's) or Gaussian jitter to the vectors.
Cipher and jitter are seeded by the workload seed and the copy index.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ID_STRIDE = 10_000_000
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
EMB_DIM = 64
N_LABELS = 10


@dataclass(frozen=True)
class Sizes:
    """Row counts; the defaults follow the sf0.01 test data shape."""

    orders: int = 15_000
    customers: int = 1_500
    suppliers: int = 100
    parts: int = 2_000
    events: int = 10_000
    event_users: int = 150
    documents: int = 500  # per copy
    embeddings: int = 250  # per copy
    copies: int = 2


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def _relational(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(s.customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.customers), 2),
            "c_mktsegment": rng.choice(SEGMENTS, s.customers),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(s.suppliers), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(range(s.parts), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(PART_ADJ), s.parts),
                    rng.integers(0, len(PART_NOUN), s.parts),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
            "p_type": rng.choice(PART_TYPES, s.parts),
            "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 2),
        }
    )
    n = s.orders
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customers, n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(_dates(rng, n, "1992-01-01", 3500), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    m = 4 * n
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n, m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s.parts, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], m),
            "l_linestatus": rng.choice(["O", "F"], m),
            "l_shipdate": pa.array(_dates(rng, m, "1992-01-02", 3600), pa.timestamp("us")),
        }
    )
    k = s.events
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, k)
    ).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": pa.array(range(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s.event_users, k), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, k),
            "value": np.round(np.abs(rng.normal(100.0, 50.0, k)), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def _base_documents(rng: np.random.Generator, n: int) -> list[str]:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # 5% near-duplicates (a copy of an earlier doc plus one token) and a
    # few exact copies, the test data's duplicate structure
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def cipher_table(seed: int, copy_idx: int) -> dict[int, int]:
    """Case-aligned substitution cipher over [a-zA-Z0-9] for one copy."""
    rng = np.random.default_rng([seed, copy_idx])
    lower = list(string.ascii_lowercase)
    digits = list(string.digits)
    tbl: dict[int, int] = {}
    for a, b in zip(lower, rng.permutation(lower)):
        tbl[ord(a)] = ord(b)
        tbl[ord(a.upper())] = ord(b.upper())
    for a, b in zip(digits, rng.permutation(digits)):
        tbl[ord(a)] = ord(b)
    return tbl


def _documents(rng, seed: int, s: Sizes) -> pa.Table:
    base = _base_documents(rng, s.documents)
    langs = rng.choice(LANGS, s.documents, p=LANG_P)
    ids, texts, lang, source = [], [], [], []
    for c in range(s.copies):
        tbl = cipher_table(seed, c) if c else None
        for i, t in enumerate(base):
            ids.append(i + c * ID_STRIDE)
            texts.append(t.translate(tbl) if tbl else t)
            lang.append(langs[i])
            source.append(f"src{i * 5 // s.documents}")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": lang,
            "source": source,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, seed: int, s: Sizes) -> pa.Table:
    labels = rng.integers(0, N_LABELS, s.embeddings)
    centers = rng.normal(0.0, 0.07, (N_LABELS, EMB_DIM))
    x = centers[labels] + rng.normal(0.0, 0.125, (s.embeddings, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    mats, ids = [], []
    for c in range(s.copies):
        m = x
        if c:
            m = x + np.random.default_rng([seed, 1000 + c]).normal(0, 0.01, x.shape)
        mats.append(m.astype(np.float32))
        ids.append(np.arange(s.embeddings, dtype=np.int64) + c * ID_STRIDE)
    mat = np.concatenate(mats)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(mat.ravel(), pa.float32()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(np.tile(labels, s.copies), pa.int32()),
        }
    )


def generate(seed: int, sizes: Sizes = Sizes()) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = _relational(rng, sizes)
    tables["documents"] = _documents(rng, seed, sizes)
    tables["embeddings"] = _embeddings(rng, seed, sizes)
    return tables


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
