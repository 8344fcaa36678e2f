"""Seeded input generator for the benchmark.

Writes the parquet inputs of one seed: the TPC-H-style tables, the
event log, the document corpus and the embedding table that the
registered queries read.
The shapes follow ``tools/gen_fixtures.py`` (the queries' non-vacuity
relies on them); only the sizes are the smallest that generator allows,
so a run is dominated by per-job cost rather than by data volume:

  - lineitem 1..7 lines per order, shipdate = orderdate + 1..95 days
  - events: exponential(mean 50) value, 5 uniform types, 30 days of
    January 2024
  - documents: 10..100 words from the 30-token vocabulary, 5% carry
    the rare 'dup' token, 8 exact-duplicate pairs per 5k documents
  - embeddings: unit-norm float32 d=64 with 10 weak clusters

Nothing here is timed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
P_ADJ = "large hot blue green red small dark light shiny rusty".split()
P_NOUN = "ring bolt screw washer nut gear cog pin rod plate".split()
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
US_PER_DAY = 86_400_000_000

# table sizes (rows); lineitem follows from 1..7 lines per order
SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "events": 1000, "users": 150, "documents": 500, "embeddings": 500,
}


def _ts_us(base_iso: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(base_iso, "us")
    return pa.array(base + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def tables(seed: int, out_dir: str) -> None:
    """The ten registry tables for one seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = (
        SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    n_evt, n_user, n_doc, n_emb = (
        SIZES[k] for k in ("events", "users", "documents", "embeddings"))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
    }))
    pk = np.arange(n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{P_ADJ[i % 10]} {P_NOUN[(i // 10) % 10]}" for i in range(n_part)],
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }))

    ord_days = rng.integers(0, 2405, n_ord)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01T00:00:00", ord_days * US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))

    nlines = rng.integers(1, 8, n_ord)
    li_order = np.repeat(np.arange(n_ord), nlines)
    li_n = int(li_order.shape[0])
    qty = rng.integers(1, 51, li_n).astype(np.float64)
    ship_days = np.repeat(ord_days, nlines) + rng.integers(1, 96, li_n)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, li_n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, li_n), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in nlines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li_n), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, li_n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li_n), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li_n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li_n)]),
        "l_shipdate": _ts_us("1995-01-01T00:00:00", ship_days * US_PER_DAY),
    }))

    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts_us("2024-01-01T00:00:00", rng.integers(0, 30 * US_PER_DAY, n_evt)),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]),
    }))

    n_words = rng.integers(10, 101, n_doc)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        words = list(vocab[rng.integers(0, len(vocab), n_words[i])])
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
            if rng.random() < 0.02 and len(words) > 1:
                words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    n_pairs = max(1, int(round(n_doc * 8 / 5000)))
    dup_to = rng.choice(n_doc, size=n_pairs * 2, replace=False)
    for j in range(n_pairs):
        texts[int(dup_to[2 * j + 1])] = texts[int(dup_to[2 * j])]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_doc)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    d, a = 64, 0.135
    cent = rng.standard_normal((10, d))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb)
    vecs = a * cent[label] + rng.standard_normal((n_emb, d)) / np.sqrt(d)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }))

