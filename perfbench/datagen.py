"""Seeded synthetic source tables for the benchmark.

Writes the ten source tables the engine's ``register_views`` knows
(``region`` .. ``embeddings``) as one Parquet file each, with the same
column names and types as the repository's test data, so every workload
runs against data made from its own ``--seed`` and never reads outside
its checkout. Row counts scale with ``sf`` like TPC-H (lineitem is
6,000,000 x sf rows).

The generator is numpy + pyarrow only, so building the inputs starts no
Spark job and costs well under a second at the benchmark's sizes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "green", "small", "large", "shiny", "rusty", "tiny")
PART_NOUN = ("widget", "bolt", "ring", "anvil", "gear", "spring", "valve", "pipe")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window data column join small line customer query order group "
    "sort filter stream vector big"
).split()

#: first order date and the span (days) orders are spread over
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_SPAN_DAYS = 2404
#: events cover this many whole days from EVENT_EPOCH
EVENT_EPOCH = np.datetime64("2024-01-01", "D")
EVENT_DAYS = 30
EMBED_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(days: np.ndarray, epoch: np.datetime64, extra_us=None) -> pa.Array:
    us = (epoch + days.astype("timedelta64[D]")).astype("datetime64[us]")
    if extra_us is not None:
        us = us + extra_us.astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Write every source table under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2_000)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 50)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": retail,
    })
    odays = rng.integers(0, ORDER_SPAN_DAYS, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odays, ORDER_EPOCH),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line)
    lpk = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odays[lok] + rng.integers(1, 122, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": lpk.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ship, ORDER_EPOCH),
    })
    # events: evenly spread over EVENT_DAYS whole days, in ts order
    eday = np.sort(rng.integers(0, EVENT_DAYS, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(eday, EVENT_EPOCH, rng.integers(0, 86_400_000_000, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
        ),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_docs, "embeddings": n_vecs,
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words documents; about one in eight is a near-duplicate of an
    earlier one (one word changed), so dedup has clusters to collapse."""
    out: list[str] = []
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = out[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 90)))]
        out.append(" ".join(words))
    return out
