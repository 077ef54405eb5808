"""Deterministic synthetic source tables for the benchmark.

``generate(out_dir, seed, sf)`` writes one parquet file per table with
the schemas the engine reads (a TPC-H-like star schema plus the
``documents``, ``embeddings`` and ``events`` tables the LLM-pipeline and
streaming operators use). Row counts depend only on ``sf``; values
depend only on ``seed``, so the same seed always gives the same bytes
of data and the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]
ADJ = ["cold", "warm", "big", "tiny", "blue", "red", "shiny", "matte"]
NOUN = ["widget", "gadget", "bolt", "gear", "valve", "spring", "panel"]
VOCAB = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
EMBED_DIM = 64
N_CLUSTERS = 10


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "events": int(1_000_000 * sf),
    }


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so adding a table or a column
    # to one generator never shifts another table's values
    key = [int(b) for b in table.encode()]
    return np.random.default_rng(np.random.SeedSequence([seed, *key]))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng, start: dt.datetime, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def customer_table(seed: int, sf: float) -> pa.Table:
    n = sizes(sf)["customer"]
    rng = _rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    rng = _rng(seed, "nation")
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": rng.integers(0, 5, 25).astype(np.int32),
    })
    pq.write_table(customer_table(seed, sf), os.path.join(out_dir, "customer.parquet"))

    rng = _rng(seed, "supplier")
    s_keys = np.arange(n["supplier"], dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": s_keys,
        "s_name": [f"Supplier#{k:09d}" for k in s_keys],
        "s_nationkey": rng.integers(0, 25, len(s_keys)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(s_keys)),
    })

    rng = _rng(seed, "part")
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, len(ADJ), np_), rng.integers(0, len(NOUN), np_))
        ],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, np_), rng.integers(1, 6, np_))],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, np_),
    })

    rng = _rng(seed, "orders")
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 450_000.0, no),
        "o_orderdate": _timestamps(rng, dt.datetime(1992, 1, 1), 2500, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    rng = _rng(seed, "lineitem")
    nl = n["lineitem"]
    l_order = np.sort(rng.integers(0, no, nl)).astype(np.int64)
    # line numbers restart at 1 within each order (l_order is sorted)
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    line = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": line.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _timestamps(rng, dt.datetime(1992, 1, 2), 2620, nl),
    })

    rng = _rng(seed, "documents")
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        # ~5% planted near-duplicates: an earlier document plus a
        # trailing marker token (Jaccard over 3-gram shingles >= 0.89)
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    rng = _rng(seed, "embeddings")
    ne = n["embeddings"]
    centers = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, ne)
    noise = rng.normal(size=(ne, EMBED_DIM)) * (0.35 / np.sqrt(EMBED_DIM))
    vecs = centers[labels] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    rng = _rng(seed, "events")
    nv = n["events"]
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, nv)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(nv, dtype=np.int64),
        "ts": pa.array(start + offs, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, nv // 66), nv).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, nv)],
        "value": np.round(rng.exponential(50.0, nv), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nv)],
    })
    return n
