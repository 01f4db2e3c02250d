"""Seeded inputs for the benchmark: fixture tables and loader input files.

The program sees only what this module writes.  ``write_tables`` writes
the ten parquet tables the registered queries read (same names, column
types and value domains as the engine's test fixtures), scaled by ``sf``.
``write_event_files`` writes ``events``-shaped JSON lines, the payload a
Kafka topic would carry, one file per topic partition.  The same seed
always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EPOCH_2024_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
HOUR_US = 3600 * 1_000_000


def _ts_us(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return days * 86_400_000_000


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def event_columns(rng: np.random.Generator, n: int, first_id: int, start_us: int,
                  span_us: int, n_users: int) -> dict:
    """``n`` events with ids from ``first_id``, ts sorted and spread evenly
    over ``[start_us, start_us + span_us)``."""
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(200, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_t = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(0, 10_000, n_supp), 2),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(0, 10_000, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    adjectives = ["small", "large", "red", "blue", "hot", "old", "cold", "new"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_part),
                                               rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts_us(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts_t), ("o_orderpriority", s)]))
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us(rng, "1995-01-02", "2001-11-04", n_line),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts_t)]))
    ev = event_columns(rng, n_ev, 0, EPOCH_2024_US, 30 * 24 * HOUR_US, max(10, n_cust // 10))
    _write(out_dir, "events", ev, pa.schema([
        ("event_id", i64), ("ts", ts_t), ("user_id", i64), ("event_type", s),
        ("value", f64), ("props", s)]))

    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                  ("n_chars", i64)]))
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64)) * 0.25
    vecs = centroids[labels] + rng.normal(0, 1, (n_emb, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                  ("label", i32)]))
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


def write_event_files(out_dir: str, ev: dict, n_files: int, prefix: str) -> list[str]:
    """Write events as JSON lines over ``n_files`` files, the way a topic
    with ``n_files`` partitions keyed by ``user_id`` would deliver them.
    Files are written under a dot-name and renamed, so a file-source
    listing never sees a partial file."""
    os.makedirs(out_dir, exist_ok=True)
    part = ev["user_id"] % n_files
    lines = [
        json.dumps({
            "event_id": int(ev["event_id"][i]), "ts": int(ev["ts"][i]),
            "user_id": int(ev["user_id"][i]), "event_type": str(ev["event_type"][i]),
            "value": float(ev["value"][i]), "props": ev["props"][i],
        }) for i in range(len(ev["event_id"]))
    ]
    paths = []
    for p in range(n_files):
        final = os.path.join(out_dir, f"{prefix}-{p:02d}.json")
        tmp = os.path.join(out_dir, f".{prefix}-{p:02d}.json.tmp")
        with open(tmp, "w") as fh:
            fh.writelines(lines[i] + "\n" for i in np.flatnonzero(part == p))
        os.replace(tmp, final)
        paths.append(final)
    return paths
