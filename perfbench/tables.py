"""Seeded star-schema and extension tables for the ``query_mix`` workload.

Same table names, column names and parquet types as the tables the
registry queries read (``schemas.TESTDATA_TABLES``); row counts follow
the TPC-H ratios at scale factor ``sf`` (sf 0.01 → 60,000 lineitem rows).
Values are drawn from simple uniform distributions; documents include
near-duplicates and embeddings carry a weak cluster per label, so the
dedup and ANN queries have something to find.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def _days(start: datetime.date, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(100, int(50_000 * sf))
    n_users = max(20, int(15_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
    }))
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new"])
    noun = np.array(["bolt", "gear", "anvil", "widget", "rod", "ring", "plate"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 7, n_part)], " "),
            noun[rng.integers(0, 7, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(retail, f64),
    }))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
        "o_orderdate": _days(datetime.date(1995, 1, 1), 2404, rng, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }))
    qty = rng.integers(1, 51, n_line).astype(float)
    partkey = rng.integers(0, n_part, n_line)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(datetime.date(1995, 1, 2), 2498, rng, n_line),
    }))
    ev_types = np.array(["click", "signup", "error", "view", "purchase"])
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)
    ).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.exponential(60.0, n_ev) + 0.01, 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.05:
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15 / 8, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0 / 8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
