"""Seeded generator of the ten tables the query plans read.

The layout follows the repository's test lake (TESTDATA.md): one Parquet
file per table (``<dir>/<table>.parquet``), one row group each, pyarrow
writer, snappy, microsecond NTZ timestamps. Row counts scale with ``sf`` the same way
(lineitem = 6M x sf); the text corpus keeps its 500-document floor and the
embedding table its 500-vector floor below sf0.1.

Value distributions follow that lake: uniform keys, two-decimal money
columns, a 30-word vocabulary with ~5% ``... dup`` near-duplicate documents,
and unit-norm 64-d embeddings with a weak 10-label structure. At sf0.01
every query of the benchmark's lists starts as many Spark jobs and stages as
it does on the test lake at sf0.1, so the size-dispatch and collect
branches are the same.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ubparquet_spark.io import DRIVER_TABLES

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rngs = {
        t: np.random.default_rng([seed, i]) for i, t in enumerate(DRIVER_TABLES)
    }
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = rngs["part"]
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": names[r.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[r.integers(0, len(_PTYPES), n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )

    r = rngs["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), r.integers(0, 2404, n_ord)),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = rngs["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n_ord, n_line),
            "l_partkey": r.integers(0, n_part, n_line),
            "l_suppkey": r.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _days(dt.date(1995, 1, 2), r.integers(0, 2498, n_line)),
        }
    )

    r = rngs["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n_ev))
    out["events"] = pa.table(
        {
            "event_id": _keys(n_ev),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": r.integers(0, n_users, n_ev),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )

    r = rngs["documents"]
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]
            texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": _keys(n_docs),
            "text": texts,
            "lang": np.array(_LANGS)[r.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    r = rngs["embeddings"]
    centers = r.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, 10, n_vecs)
    vecs = centers[labels] * 1.2 + r.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vecs),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_lake(out_dir: str, sf: float, seed: int) -> str:
    """Write the lake for (sf, seed) under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
