"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` (and a size), so the
same seed gives byte-identical inputs on every run:

- ``classification``: a dense, class-separable float matrix in the
  shape of the shipped ``embeddings`` table (rows x 64, 10 classes);
- ``write_tables``: the star schema + ``events`` / ``documents`` /
  ``embeddings`` tables the query faces read, with the column names,
  types and value domains of the test data (TESTDATA.md), written as
  one parquet file per table.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 64
N_CLASSES = 10
CENTRES_SEED = 20240101


def classification(seed: int, rows: int, dim: int = DIM, n_classes: int = N_CLASSES):
    """Gaussian blobs around class centres; labels int64.

    The centres are fixed and the samples are drawn from ``seed``, so
    every seed gives a new sample of the same population: the models
    fitted and the work done per op stay alike from seed to seed.
    """
    centres = np.random.default_rng(CENTRES_SEED).normal(0.0, 1.0, size=(n_classes, dim))
    rng = np.random.default_rng(seed)
    y = rng.integers(0, n_classes, size=rows)
    X = centres[y] + rng.normal(0.0, 2.5, size=(rows, dim))
    return X.astype(np.float64), y.astype(np.int64)


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "red", "blue", "hot", "green", "large", "shiny", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "lever"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "es", "de", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# rows per table at scale 1.0 (the test data's sf0.01 sizes)
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}


def _ts(days_from_epoch: np.ndarray) -> np.ndarray:
    return days_from_epoch.astype("datetime64[D]").astype("datetime64[us]")


def make_tables(seed: int, scale: float = 1.0) -> dict:
    """Return {table: pyarrow.Table} for the whole catalog."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 10) for k, v in BASE_ROWS.items()}
    t: dict = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })

    npart = n["part"]
    adj = rng.integers(0, len(_ADJ), npart)
    noun = rng.integers(0, len(_NOUN), npart)
    price = 900.0 + (np.arange(npart) % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_TYPES[i] for i in rng.integers(0, len(_TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": price,
    })

    no = n["orders"]
    day0 = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
    span = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    odate = day0 + rng.integers(0, span + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(_ts(odate)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })

    lines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(lk)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(nl) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_ts(odate[lk] + rng.integers(1, 122, nl))),
    })

    ne = n["events"]
    step_us = (30 * 86400 * 10**6) // ne
    base_us = (np.datetime64("2024-01-01T00:00:00", "us")
               - np.datetime64("1970-01-01T00:00:00", "us")).astype(np.int64)
    ts = base_us + np.arange(ne, dtype=np.int64) * step_us + rng.integers(0, step_us, ne)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(25.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    centres = rng.normal(0.0, 1.0, (N_CLASSES, DIM))
    label = rng.integers(0, N_CLASSES, nv)
    vec = centres[label] + rng.normal(0.0, 7.0, (nv, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
