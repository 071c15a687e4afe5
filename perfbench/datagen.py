"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables the catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``) with the
schemas, row counts and value domains of the repository's test fixtures
(TESTDATA.md): a TPC-H-ish star schema, an event stream sorted by time,
a text corpus over a 31-word vocabulary, and unit-norm 64-dim embeddings
with ten weakly clustered labels. The same seed always gives
byte-identical values; the program under test only ever sees the files.

The shape constants are measured on the fixtures, the largest sample
(sf0.1) where they are drawn at random:

- events per user: 66.7 at sf0.001, sf0.01 and sf0.1 (1000/15, 10000/150,
  100000/1500), so ``users = events * 0.015``;
- document language mix: 41.2% ``en``, 14.0-15.1% each of the four others
  at sf0.1 (5000 documents);
- near-duplicates: 4.86% of the documents at sf0.1 (4.8% at sf0.001) are
  an earlier document's text plus a ``dup`` token;
- the corpus is 500 documents at sf0.001 and sf0.01 and 5000 at sf0.1,
  so it does not shrink below 500.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0 (the fixtures' sf1 shape); documents and
#: embeddings do not shrink below MIN_CORPUS, as in the fixtures
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
MIN_CORPUS = 500
#: share of documents drawn as near-duplicates (a draw of the document
#: itself is skipped, so slightly fewer result)
NEAR_DUP_P = 0.05

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_PART_ADJ = "red small hot old large blue cold big".split()
_PART_NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
_PART_TYPES = "MEDIUM STANDARD LARGE PROMO SMALL ECONOMY".split()
_SEGMENTS = "MACHINERY FURNITURE BUILDING AUTOMOBILE HOUSEHOLD".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, n_days, n) * _DAY_US).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _dimensions(out_dir: str, rng: np.random.Generator, n: dict) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": list(rng.choice(_SEGMENTS, c)),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, p), rng.choice(_PART_NOUN, p))]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": list(rng.choice(_PART_TYPES, p)),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })


def _facts(out_dir: str, rng: np.random.Generator, n: dict) -> None:
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], o)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, o), pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(_PRIORITIES, o)),
    })
    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": list(rng.choice(["R", "A", "N"], li)),
        "l_linestatus": list(rng.choice(["O", "F"], li)),
        "l_shipdate": pa.array(_days("1995-01-02", 2499, rng, li), pa.timestamp("us")),
    })
    e = n["events"]
    users = max(10, round(e * 0.015))
    gaps = rng.exponential(30 * _DAY_US / e, e).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, e), pa.int64()),
        "event_type": list(rng.choice(_EVENT_TYPES, e)),
        "value": np.round(rng.exponential(49.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })


def _corpus(out_dir: str, rng: np.random.Generator, n_docs: int) -> None:
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < NEAR_DUP_P):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_docs, 64)) + 1.2 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row count per
    generated fact/dimension table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(5, int(round(rows * scale))) for t, rows in BASE_ROWS.items()}
    n["corpus"] = max(MIN_CORPUS, int(round(50_000 * scale)))
    _dimensions(out_dir, rng, n)
    _facts(out_dir, rng, n)
    _corpus(out_dir, rng, n["corpus"])
    return n
