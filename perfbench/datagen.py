"""Seeded synthetic inputs for the contract queries and corpus prep.

The tables the timed contract queries read (``orders``, ``customer``,
``documents``, ``embeddings``) follow the shapes and value distributions
of the repository's reference test data: the same columns, types,
domains and row counts per scale factor. Every table is
a pure function of ``(sf, seed)``, so one seed always yields the same
inputs, and the queries' DuckDB twins read exactly the files Spark does.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = (
    "a the data table column row key value part line customer order query "
    "scan filter join group sort hash merge agg window stream batch spark "
    "vector small big fast slow"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ["customer", "orders", "documents", "embeddings"]


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(n: int, seed: int) -> pd.DataFrame:
    """``n`` docs of 10-100 words over the 31-word vocabulary, with ~0.2%
    exact copies and ~1% one-word near-copies ("dup") of earlier docs."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in range(1, n):
        r = rng.random()
        if r < 0.002:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.012:
            src = texts[rng.integers(0, i)].split()
            src[rng.integers(0, len(src))] = "dup"
            texts[i] = " ".join(src)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def salted_documents(n: int, seed: int, clusters: int = 512) -> pd.DataFrame:
    """The documents corpus with every word suffixed by its doc's cluster
    id: ~31 x ``clusters`` distinct words, so near-duplicates exist only
    within a cluster, like near-dups in a web crawl."""
    d = documents(n, seed)
    cl = np.random.default_rng(seed + 1).integers(0, clusters, n)
    d["text"] = [" ".join(f"{w}_{c}" for w in t.split()) for t, c in zip(d["text"], cl)]
    d["n_chars"] = d["text"].str.len().astype(np.int64)
    return d


def embeddings(n: int, seed: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    """Unit-norm float32 vectors drawn around ``labels`` centroids."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] * 0.5 + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32),
    })


def order_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    return {
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
    }


def write_sf(out_dir: str, sf: float, seed: int) -> str:
    """Write every table in ``TABLES`` at scale ``sf`` as
    ``<out_dir>/<table>.parquet`` (the layout ``__spark_entry__`` queries
    and their oracles read)."""
    os.makedirs(out_dir, exist_ok=True)
    tables = order_tables(sf, seed)
    tables["documents"] = documents(max(int(50_000 * sf), 100), seed + 2)
    tables["embeddings"] = embeddings(max(int(500 * (sf / 0.01) ** 0.6), 50), seed + 3)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
