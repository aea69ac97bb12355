"""Seeded input tables for the per-op query mix (the query leg of traced runs).

The per-op queries in ``__spark_entry__`` read four tables of a scale-factor
directory: ``lineitem``, ``documents``, ``embeddings`` and ``events``. This
module writes those four tables, with the columns and value ranges the
queries and their DuckDB oracles expect, as one parquet file each. Every
value is a pure function of the seed.

Summed floating-point columns hold dyadic rationals (multiples of 1/128 or
1/16), so every sum is exact in binary and the rounded aggregates agree
with the oracle whatever order Spark adds them in.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: rows per table: small, so each query's fixed per-job cost dominates, the
#: regime the workload is meant to measure
SIZES = {"lineitem": 6000, "documents": 300, "embeddings": 300, "events": 1000}

EMB_DIM = 64

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small big customer query "
    "stream group filter vector"
).split()
_LANGS = ("en", "de", "fr", "es", "it")
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")


def _lineitem(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lines = []
    order = 0
    while sum(lines) < n:
        lines.append(int(rng.integers(1, 8)))
        order += 1
    orderkey = np.repeat(np.arange(order), lines)[:n]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:n]
    days = rng.integers(0, 7 * 365, n)
    return pd.DataFrame(
        {
            "l_orderkey": orderkey.astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            # k/4 price times (32-j)/32 discount: a multiple of 1/128
            "l_extendedprice": rng.integers(3600, 400_000, n) / 4.0,
            "l_discount": rng.integers(0, 4, n) / 32.0,
            "l_tax": rng.integers(0, 3, n) / 32.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": (
                np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 80))))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(np.array(_LANGS), n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vecs = (rng.standard_normal((n, EMB_DIM)) * 0.125).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": (start + offsets.astype("timedelta64[us]")).astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": rng.choice(np.array(_EVENT_TYPES), n),
            "value": rng.integers(1, 8000, n) / 16.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


_MAKERS = {
    "lineitem": _lineitem,
    "documents": _documents,
    "embeddings": _embeddings,
    "events": _events,
}


def write_tables(sf_dir: str, seed: int) -> int:
    """Write the four tables under ``sf_dir``; returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for k, (name, make) in enumerate(_MAKERS.items()):
        rng = np.random.default_rng([seed, k])
        df = make(rng, SIZES[name])
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        total += os.path.getsize(path)
    return total
