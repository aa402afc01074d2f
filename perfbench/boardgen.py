"""Seeded inputs for the ``operator_mix`` workload.

The board queries in ``__spark_entry__`` read three tables from an
``sf_dir``: ``events``, ``documents`` and ``embeddings``. This module
writes all three, with the same schemas and value ranges as the
repository's sf0.01 test tables, from one seed. The events span January
2024, which the realtime and range-stitch queries need (their frozen
watermark and stitch range are fixed dates inside that month).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
WORDS = np.array(
    "key agg row scan slow fast table value part hash batch window spark order "
    "data column join filter small large index cache query plan merge sort".split()
)
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_WEIGHTS = np.array([0.44, 0.15, 0.15, 0.14, 0.12])
_JAN_2024_US = 1_704_067_200_000_000
_MONTH_US = 30 * 86_400_000_000


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_JAN_2024_US + rng.integers(0, _MONTH_US, size=n))
    value = np.maximum(np.round(rng.exponential(50.0, size=n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        # every 10th document repeats an earlier one, so exact dedup has
        # groups of more than one
        if i >= 10 and i % 10 == 0:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), size=rng.integers(8, 90))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    # ten label clusters, unit-normalized float32 vectors
    centers = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, size=n)
    vecs = centers[label] + 0.8 * rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_board_tables(
    sf_dir: str,
    seed: int,
    n_events: int = 10_000,
    n_users: int = 150,
    n_docs: int = 500,
    n_vectors: int = 500,
) -> dict[str, int]:
    """Write ``events``/``documents``/``embeddings`` parquet files under
    ``sf_dir``; returns the row count of each table."""
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = {
        "events": _events(rng, n_events, n_users),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vectors),
    }
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
