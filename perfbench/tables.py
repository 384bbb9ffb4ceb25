"""Seeded `documents` and `embeddings` parquet tables, in the physical
layout of the engine's catalog (sources/catalog.py): the two tables the
`curate` queries read.

The make-up follows the shape of the engine's reference test data:
plain ASCII word texts of 10-100 words over a 31-word vocabulary, about
5% near-duplicates (an earlier text plus a trailing token) and a few
exact copies, five languages, twenty round-robin sources, and unit-norm
64-d float32 embeddings in ten weak label clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)
DIM = 64


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i and u < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i and u < 0.052:
            texts.append(texts[int(rng.integers(i))])
        else:
            words = rng.choice(len(VOCAB) - 1, size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.standard_normal((10, DIM))
    labels = rng.integers(10, size=n)
    vecs = rng.standard_normal((n, DIM)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write `documents.parquet` and `embeddings.parquet` under out_dir;
    the same seed writes the same rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
