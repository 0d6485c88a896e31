"""Seeded input fixtures for the benchmark.

The engine synthesizes its `pages` corpus from a `documents.parquet`
fixture (dedup.synth.make_corpus) and its vector operators read an
`embeddings.parquet` fixture. A checkout carries neither, so the
benchmark writes both from `--seed`, with the shape measured on the
repository's sf fixtures (FIXTURES.md section A; sf0.1 has 5,000 docs):

- text: 10-99 words drawn uniformly from a 30-word vocabulary;
- exactly 5% of the docs are then overwritten, one after another, by the
  text of another random doc plus " dup". These are the fixtures' planted
  shared prefixes; a copy of a copy makes the odd exact duplicate;
- lang: en 41%, zh/es/fr 15% each, de 14%; source: src0..src19 by doc_id;
- embeddings: unit-norm 64-d float32 Gaussian vectors, 10 labels.

Sizes are fixed (perfbench/workloads.py); the seed only changes content.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DIM = 64


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)])
             for k in rng.integers(10, 100, size=n_docs)]
    for i in rng.choice(n_docs, size=n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(n_vecs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 1)
    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(v),
            "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
        }
    )


def write_fixtures(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    documents(n_docs, seed).to_parquet(os.path.join(sf_dir, "documents.parquet"))
    embeddings(n_vecs, seed).to_parquet(os.path.join(sf_dir, "embeddings.parquet"))
