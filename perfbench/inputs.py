"""Seeded input generators. The engine only ever sees the files written
here; the same seed always writes the same bytes of data.

- :func:`write_sequences` — a sequences table ``(doc_id, tokens, n_tok,
  source)`` with a 20x long tail on 1% of docs, for the rollup workloads.
- :func:`write_operator_tables` — ``documents`` and ``embeddings`` in the
  shape of the sf0.01 fixtures in TESTDATA.md (31-word vocabulary, 5
  languages, 20 sources, 64-dim float32 vectors) with planted
  near-duplicates, for the operator suite.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ("web", "code", "books")


def _series(rng: np.random.Generator, n: int, family: int) -> np.ndarray:
    """One doc's tokens; four shapes so every feature sees real variance."""
    if family == 0:
        x = rng.integers(0, VOCAB, n)
    elif family == 1:
        x = np.round(rng.normal(VOCAB / 2, VOCAB / 8, n))
    elif family == 2:
        t = np.arange(n) * rng.uniform(0.005, 0.05)
        x = np.round(np.sin(t) * 2000 + VOCAB / 2 + rng.normal(0, 200, n))
    else:
        x = np.round(VOCAB / 2 + np.cumsum(rng.normal(0, 150, n)))
    return np.clip(x, 0, VOCAB - 1).astype(np.int32)


def write_sequences(path: str, seed: int, n_docs: int, mean_tok: int,
                    n_files: int) -> dict:
    """Write the corpus as ``n_files`` parquet files under ``path``.
    Returns ``{"docs", "tokens", "longtail": [doc_id, ...]}``."""
    rng = np.random.default_rng(seed)
    # the same multiset of lengths and shapes for every seed, so every
    # seed carries the same work; the seed picks order and content
    lens = np.linspace(mean_tok // 2, mean_tok * 3 // 2, n_docs).astype(int)
    lens[np.linspace(0, n_docs - 1, max(1, n_docs // 100)).astype(int)] *= 20
    order = rng.permutation(n_docs)
    lens = lens[order]
    longtail = np.nonzero(lens > 3 * mean_tok)[0]
    families = (np.arange(n_docs) % 4)[rng.permutation(n_docs)]
    ids = [f"s{seed}-{i:06d}" for i in range(n_docs)]
    toks = [_series(rng, int(lens[i]), int(families[i]))
            for i in range(n_docs)]
    src = [SOURCES[i % len(SOURCES)] for i in range(n_docs)]
    os.makedirs(path, exist_ok=True)
    for f, rows in enumerate(np.array_split(np.arange(n_docs), n_files)):
        table = pa.table({
            "doc_id": pa.array([ids[i] for i in rows], pa.string()),
            "tokens": pa.array([toks[i] for i in rows],
                               pa.list_(pa.int32())),
            "n_tok": pa.array([int(lens[i]) for i in rows], pa.int32()),
            "source": pa.array([src[i] for i in rows], pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    return {"docs": n_docs, "tokens": int(lens.sum()),
            "longtail": sorted(ids[i] for i in longtail)}


WORDS = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window join small customer query big "
         "order group column filter stream data vector").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def write_operator_tables(sf_dir: str, seed: int, n_docs: int,
                          n_vecs: int, dim: int = 64) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``sf_dir``.
    6% of docs are near-copies of an earlier doc (one to three words
    changed) and 2% of vectors are jittered copies of an earlier vector,
    so the dedup and near-duplicate operators have real matches."""
    rng = np.random.default_rng(seed)
    words = np.array(WORDS)
    # fixed multisets of lengths and of near-copies for every seed
    n_words = rng.permutation(np.linspace(8, 90, n_docs).astype(int))
    copies = set(rng.choice(np.arange(10, n_docs), n_docs * 6 // 100,
                            replace=False).tolist())
    texts = []
    for i in range(n_docs):
        if i in copies:
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                w[int(rng.integers(0, len(w)))] = str(rng.choice(words))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(words, n_words[i])))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 0.125, (n_vecs, dim)).astype(np.float32)
    for i in sorted(rng.choice(np.arange(10, n_vecs), n_vecs // 50,
                               replace=False)):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0, 0.002, dim).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
