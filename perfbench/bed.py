"""Seeded input bed for the benchmark: the two corpus tables the
LLM-data layers read, one parquet file each, ``<out>/<table>.parquet``,
with the engine's ``documents`` and ``embeddings`` schemas.

* ``documents`` — Zipf-Mandelbrot vocabulary (realistic postings
  lengths; a tiny vocabulary makes every query term match every doc),
  with injected exact duplicates and near-duplicates (a few tokens
  substituted) so the dedup layers have work to find.
* ``embeddings`` — Gaussian topics: each vector is its topic centre
  plus noise, so IVF cells and k-means clusters are meaningful.

Everything is generated with numpy from one ``default_rng(seed)``; the
same seed writes byte-identical files, which :func:`fingerprint`
checks.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 4000
# The most frequent ranks are real function words, so the stopword and
# language-marker rules of the text-quality gate see realistic ratios.
FUNCTION_WORDS = [
    "the", "and", "of", "to", "in", "a", "is", "it", "or", "an",
    "de", "la", "el", "que", "y", "der", "die", "und", "le", "les",
]
DIM = 64
TOPICS = 10
LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def doc_texts(rng, n: int, dup_share: float = 0.05, near_share: float = 0.05) -> list[str]:
    """``n`` Zipf-vocabulary texts; ``dup_share`` of them copy an earlier
    text verbatim, ``near_share`` copy one with ~5% of tokens replaced."""
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    probs = 1.0 / (ranks + 2.7) ** 1.07
    probs /= probs.sum()
    words = np.array(
        FUNCTION_WORDS + [f"w{i:04d}" for i in range(len(FUNCTION_WORDS), VOCAB)]
    )
    lengths = np.clip(rng.lognormal(np.log(40.0), 0.5, n).astype(int), 8, 200)
    toks = words[rng.choice(VOCAB, size=int(lengths.sum()), p=probs)]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [toks[bounds[i]:bounds[i + 1]] for i in range(n)]
    kind = rng.random(n)
    for i in range(1, n):
        src = int(rng.integers(0, i))
        if kind[i] < dup_share:
            texts[i] = texts[src]
        elif kind[i] < dup_share + near_share:
            t = texts[src].copy()
            hit = rng.random(len(t)) < 0.05
            t[hit] = words[rng.integers(0, VOCAB, int(hit.sum()))]
            texts[i] = t
    return [" ".join(t) for t in texts]


def write_documents(out: str, rng, n_docs: int) -> None:
    texts = doc_texts(rng, n_docs)
    ids = np.arange(n_docs, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embedding_rows(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, DIM], topic labels int32 [n])."""
    centres = rng.normal(0.0, 1.0, (TOPICS, DIM))
    labels = rng.integers(0, TOPICS, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(0.0, 0.6, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels


def write_embeddings(out: str, rng, n_vecs: int) -> None:
    vecs, labels = embedding_rows(rng, n_vecs)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write_bed(out: str, seed: int, n_docs: int, n_vecs: int) -> str:
    """Write both tables under ``out`` and return its fingerprint."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_documents(out, rng, n_docs)
    write_embeddings(out, rng, n_vecs)
    return fingerprint(out)


def fingerprint(out: str) -> str:
    """sha256 over every table file, in name order (first 16 hex)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
