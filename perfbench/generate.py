"""Seeded input generators for the benchmark.

Every input is a pure function of the seed: the same seed writes the same
bytes, another seed writes other data of the same shape and size, so the
work per op is the same across seeds while the contents vary.

* ``write_corpus`` writes a ``documents.parquet`` with the fixture schema
  (doc_id, text, lang, source, n_chars). Tokens follow a Zipf(s=1) law
  over a fixed vocabulary whose two most frequent words are the curate
  stopwords ``the`` and ``a``. It plants every outcome of the curate
  funnel: quality failures (too short, too long, stopword-heavy), exact
  duplicates and near-duplicates of earlier documents.
* ``write_vectors`` writes an ``embeddings.parquet`` of unit-norm float32
  vectors drawn around random cluster centres, loose enough that an IVF
  index probing a few lists misses some true neighbours.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20

# Share of documents planted per kind; the rest are ordinary documents.
KIND_SHARES = {
    "short": 0.03,  # < 20 tokens: quality failure
    "long": 0.03,  # > 80 tokens: quality failure
    "stopword": 0.04,  # stopword ratio >= 0.3: quality failure
    "exact": 0.08,  # verbatim copy of an earlier ordinary document
    "near": 0.08,  # earlier ordinary document with two tokens replaced
}


def vocabulary(size: int) -> list[str]:
    """``the``, ``a`` and then ``size - 2`` distinct lowercase words."""
    letters = "bcdfghjklmnpqrstvwxz"
    vowels = "aeiou"
    words = list(STOPWORDS)
    i = 0
    while len(words) < size:
        n, w = i, ""
        while True:
            w += letters[n % 20] + vowels[(n // 20) % 5]
            n //= 100
            if n == 0:
                break
        words.append(w)
        i += 1
    return words


def _zipf_probs(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1)
    return p / p.sum()


def corpus_texts(seed: int, n_docs: int, vocab_size: int) -> list[str]:
    """The texts of ``n_docs`` generated documents."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(vocabulary(vocab_size))
    probs = _zipf_probs(vocab_size)
    kinds_all = list(KIND_SHARES) + ["plain"]
    shares = list(KIND_SHARES.values())
    shares.append(1.0 - sum(shares))
    kinds = rng.choice(len(kinds_all), size=n_docs, p=shares)
    texts: list[str] = []
    plain: list[list[str]] = []

    def draw(n: int) -> list[str]:
        return list(words[rng.choice(vocab_size, size=n, p=probs)])

    for k in kinds:
        kind = kinds_all[k]
        if kind in ("exact", "near") and not plain:
            kind = "plain"
        if kind == "short":
            toks = draw(int(rng.integers(5, 20)))
        elif kind == "long":
            toks = draw(int(rng.integers(81, 120)))
        elif kind == "stopword":
            n = int(rng.integers(25, 70))
            n_stop = int(np.ceil(0.45 * n))
            toks = draw(n - n_stop) + list(rng.choice(STOPWORDS, size=n_stop))
            rng.shuffle(toks)
        elif kind == "exact":
            toks = list(plain[int(rng.integers(len(plain)))])
        elif kind == "near":
            toks = list(plain[int(rng.integers(len(plain)))])
            for pos in rng.choice(len(toks), size=2, replace=False):
                toks[pos] = words[int(rng.integers(2, vocab_size))]
        else:
            toks = draw(int(rng.integers(20, 81)))
            plain.append(toks)
        texts.append(" ".join(toks))
    return texts


def write_corpus(path: str, seed: int, n_docs: int, vocab_size: int) -> str:
    """Write ``documents.parquet`` under directory ``path``; return the file."""
    texts = corpus_texts(seed, n_docs, vocab_size)
    rng = np.random.default_rng([seed, 2])
    langs = rng.choice(LANGS, size=n_docs, p=LANG_WEIGHTS)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "documents.parquet")
    pq.write_table(table, out)
    return out


def vectors(
    seed: int, n: int, dim: int, n_clusters: int, spread: float
) -> tuple[np.ndarray, np.ndarray]:
    """(vectors, cluster ids): ``n`` unit-norm float32 vectors around
    ``n_clusters`` random unit centres; ``spread`` is the noise norm
    relative to the centre's."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    noise = rng.standard_normal((n, dim)) * (spread / np.sqrt(dim))
    labels = rng.integers(n_clusters, size=n)
    v = centres[labels] + noise
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def write_vectors(
    path: str, seed: int, n: int, dim: int, n_clusters: int, spread: float
) -> str:
    """Write ``embeddings.parquet`` (vec_id, embedding, label) under
    directory ``path``; return the file."""
    v, labels = vectors(seed, n, dim, n_clusters, spread)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "embeddings.parquet")
    pq.write_table(table, out)
    return out
