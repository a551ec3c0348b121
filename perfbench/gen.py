"""Seeded benchmark inputs.

Every input the benchmark feeds the engine is made here from the run's
``--seed``: the same seed gives byte-identical parquet files and the
same CDC statements.  Shapes follow the engine's fixture schemas
(FIXTURES.md): a 30-word lowercase vocabulary, 10-100 words per
document, one document in twenty a copy of an earlier one with a
trailing ``dup`` token, and unit-norm 64-d float32 embeddings with ten
labels.  Sizes, document lengths, duplicate positions and the counts per
language and per label are fixed, so every seed asks the engine for the
same amount of work (the same tokens, the same near-duplicate clusters)
and only which words, keys and vectors go where differs.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
#: every DUP_EVERY-th document copies the one DUP_LAG places before it
DUP_EVERY, DUP_LAG = 20, 7


def write_corpus(out_dir: Path, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet``."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[i - DUP_LAG] + " dup")
            continue
        # lengths 10..100 words, a fixed sequence over positions
        words = rng.choice(len(VOCAB), size=10 + (i * 37) % 91)
        texts.append(" ".join(VOCAB[w] for w in words))
    langs = [LANGS[j] for j, p in enumerate(LANG_P) for _ in range(round(p * n_docs))]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.permutation(langs[:n_docs]).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.permutation(np.arange(n_vecs) % N_LABELS).astype(np.int32)),
        }
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, out_dir / "documents.parquet")
    pq.write_table(emb, out_dir / "embeddings.parquet")


def cdc_tokens(seed: int, n: int) -> list[str]:
    """``n`` short seeded payload strings for CDC row images."""
    rng = np.random.default_rng(seed)
    return ["".join(VOCAB[w][0] for w in row) for row in rng.integers(0, len(VOCAB), (n, 8))]


def update_order(seed: int, n_keys: int) -> np.ndarray:
    """A seeded permutation of ``range(n_keys)``: which existing keys the
    backlog's and the paced phase's update statements touch, in order."""
    return np.random.default_rng(seed + 1).permutation(n_keys)
