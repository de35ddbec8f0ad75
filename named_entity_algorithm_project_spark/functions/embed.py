"""Deterministic stub embedder for entity norms (SURVEY §2.5 L4).

The reference's alternative linking path embeds unique entity norms with a
sentence-transformers MiniLM model and scores candidates by cosine over the
L2-normalized embeddings (app.py:3084-3110), feeding the SAME gate cascade
as the TF-IDF path (_build_cluster_maps). That model isn't in this
container and isn't deterministic across library versions, so the stub
embeds a norm as an L2-normalized bag of feature-hashed char n-grams
(blake2b bucket + sign hashing — the classic hashing trick): fully
deterministic everywhere, cheap, and string-similar norms (shared n-grams)
get high cosine — the geometry the linking gates need. A production
deployment swaps :func:`embed_batch` for a model forward pass; every piece
of Spark plumbing around it (the block-pair ``applyInPandas`` scorer,
gated edge union) is unchanged.
"""

from __future__ import annotations

import hashlib
from typing import List, Sequence

import numpy as np

from .ngrams import char_wb_ngrams

DEFAULT_EMBED_DIM = 64


def _gram_bucket_sign(gram: str, dim: int) -> tuple:
    h = int.from_bytes(
        hashlib.blake2b(gram.encode("utf-8"), digest_size=8).digest(), "big"
    )
    return (h >> 1) % dim, 1.0 if (h & 1) else -1.0


# Per-process (bucket, sign) memo: one gram->(bucket, sign) dict per dim.
# Corpora share a small distinct-gram set (char_wb 3-5 grams over a
# bounded alphabet: measured 626 distinct grams across 20k synthetic
# norms), so re-hashing every occurrence wastes over half the embed CPU
# (string-key memo measured 2.5x on the pure-Python loop, bit-identical
# output). Module state persists across Arrow batches in a reused Python
# worker — the same heavyweight-init-once pattern as the neural-model
# singleton. Keyed by dim, and each dim's memo is size-capped at
# _GRAM_CACHE_MAX grams as a safety valve; at the cap new grams are hashed
# directly (never evicted, never wrong).
_GRAM_CACHE: dict = {}
_GRAM_CACHE_MAX = 1 << 20


def embed_text(text: str) -> np.ndarray:
    """L2-normalized hashed n-gram vector for one string (zero vector for
    empty/gram-less input). ``DEFAULT_EMBED_DIM`` is read at call time."""
    dim = DEFAULT_EMBED_DIM
    cache = _GRAM_CACHE.get(dim)
    if cache is None:
        cache = _GRAM_CACHE.setdefault(dim, {})
    lookup = cache.get
    v = np.zeros(dim, dtype=np.float64)
    for gram in char_wb_ngrams(text or ""):
        bs = lookup(gram)
        if bs is None:
            bs = _gram_bucket_sign(gram, dim)
            if len(cache) < _GRAM_CACHE_MAX:
                cache[gram] = bs
        v[bs[0]] += bs[1]
    norm = float(np.linalg.norm(v))
    return v / norm if norm > 0 else v


def embed_batch(texts: Sequence[str]) -> np.ndarray:
    """(n, dim) matrix of embeddings — the model-swap point."""
    return np.stack([embed_text(t) for t in texts])


def cosine_matrix(texts: List[str]) -> np.ndarray:
    """N² numpy cosine over stub embeddings — the parity oracle's path
    (mirrors the reference's dense pytorch_cos_sim matrix, app.py:3098)."""
    mat = embed_batch(texts)
    return mat @ mat.T
