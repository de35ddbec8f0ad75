"""Similarity search over embedding columns (array<float>).

  dot / cosine        the dense dot product and cosine Column expressions
                      (zip_with + aggregate, double accumulation), serving
                      q14/q15 and lsh_topk's re-rank (semantic linking
                      scores in numpy: linking.embedding_pairs)
  cosine_scores       (id, cos_sim) against a literal query vector; the
                      exact re-rank inside lsh_topk (q14/q15's brute-force
                      top-k is queries._topk_to_vec0 over ``cosine``)
  rp_lsh_buckets      random-hyperplane LSH signatures (deterministic,
                      PCG64-seeded plane matrix; ONE Arrow-batched numpy
                      matmul, not dim x n_planes expression nodes)
  lsh_topk            bucketed ANN: probe matching buckets only, exact
                      re-rank inside — the scale path

At 100 TB the brute-force scan is one full pass (fine for one-off queries,
wrong for query streams); rp_lsh assigns each vector to a signature bucket
so a query touches |bucket| << N vectors. Signature hamming-neighborhood
probing widens recall.

Plane generation note: an expression-tree signature (one Catalyst node per
plane x dim) blows up to ~12k nodes at dim=768 x 16 planes — codegen bails
and planning crawls. The signature is therefore computed in a single
vectorized pandas UDF: batch matrix (n, dim) @ plane matrix (dim, n_planes)
-> sign bits -> int64. The plane matrix is regenerated identically on every
executor from a fixed PCG64 seed (numpy's stream is stable across
platforms/versions by spec), so there is still zero shipped state.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Dense dot product of two array columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_scores(
    vectors: DataFrame, query: Sequence[float], round_digits: int | None = None
) -> DataFrame:
    """(vec_id, cos_sim) of ``vectors(vec_id, embedding)`` against a
    literal query vector (ships in the plan — an implicit broadcast).
    ``round_digits`` rounds the score BEFORE any downstream ordering —
    cross-engine comparisons (the DuckDB oracle gate) need ties decided on
    the rounded value, not last-ulp float noise."""
    qv = F.array(*[F.lit(float(x)) for x in query])
    score = cosine(F.col("embedding"), qv)
    if round_digits is not None:
        score = F.round(score, round_digits)
    return vectors.select(F.col("vec_id"), score.alias("cos_sim"))


PLANE_SEED = 0x5E11A


@lru_cache(maxsize=8)
def _plane_matrix(dim: int, n_planes: int) -> np.ndarray:
    """(dim, n_planes) gaussian hyperplane matrix from the fixed PCG64
    ``PLANE_SEED`` — identical on every executor, no broadcast needed (a
    few KB anyway)."""
    rng = np.random.Generator(np.random.PCG64(PLANE_SEED))
    return rng.standard_normal((dim, n_planes))


def rp_lsh_signature_np(vecs: np.ndarray, dim: int, n_planes: int = 16) -> np.ndarray:
    """Sign-projection signatures for a (n, dim) batch: bit i = (v . plane_i) >= 0.
    Shared by the executor UDF and the driver-side query-signature path."""
    planes = _plane_matrix(dim, n_planes)
    proj = vecs.astype(np.float64, copy=False) @ planes
    bits = (proj >= 0).astype(np.int64)
    weights = np.left_shift(np.int64(1), np.arange(n_planes, dtype=np.int64))
    return bits @ weights


def _signature_udf(dim: int, n_planes: int):
    @F.pandas_udf(T.LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        batch = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(rp_lsh_signature_np(batch, dim, n_planes))

    return _sig


def rp_lsh_buckets(vectors: DataFrame, dim: int, n_planes: int = 16) -> DataFrame:
    """(vec_id, embedding, bucket) — write-once index table, partitioned by
    bucket so a probe prunes partitions. One Arrow-batched matmul per
    partition; the plan carries a single projection node at any dim."""
    return vectors.select(
        F.col("vec_id"),
        F.col("embedding"),
        _signature_udf(dim, n_planes)(F.col("embedding")).alias("bucket"),
    )


def lsh_topk(
    indexed: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 16,
    probe_hamming: int = 2,
    round_digits: int | None = None,
) -> DataFrame:
    """ANN: restrict to buckets within ``probe_hamming`` bits of the query's
    signature, exact cosine re-rank inside. Recall/cost dial = n_planes x
    probe_hamming; ``probe_hamming == n_planes`` covers every signature, so
    recall is exactly 1.0 by construction (how the driver gate oracles this
    path against DuckDB's exact top-k, q36)."""
    import itertools

    # query signature computed driver-side with the same numpy path — no
    # one-row Spark job
    q_sig = int(
        rp_lsh_signature_np(
            np.asarray([query], dtype=np.float64), len(query), n_planes
        )[0]
    )
    probes = [q_sig]
    for r in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(n_planes), r):
            flipped = q_sig
            for b in bits:
                flipped ^= 1 << b
            probes.append(flipped)
    candidates = indexed.filter(F.col("bucket").isin(probes))
    return (
        cosine_scores(candidates, query, round_digits)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )

