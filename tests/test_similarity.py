"""Similarity search: brute-force cosine vs numpy oracle; LSH recall."""

import math
import random

import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.operators.similarity import (
    cosine_scores,
    lsh_topk,
    rp_lsh_buckets,
)

DIM = 8
N = 120


@pytest.fixture(scope="module")
def vectors():
    rng = random.Random(3)
    return [
        (i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(N)
    ]


@pytest.fixture(scope="module")
def vec_df(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vectors],
        "vec_id long, embedding array<float>",
    )


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def _exact_topk(vec_df, query, k):
    """Brute-force top-k: the score-then-order shape ``lsh_topk`` re-ranks
    its probed buckets with."""
    return (
        cosine_scores(vec_df, query)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def test_brute_force_matches_python(vec_df, vectors):
    query = vectors[0][1]
    # float32 storage: compare against the float32-rounded python oracle
    import numpy as np

    as_f32 = {i: np.array(v, dtype=np.float32).tolist() for i, v in vectors}
    expected = sorted(
        ((i, _cos(as_f32[i], [np.float32(x) for x in query])) for i in as_f32),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = _exact_topk(vec_df, [float(np.float32(x)) for x in query], 10).collect()
    assert [r["vec_id"] for r in got] == [i for i, _ in expected]
    for r, (_, score) in zip(got, expected):
        assert r["cos_sim"] == pytest.approx(score, abs=1e-5)


def test_lsh_topk_recall(vec_df, vectors):
    query = vectors[0][1]
    exact = {r["vec_id"] for r in _exact_topk(vec_df, query, 10).collect()}
    indexed = rp_lsh_buckets(vec_df, dim=DIM, n_planes=8)
    approx = {
        r["vec_id"]
        for r in lsh_topk(
            indexed, query, k=10, n_planes=8, probe_hamming=2
        ).collect()
    }
    # probing 8 planes at hamming<=2 covers 37/256 buckets; recall should
    # be decent but not perfect — require >= 0.5 on this seeded set
    assert len(exact & approx) >= 5
    # the query vector itself (vec_id 0) must be found
    assert 0 in approx


def test_lsh_buckets_highdim_matches_numpy(spark):
    """dim=768 x 16 planes: the signature must stay ONE vectorized UDF (an
    expression-tree form is ~12k Catalyst nodes and stalls planning) and
    must equal the numpy reference bit-for-bit."""
    import time

    import numpy as np

    from named_entity_algorithm_project_spark.operators.similarity import (
        rp_lsh_signature_np,
    )

    dim, n, n_planes = 768, 200, 16
    rng = np.random.Generator(np.random.PCG64(7))
    mat = rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    t0 = time.time()
    got = {
        r["vec_id"]: r["bucket"]
        for r in rp_lsh_buckets(df, dim=dim, n_planes=n_planes).collect()
    }
    wall = time.time() - t0
    # float32 storage round-trip: compare against signatures of the f32 data
    expected = rp_lsh_signature_np(
        mat.astype(np.float32).astype(np.float64), dim, n_planes
    )
    assert got == {i: int(expected[i]) for i in range(n)}
    assert wall < 30, f"high-dim signature took {wall:.1f}s — planning blowup?"
    # ANN probe end-to-end at high dim
    indexed = rp_lsh_buckets(df, dim=dim, n_planes=n_planes)
    top = lsh_topk(
        indexed, [float(x) for x in mat[0]], k=5, n_planes=n_planes,
        probe_hamming=1,
    ).collect()
    assert top and top[0]["vec_id"] == 0


def test_lsh_buckets_deterministic(vec_df):
    a = {r["vec_id"]: r["bucket"] for r in rp_lsh_buckets(vec_df, DIM, 8).collect()}
    b = {r["vec_id"]: r["bucket"] for r in rp_lsh_buckets(vec_df, DIM, 8).collect()}
    assert a == b
