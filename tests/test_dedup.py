"""Dedup operators: fingerprint, Jaccard, SimHash (training-data ops)."""

import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.operators.dedup import (
    fingerprint,
    simhash,
    token_jaccard_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines completely different content about"),  # same token set as 3
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_jaccard_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in token_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert pairs[(3, 4)] == 1.0  # same token set, different order
    # near dup: 7 shared of 9 distinct tokens union -> jaccard 7/9
    assert pairs[(0, 2)] == pytest.approx(7 / 9)
    assert (0, 3) not in pairs


def test_simhash_properties(docs):
    fps = {r["doc"]: r["simhash"] for r in simhash(docs).collect()}
    assert fps[0] == fps[1] == fps[5]  # identical text, identical fingerprint
    assert fps[3] == fps[4]  # simhash is token-set based here (distinct tokens)
    # near-dup pair differs in few bits; fingerprints are signed 64-bit
    # longs, so mask each XOR to 64 bits before counting
    mask = (1 << 64) - 1
    ham_02 = bin((fps[0] ^ fps[2]) & mask).count("1")
    ham_03 = bin((fps[0] ^ fps[3]) & mask).count("1")
    assert ham_02 < ham_03


def test_fingerprint_normalization(spark):
    rows = [(0, "Hello   World"), (1, "hello world"), (2, "HELLO\n\nWORLD")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = [r["fp"] for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]
