"""L4 semantic-LSH bench: candidate recall vs exact, wall vs vocab size.

Two arms (mirrors scripts/linking_bench.py for the TF-IDF path):

* RECALL — at vocab sizes where the N² ground truth is cheap, compare
  `semantic_pairs_lsh` (whose emitted scores are exact, so its pair set is
  a subset of exact) against the exact pair set of
  `linking.embedding_pairs` (the driver-local semantic scorer) at the gate
  thresholds, for the 4x4, 8x4 and 10x6 band dials.
* SCALE — LSH-only wall time at 40k/100k norms, above the local tier,
  at the default 10x6 dials.

Run serially (no concurrent Spark jobs — BENCH.md JVM-bandwidth note).
Usage: PYTHONPATH=/root/repo python scripts/semantic_bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.operators.linking import (
    embedding_pairs,
    semantic_pairs_lsh,
)
from named_entity_algorithm_project_spark.session import get_spark
from scripts.linking_bench import build_vocab

#: a score within EPS of a threshold counts as reaching it: the package
#: scorers' margin. Both scorers sum each pair in the same order, so a
#: pair they share carries the same bits.
EPS = 1e-9


def at_least(scores: dict, t: float) -> set:
    return {k for k, s in scores.items() if s >= t - EPS}


def recall_arm(spark, n: int, thresholds=(0.80, 0.90)) -> list:
    norms = build_vocab(n, seed=5)
    exact = embedding_pairs(norms, min(thresholds))
    truth = {t: at_least(exact, t) for t in thresholds}
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    rows = []
    for bands, band_bits in ((4, 4), (8, 4), (10, 6)):
        t0 = time.time()
        got = (
            semantic_pairs_lsh(df, bands=bands, band_bits=band_bits)
            .filter(F.col("score") >= min(thresholds) - EPS)
            .collect()
        )
        wall = time.time() - t0
        scores = {(r["a"], r["b"]): r["score"] for r in got}
        got_pairs = {t: at_least(scores, t) for t in thresholds}
        row = {
            "arm": "recall",
            "n_norms": n,
            "bands": bands,
            "band_bits": band_bits,
            "t_lsh_s": round(wall, 2),
        }
        for t in thresholds:
            assert got_pairs[t] <= truth[t], "LSH emitted a non-exact pair?!"
            row[f"exact_pairs_ge_{t}"] = len(truth[t])
            row[f"recall_at_{t}"] = (
                round(len(got_pairs[t]) / len(truth[t]), 4) if truth[t] else 1.0
            )
        rows.append(row)
        print(json.dumps(row), flush=True)
    return rows


def scale_arm(spark, n: int, bands: int = 10, band_bits: int = 6) -> dict:
    """At scale the 4-bit bands block too weakly (candidate volume
    ~N²·bands/2^band_bits·1/2); the scale tier must raise band_bits and
    compensate with bands. 10x6 = 60 planes (under the 63-bit signature
    cap) holds ~0.95 predicted candidate recall at cosine 0.80 at ~1/13th
    the 8x4 candidate volume.

    KG_SEMANTIC_SCALE_RECALL=1 additionally measures recall against the
    exact truth of `embedding_pairs` at the gate thresholds — ~130 GFLOP
    of BLAS at 100k norms, so it is opt-in (the r6 run validating the 10x6
    tier at its design scale)."""
    norms = build_vocab(n, seed=5)
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    t0 = time.time()
    got = (
        semantic_pairs_lsh(df, bands=bands, band_bits=band_bits)
        .filter(F.col("score") >= 0.8 - EPS)
        .collect()
    )
    row = {
        "arm": "scale",
        "n_norms": n,
        "bands": bands,
        "band_bits": band_bits,
        "t_lsh_s": round(time.time() - t0, 2),
        "pairs_ge_0.8": len(got),
    }
    if os.environ.get("KG_SEMANTIC_SCALE_RECALL"):
        exact = embedding_pairs(norms, 0.80)
        scores = {(r["a"], r["b"]): r["score"] for r in got}
        for t in (0.80, 0.90):
            truth = at_least(exact, t)
            got_pairs = at_least(scores, t)
            assert got_pairs <= truth, "LSH emitted a non-exact pair?!"
            row[f"exact_pairs_ge_{t}"] = len(truth)
            row[f"recall_at_{t}"] = (
                round(len(got_pairs) / len(truth), 4) if truth else 1.0
            )
    print(json.dumps(row), flush=True)
    return row


def main():
    arms = sys.argv[1:] or ["recall", "scale"]
    spark = get_spark(
        app_name="semantic-bench", master="local[8]", shuffle_partitions=16
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "recall" in arms:
        for n in (5_000, 20_000):
            recall_arm(spark, n)
    if "scale" in arms:
        for n in (40_000, 100_000):
            scale_arm(spark, n)
    spark.stop()


if __name__ == "__main__":
    main()
