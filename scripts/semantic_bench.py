"""L4 semantic-LSH bench: candidate recall vs exact, wall vs vocab size.

Two arms (mirrors scripts/linking_bench.py for the TF-IDF path):

* RECALL — at vocab sizes where the numpy N² ground truth is cheap,
  compare `semantic_pairs_lsh` (whose emitted scores are exact, so its
  pair set is a subset of exact) against the blocked-matmul exact pair
  set at the gate thresholds, for the old 4x4 and new 8x4 band defaults.
* SCALE — LSH-only wall time at 40k/100k norms (the regime the exact
  O(N²) path cannot touch), default bands.

Run serially (no concurrent Spark jobs — BENCH.md JVM-bandwidth note).
Usage: PYTHONPATH=/root/repo python scripts/semantic_bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.functions.embed import embed_batch
from named_entity_algorithm_project_spark.operators.linking import (
    semantic_pairs_lsh,
)
from named_entity_algorithm_project_spark.session import get_spark
from scripts.linking_bench import build_vocab

DIM = 64
#: a score within EPS of a threshold counts as reaching it: the numpy
#: matmul and Spark's per-pair dot sum in different orders
EPS = 1e-12


def exact_pairs(norms: list, threshold: float) -> dict:
    """Blocked numpy matmul ground truth: {(a, b): cosine} for a<b with
    cosine >= t - EPS."""
    mat = embed_batch(norms, DIM)
    n = len(norms)
    out = {}
    block = 4096
    for i0 in range(0, n, block):
        sims = mat[i0 : i0 + block] @ mat.T
        ii, jj = np.nonzero(sims >= threshold - EPS)
        for di, j in zip(ii, jj):
            i = i0 + int(di)
            j = int(j)
            if i < j:
                out[(norms[i], norms[j])] = float(sims[di, j])
    return out


def at_least(scores: dict, t: float) -> set:
    return {k for k, s in scores.items() if s >= t - EPS}


def recall_arm(spark, n: int, thresholds=(0.80, 0.90)) -> list:
    norms = build_vocab(n, seed=5)
    exact = exact_pairs(norms, min(thresholds))
    truth = {t: at_least(exact, t) for t in thresholds}
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    rows = []
    for bands, band_bits in ((4, 4), (8, 4)):
        t0 = time.time()
        got = (
            semantic_pairs_lsh(df, dim=DIM, bands=bands, band_bits=band_bits)
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
    """Above ~40k norms the 4-bit bands block too weakly (candidate volume
    ~N²·bands/2^band_bits·1/2); the scale tier must raise band_bits and
    compensate with bands. 10x6 = 60 planes (under the 63-bit signature
    cap) holds ~0.95 predicted candidate recall at cosine 0.80 at ~1/13th
    the 8x4 candidate volume.

    KG_SEMANTIC_SCALE_RECALL=1 additionally measures recall against the
    blocked-numpy exact truth at the gate thresholds — ~130 GFLOP of BLAS
    and a ~3 GiB block at 100k norms, so it is opt-in (the r6 run
    validating the 10x6 tier at its design scale)."""
    norms = build_vocab(n, seed=5)
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    t0 = time.time()
    got = (
        semantic_pairs_lsh(df, dim=DIM, bands=bands, band_bits=band_bits)
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
        exact = exact_pairs(norms, 0.80)
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
