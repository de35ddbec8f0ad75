"""Linking-stage scale bench: exact vs df-capped similarity join.

Measures the TF-IDF inverted-index similarity join (tfidf_weights +
similarity_pairs) over synthetic Zipf-ish vocabularies at growing sizes,
with and without the candidate_max_df prefix filter (the knob
build_linking_tables auto-enables above 50k norms at 5% of the vocabulary).

The join OUTPUT is quadratic in per-n-gram df, so the exact path's cost
grows superlinearly with vocabulary while the capped path stays near-linear
— this script produces the BENCH.md evidence for that. Run serially (no
concurrent Spark jobs — BENCH.md JVM-bandwidth note).

Usage: python scripts/linking_bench.py
"""

from __future__ import annotations

import json
import os
import random
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.operators.linking import (
    similarity_pairs,
    tfidf_weights,
)
from named_entity_algorithm_project_spark.session import get_spark


def build_vocab(n: int, seed: int = 5) -> list:
    """Zipf-ish norms: short common prefixes (high-df grams) + rare cores."""
    rng = random.Random(seed)
    prefixes = ["pol", "met", "oxi", "ben", "ami", "chl", "flu", "nan"]
    n_words = max(n // 2, 100)
    words = sorted(
        {
            rng.choice(prefixes)
            + "".join(
                rng.choice(string.ascii_lowercase)
                for _ in range(rng.randint(8, 12))
            )
            for _ in range(n_words)
        }
    )
    norms = set()
    while len(norms) < n:
        norms.add(
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
        )
    return sorted(norms)


def bench_one(spark, n: int, capped: bool) -> dict:
    norms = build_vocab(n)
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    t0 = time.time()
    weights = tfidf_weights(df, len(norms)).localCheckpoint(eager=True)
    t_weights = time.time() - t0
    cap = max(int(0.05 * len(norms)), 100) if capped else None
    df_counts = (
        weights.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
        if capped
        else None
    )
    t0 = time.time()
    pairs = similarity_pairs(weights, candidate_max_df=cap, df_counts=df_counts)
    n_pairs = pairs.filter(F.col("score") >= 0.8).count()
    t_join = time.time() - t0
    return {
        "n_norms": len(norms),
        "capped": capped,
        "cap": cap,
        "t_weights_s": round(t_weights, 2),
        "t_join_s": round(t_join, 2),
        "pairs_ge_0.8": n_pairs,
    }


def main():
    spark = get_spark(
        app_name="linking-bench", master="local[8]", shuffle_partitions=16
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    # exact arm: tiny tiers only — the join output is quadratic in gram df
    # (at 5k norms on this vocabulary it already exceeds 10^8 rows)
    for n in (1_000, 2_000, 4_000):
        for capped in (False, True):
            r = bench_one(spark, n, capped)
            results.append(r)
            print(json.dumps(r), flush=True)
    # capped arm scales 10x and 25x beyond the exact arm's ceiling — the
    # regime build_linking_tables auto-enables the cap for
    for n in (40_000, 100_000):
        r = bench_one(spark, n, True)
        results.append(r)
        print(json.dumps(r), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
