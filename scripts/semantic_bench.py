"""Semantic scorer A/B above the local tier: the block-pair Spark stage
against the driver kernel, on the same vocabulary.

At 40k and 100k Zipf norms (`scripts/linking_bench.build_vocab`, one
MATERIAL type each), gate the vocabulary twice at the lowest base
threshold:

* driver — `linking.embedding_pairs` over the whole vocabulary in one
  process (the local tier's scorer), gated by
  `textnorm.gate_pair_scores`;
* distributed — `linking.gated_block_pairs`, the stage the linker runs
  above `LOCAL_MAX_VOCAB` (one `applyInPandas` task per block pair).

Both must return the same pairs with the same score bits; the script
asserts it and prints one JSON line per size with both walls.

Run serially (no concurrent Spark jobs — BENCH.md JVM-bandwidth note).
Usage: python scripts/semantic_bench.py [n_norms ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from named_entity_algorithm_project_spark.functions.textnorm import (
    adaptive_threshold_floor,
    gate_pair_scores,
)
from named_entity_algorithm_project_spark.operators.linking import (
    embedding_pairs,
    gated_block_pairs,
)
from named_entity_algorithm_project_spark.session import get_spark
from scripts.linking_bench import build_vocab

#: the lowest base threshold, and the gate floor it gives
BASE = 0.0
FLOOR = adaptive_threshold_floor(BASE)


def ab(spark, n: int) -> dict:
    norms = build_vocab(n, seed=5)
    types = {x: ["MATERIAL"] for x in norms}
    t0 = time.time()
    driver = gate_pair_scores(
        embedding_pairs(norms, gate_floor=FLOOR), types, BASE
    )
    t_driver = time.time() - t0

    df = spark.createDataFrame(
        [(x, t) for x, t in types.items()], "norm string, types array<string>"
    )
    t0 = time.time()
    scored = gated_block_pairs(df, "semantic", BASE, n, None)
    dist = {(r["a"], r["b"]): r["score"] for r in scored.collect()}
    t_dist = time.time() - t0
    assert dist == driver, "block-pair stage differs from the driver kernel"
    row = {
        "n_norms": n,
        "floor": FLOOR,
        "pairs": len(driver),
        "t_driver_s": round(t_driver, 2),
        "t_distributed_s": round(t_dist, 2),
        "block_pairs": scored.rdd.getNumPartitions(),
    }
    print(json.dumps(row), flush=True)
    return row


def main():
    sizes = [int(x) for x in sys.argv[1:]] or [40_000, 100_000]
    spark = get_spark(
        app_name="semantic-bench", master="local[4]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        ab(spark, n)
    spark.stop()


if __name__ == "__main__":
    main()
