"""Semantic scorer A/B above the local tier: the block-pair Spark scorer
against the driver kernel, on the same vocabulary.

At 40k and 100k Zipf norms (`scripts/linking_bench.build_vocab`), score
the vocabulary twice at the lowest gate floor:

* driver — `linking.embedding_pairs` over the whole vocabulary in one
  process (the local tier's scorer);
* distributed — `linking.semantic_block_pairs`, the scorer the linker runs
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
)
from named_entity_algorithm_project_spark.operators.linking import (
    embedding_pairs,
    semantic_block_pairs,
)
from named_entity_algorithm_project_spark.session import get_spark
from scripts.linking_bench import build_vocab

#: the lowest gate floor any vocabulary gets
FLOOR = adaptive_threshold_floor(0.0)


def ab(spark, n: int) -> dict:
    norms = build_vocab(n, seed=5)
    t0 = time.time()
    driver = embedding_pairs(norms, gate_floor=FLOOR)
    t_driver = time.time() - t0

    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    t0 = time.time()
    scored = semantic_block_pairs(df, FLOOR)
    dist = {(r["a"], r["b"]): r["score"] for r in scored.collect()}
    t_dist = time.time() - t0
    assert dist == driver, "block-pair scorer differs from embedding_pairs"
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
