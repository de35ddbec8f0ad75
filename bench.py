"""Benchmark harness (driver contract): headline queries + the full KG
pipeline, one JSON line on stdout.

    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[N] parallelism (default 32)
    KG_BENCH_CONVS       synthetic transcript conversations (default 3000)

The KG pipeline runs on the seeded deterministic transcripts generator
(FIXTURES.md §1) sized by KG_BENCH_CONVS; relational/dedup/ANN headliners run
on the driver's parquet tables. Reported value = total wall seconds over all
headline work; `triples_per_sec` is the pipeline throughput (has_value +
mentions + same_as rows / pipeline seconds).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from named_entity_algorithm_project_spark.datagen import generate_transcripts
from named_entity_algorithm_project_spark.pipeline import PipelineConfig, run_pipeline
from named_entity_algorithm_project_spark.queries import QUERIES
from named_entity_algorithm_project_spark.session import get_spark

HEADLINE_QUERIES = [
    "q01_pricing_summary",
    "q02_topk_parts",
    "q03_filtered_join_agg",
    "q06_nearest_event_join",
    "q09_sessionize",
    "q12_ngram_jaccard_pairs",
    "q13_minhash_bands",
    "q14_cosine_topk",
    "q16_token_stats",
    # added round 5 (new totals are not comparable to r4 without
    # subtracting this row; per-query timings compare cleanly)
    "q36_lsh_ann_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("KG_BENCH_CONVS", "30000"))
    # >1 widens the entity vocabulary with alias/abbreviation variants so
    # the linking stage works at realistic unique-norm counts (default 1
    # keeps rows identical to prior rounds for comparability)
    vocab_scale = int(os.environ.get("KG_BENCH_VOCAB_SCALE", "1"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = get_spark(
        app_name="kg-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # session warmup: one throwaway action so q01 doesn't absorb JVM/codegen
    # startup (r3: q01 7.83s vs 0.89s for the similarly-shaped q03) and the
    # per-query numbers compare cleanly round over round
    QUERIES["q01_pricing_summary"](spark, sf_dir).collect()

    # --- operator headliners over the driver tables -----------------------
    for name in HEADLINE_QUERIES:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).collect()
        timings[name] = round(time.time() - t0, 3)

    # --- full KG pipeline on synthetic transcripts -------------------------
    out_dir = tempfile.mkdtemp(prefix="kg_bench_")
    try:
        transcripts = generate_transcripts(
            spark, n_convs=n_convs, seed=42, vocab_scale=vocab_scale
        ).persist()
        n_turns_pre = transcripts.count()  # generation outside the timed window
        t0 = time.time()
        result = run_pipeline(
            spark,
            transcripts,
            out_dir,
            config=PipelineConfig(n_buckets=2),
            resume=False,
        )
        n_triples = result.triples.count()
        n_turns = transcripts.count()
        kg_sec = time.time() - t0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    timings["kg_pipeline"] = round(kg_sec, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "kg_triples": n_triples,
                "kg_turns": n_turns,
                "triples_per_sec": round(n_triples / kg_sec, 1),
                "turns_per_sec": round(n_turns / kg_sec, 1),
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
