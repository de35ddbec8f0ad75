"""Linking-stage scale bench.

Default mode: exact vs df-capped TF-IDF linking above the local tier.
Runs the block-pair stage the linker runs above LOCAL_MAX_VOCAB
(``linking.gated_block_pairs``: the TF-IDF kernel and the gate, one
``applyInPandas`` task per block pair) over synthetic Zipf-ish
vocabularies at growing sizes, with and without the df-cap
(``auto_df_cap``'s 5% of the vocabulary, at least 100). Candidate volume
is quadratic in per-n-gram df, so the cap bounds it on vocabularies whose
common grams are very common; every emitted score stays exact.

``crossover`` mode: the two ways build_linking_tables scores its pairs,
side by side on the same vocabulary under its one driver-side cascade
(``oracle.link_vocabulary``), the evidence for where LOCAL_MAX_VOCAB
sits. Each vocabulary is linked twice, once by default (the driver's
one-block kernel below the tier) and once with LOCAL_MAX_VOCAB = 0 (the
block-pair stage), and reports each leg's wall time, whether its pairs
went through the block-pair stage, the peak RSS of the Python driver and
of the JVM during the leg, and whether both legs gave the same edges.
Vocabularies: datagen corpora at vocab_scale=20000 (``--convs``) and this
script's Zipf vocabulary (``--zipf``, one MATERIAL mention per norm, no
abbreviations).

Run serially (no concurrent Spark jobs — BENCH.md JVM-bandwidth note).

Usage:
  python scripts/linking_bench.py
  python scripts/linking_bench.py crossover [--convs 1000,3500,7000]
      [--zipf 5000,20000,50000]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from named_entity_algorithm_project_spark.datagen import generate_transcripts
from named_entity_algorithm_project_spark.operators import linking
from named_entity_algorithm_project_spark.operators.extract import (
    extract_combined,
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
    rows = spark.createDataFrame(
        [(x, ["MATERIAL"]) for x in norms], "norm string, types array<string>"
    )
    cap = max(int(0.05 * len(norms)), 100) if capped else None
    t0 = time.time()
    n_edges = linking.gated_block_pairs(rows, "tfidf", 0.8, len(norms), cap).count()
    t_link = time.time() - t0
    return {
        "n_norms": len(norms),
        "capped": capped,
        "cap": cap,
        "t_link_s": round(t_link, 2),
        "gated_edges": n_edges,
    }


def _peak_rss_reset(pid) -> None:
    """Restart the kernel's peak-RSS counter (VmHWM) of a process."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        line = next(line for line in f if line.startswith("VmHWM:"))
    return round(int(line.split()[1]) / 1024, 1)


def crossover_leg(spark, extracted, local: bool) -> dict:
    """One build_linking_tables run, timed until its tables exist (it
    returns local relations), with the driver's peak RSS. ``local`` keeps
    the default tier; otherwise the block-pair stage scores the pairs."""
    pids = {"py": os.getpid(), "jvm": spark.sparkContext._gateway.proc.pid}
    saved = linking.LOCAL_MAX_VOCAB
    tier = saved if local else 0
    linking.LOCAL_MAX_VOCAB = tier
    try:
        for pid in pids.values():
            _peak_rss_reset(pid)
        t0 = time.time()
        tables = linking.build_linking_tables(extracted)
        wall = time.time() - t0
    finally:
        linking.LOCAL_MAX_VOCAB = saved
    edges = {(r["src"], r["dst"]) for r in tables.edges.collect()}
    return {
        "leg": "local" if local else "distributed",
        "block_pairs": tables.n_norms > tier,
        "n_norms": tables.n_norms,
        "wall_s": round(wall, 2),
        **{f"{k}_peak_rss_mb": _peak_rss_mb(pid) for k, pid in pids.items()},
        "n_edges": len(edges),
        "_edges": edges,
    }


def crossover(spark, convs: list, zipf: list) -> None:
    inputs = []
    for n in convs:
        transcripts = generate_transcripts(
            spark, n_convs=n, seed=42, vocab_scale=20000
        )
        extracted = extract_combined(transcripts).localCheckpoint(eager=True)
        inputs.append((f"datagen n_convs={n}", extracted))
    for n in zipf:
        # one Stage-A turn per norm
        extracted = spark.createDataFrame(
            [(([(x, "MATERIAL")], []),) for x in build_vocab(n)],
            "ex struct<mentions: array<struct<entity: string,"
            " entity_type: string>>,"
            " abbreviations: array<struct<abbr: string, expansion: string>>>",
        )
        inputs.append((f"zipf n={n}", extracted))
    for name, extracted in inputs:
        legs = [
            crossover_leg(spark, extracted, local) for local in (True, False)
        ]
        same = legs[0].pop("_edges") == legs[1].pop("_edges")
        for leg in legs:
            print(
                json.dumps({"vocab": name, **leg, "same_edges": same}), flush=True
            )


def main():
    parser = argparse.ArgumentParser()
    parser.add_argument("mode", nargs="?", choices=("crossover",))
    parser.add_argument("--convs", default="1000,3500,7000")
    parser.add_argument("--zipf", default="5000,20000,50000")
    args = parser.parse_args()
    if args.mode == "crossover":
        spark = get_spark(
            app_name="linking-crossover", master="local[4]", shuffle_partitions=8
        )
        spark.sparkContext.setLogLevel("ERROR")
        crossover(
            spark,
            [int(n) for n in args.convs.split(",") if n],
            [int(n) for n in args.zipf.split(",") if n],
        )
        spark.stop()
        return
    spark = get_spark(
        app_name="linking-bench", master="local[8]", shuffle_partitions=16
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in (1_000, 2_000, 4_000):
        for capped in (False, True):
            print(json.dumps(bench_one(spark, n, capped)), flush=True)
    # the capped arm at the sizes build_linking_tables caps at
    for n in (100_000, 200_000):
        print(json.dumps(bench_one(spark, n, True)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
