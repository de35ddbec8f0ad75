"""A/B: naive inverted-index similarity join vs the prefix-filtered one, at
operator level (VERDICT r3 items 1+2 — cut the vocab-scale linking wall,
measure linking QUALITY under the engaged cap, not just cost).

Same corpus, same TF-IDF weights (materialized once), same df-cap and the
same gate cascade (``gate_scored_pairs`` over the linker's norm table,
effective types included — identical for both legs). The norm table comes
from one untimed ``build_linking_tables`` run on the distributed path, so
the script links the corpus once before the legs:

  naive   ``similarity_pairs``: the Σ df² inverted-index join; under a cap
          its scores are lower bounds (dropped grams score nothing)
  prefix  ``similarity_pairs_prefix``: the production join; the cap bounds
          candidate generation only and every score is exact — uncapped
          its gated edges equal naive's, capped they are a superset

Reports wall seconds per leg, gated edge md5s, the speedup, and the
planted mergeable/hard pair stats for each leg.

Run serially (no concurrent Spark jobs). Usage:
  PYTHONPATH=. python scripts/prefix_bench.py [n_convs] [vocab_scale] [legs] [cap]

``legs`` is a comma list (default "naive,prefix"). At the top vocabulary
tiers the naive Σ df² leg does NOT finish in bench budget — pass "prefix"
there; the cross-leg summary line is emitted only when both legs ran.
``cap`` is the df-cap: "auto" (default — the linker's AUTO rule for the
vocabulary size), "none", or an int.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from named_entity_algorithm_project_spark.datagen import (
    generate_transcripts,
    planted_alias_pairs,
    planted_hard_pairs,
    planted_pair_edge_stats,
)
from named_entity_algorithm_project_spark.dictionaries import PROTECTED_TERMS
from named_entity_algorithm_project_spark.functions.textnorm import (
    adaptive_threshold_floor,
)
from named_entity_algorithm_project_spark.operators import linking
from named_entity_algorithm_project_spark.operators.extract import (
    extract_combined,
)
from named_entity_algorithm_project_spark.operators.linking import (
    auto_df_cap,
    gate_scored_pairs,
    similarity_pairs,
    similarity_pairs_prefix,
    tfidf_weights,
)
from named_entity_algorithm_project_spark.session import get_spark


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    vocab_scale = int(sys.argv[2]) if len(sys.argv) > 2 else 1_250
    legs = sys.argv[3].split(",") if len(sys.argv) > 3 else ["naive", "prefix"]
    cap_arg = sys.argv[4] if len(sys.argv) > 4 else "auto"
    # shuffle partitions are scale-set by the caller (guide §2.2): 32 is
    # right up to the ~460k-norm tier; the 917k-norm tier packs ~1M weight
    # rows per partition per join side at 32, which starves the score
    # HashAggregate's map init under a 1 GiB/core heap (r6 tier-4 finding —
    # UNABLE_TO_ACQUIRE_MEMORY; 128 partitions OR 3 GiB/core both clear it)
    spark = get_spark(
        app_name="prefix-bench",
        master="local[8]",
        shuffle_partitions=int(
            os.environ.get("KG_PREFIX_SHUFFLE_PARTITIONS", "32")
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")

    transcripts = generate_transcripts(
        spark, n_convs=n_convs, seed=42, vocab_scale=vocab_scale
    )
    extracted = extract_combined(transcripts).localCheckpoint(eager=True)
    # the distributed path: the norm table the Spark cascade gates on
    linking.LOCAL_MAX_VOCAB = 0
    tables = linking.build_linking_tables(extracted)
    profiles = tables.norms
    n_norms = tables.n_norms
    base = tables.base_threshold
    if cap_arg == "auto":
        cap = auto_df_cap(n_norms)
    elif cap_arg == "none":
        cap = None
    else:
        cap = int(cap_arg)
    weights = tfidf_weights(profiles.select("norm"), n_norms).localCheckpoint(
        eager=True
    )

    def scored(leg):
        if leg == "naive":
            return similarity_pairs(weights, candidate_max_df=cap)
        return similarity_pairs_prefix(
            weights,
            gate_floor=adaptive_threshold_floor(base),
            candidate_max_df=cap,
        )

    results = {}
    edge_sets = {}
    for leg in legs:
        t0 = time.time()
        edges = gate_scored_pairs(
            scored(leg), profiles, sorted(PROTECTED_TERMS), base
        ).localCheckpoint(eager=True)
        edge_rows = sorted((r["src"], r["dst"]) for r in edges.collect())
        wall = time.time() - t0
        digest = hashlib.md5(
            "\n".join(f"{a}\t{b}" for a, b in edge_rows).encode()
        ).hexdigest()
        mp, mh = planted_pair_edge_stats(
            spark, profiles, edges, planted_alias_pairs(vocab_scale)
        )
        hp, hh = planted_pair_edge_stats(
            spark, profiles, edges, planted_hard_pairs(vocab_scale)
        )
        edge_sets[leg] = set(edge_rows)
        results[leg] = {"wall_s": round(wall, 1)}
        print(
            json.dumps(
                {
                    "leg": leg,
                    "n_convs": n_convs,
                    "vocab_scale": vocab_scale,
                    "n_norms": n_norms,
                    "df_cap": cap,
                    "n_edges": len(edge_rows),
                    "edge_md5": digest,
                    "wall_s": round(wall, 1),
                    "planted_present": mp,
                    "planted_linked": mh,
                    "planted_recall": round(mh / mp, 4) if mp else None,
                    "hard_present": hp,
                    "hard_linked": hh,
                }
            ),
            flush=True,
        )
    if "naive" in edge_sets and "prefix" in edge_sets:
        summary = {
            "identical": edge_sets["naive"] == edge_sets["prefix"],
            "prefix_superset_of_naive": edge_sets["naive"] <= edge_sets["prefix"],
            "speedup": round(
                results["naive"]["wall_s"]
                / max(results["prefix"]["wall_s"], 1e-9),
                2,
            ),
        }
        print(json.dumps(summary), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
