"""Linking stage on a vocabulary-rich corpus (VERDICT r2 item 9).

Generates the bench corpus with ``vocab_scale`` > 1 (datagen emits
dash/fused material alias pairs + synthetic abbreviation definitions), runs
extraction -> build_linking_tables, and reports unique linkable norms, the
AUTO df-cap the similarity join engaged, edge counts, and stage walls —
the evidence that the linking path handles a corpus whose vocabulary looks
like real transcripts (tens of thousands of distinct entities) rather than
a recycled toy pool. ``block_pairs`` says where the pairs were scored:
on the driver (up to LOCAL_MAX_VOCAB norms) or in the block-pair stage.
``edges_md5`` is the md5 of the sorted ``src<TAB>dst`` edge lines joined
by newlines, the form the scale legs' edge hashes are quoted in. Stage C runs
on the same tables: ``n_nodes``,
``components_local`` (driver union-find, or the distributed star rounds)
and ``t_components_s`` (``connected_components`` plus a count).

Run serially (no concurrent Spark jobs). Usage:
  PYTHONPATH=/root/repo python scripts/linking_scale_run.py [n_convs] [vocab_scale]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.datagen import (
    generate_transcripts,
    planted_alias_pairs,
    planted_hard_pairs,
    planted_pair_edge_stats,
)
from named_entity_algorithm_project_spark.operators import components, linking
from named_entity_algorithm_project_spark.operators.extract import (
    extract_combined,
)
from named_entity_algorithm_project_spark.session import get_spark


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    vocab_scale = int(sys.argv[2]) if len(sys.argv) > 2 else 2_500
    spark = get_spark(
        app_name="linking-scale", master="local[8]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    # path probe: every call of the distributed rounds is recorded
    star_calls = []
    star_labels = components._star_labels

    def spy(edges):
        star_calls.append(edges)
        return star_labels(edges)

    components._star_labels = spy

    for scale in (1, vocab_scale):
        transcripts = generate_transcripts(
            spark, n_convs=n_convs, seed=42, vocab_scale=scale
        )
        t0 = time.time()
        extracted = extract_combined(transcripts).localCheckpoint(eager=True)
        t_extract = time.time() - t0
        t0 = time.time()
        tables = linking.build_linking_tables(extracted)
        edge_lines = sorted(
            f"{r['src']}\t{r['dst']}" for r in tables.edges.collect()
        )
        t_link = time.time() - t0
        n_nodes = tables.nodes.count()
        n_star = len(star_calls)
        t0 = time.time()
        components.connected_components(tables.nodes, tables.edges).count()
        t_components = time.time() - t0

        # planted-pair QUALITY under the engaged cap (VERDICT r3 item 2):
        # of the generator's dash/fused alias pairs whose BOTH spellings
        # exist in the extracted vocabulary, how many did the gated
        # similarity join actually connect with a direct edge?
        m_present, m_hit = planted_pair_edge_stats(
            spark, tables.norms, tables.edges, planted_alias_pairs(scale)
        )
        h_present, h_hit = planted_pair_edge_stats(
            spark, tables.norms, tables.edges, planted_hard_pairs(scale)
        )
        print(
            json.dumps(
                {
                    "n_convs": n_convs,
                    "vocab_scale": scale,
                    "n_norms": tables.n_norms,
                    "block_pairs": tables.n_norms > linking.LOCAL_MAX_VOCAB,
                    "auto_df_cap": tables.candidate_max_df,
                    "n_edges": len(edge_lines),
                    "edges_md5": hashlib.md5(
                        "\n".join(edge_lines).encode()
                    ).hexdigest(),
                    "base_threshold": tables.base_threshold,
                    "t_extract_s": round(t_extract, 1),
                    "t_link_s": round(t_link, 1),
                    "n_nodes": n_nodes,
                    "components_local": len(star_calls) == n_star,
                    "t_components_s": round(t_components, 1),
                    "planted_pairs_present": m_present,
                    "planted_pairs_linked": m_hit,
                    "planted_edge_recall": (
                        round(m_hit / m_present, 4) if m_present else None
                    ),
                    "hard_pairs_present": h_present,
                    "hard_pairs_linked": h_hit,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
