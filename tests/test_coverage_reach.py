"""Each COVERAGE.md "(oracle ✓)" row that names a package function is
pinned here: building the credited query calls that function, so the
query's DuckDB oracle gates it.

A pass-through spy replaces the function on its module. Queries import
their operators inside the body, so the spy is what they call. Building
the plan is enough; a query collects only where it does so itself.
"""

import importlib

import pytest

from named_entity_algorithm_project_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"
PKG = "named_entity_algorithm_project_spark"

CREDITS = {
    "q11_dedup_fingerprint": ["operators.dedup.fingerprint"],
    "q12_ngram_jaccard_pairs": ["operators.dedup.token_jaccard_pairs"],
    "q33_simhash_portable": ["operators.dedup.simhash"],
    "q14_cosine_topk": ["operators.similarity.cosine"],
    "q15_knn_label_counts": ["operators.similarity.cosine"],
    "q36_lsh_ann_topk": [
        "operators.similarity.rp_lsh_buckets",
        "operators.similarity.lsh_topk",
    ],
    "q34_value_unit_link": ["operators.triples.link_value_units"],
    "q35_media_plumbing": ["operators.multimodal.extract_media_features"],
    "q19_kg_mentions": ["operators.extract.extract_mentions"],
    "q32_kg_neural_mentions": ["operators.extract.extract_mentions"],
    "q20_kg_triples": [
        "operators.extract.extract_mentions",
        "operators.triples.build_triples",
    ],
    "q21_kg_linking": [
        "operators.linking.build_linking_tables",
        "operators.components.connected_components",
    ],
    "q31_kg_semantic_linking": [
        "operators.linking.build_linking_tables",
        "operators.components.connected_components",
    ],
    "q37_streaming_replay": ["streaming.incremental.incremental_extract"],
}


@pytest.mark.parametrize("query", sorted(CREDITS))
def test_query_calls_credited_function(spark, monkeypatch, query):
    called = set()
    for target in CREDITS[query]:
        module_name, fn_name = target.rsplit(".", 1)
        module = importlib.import_module(f"{PKG}.{module_name}")
        original = getattr(module, fn_name)

        def spy(*args, _original=original, _target=target, **kwargs):
            called.add(_target)
            return _original(*args, **kwargs)

        monkeypatch.setattr(module, fn_name, spy)
    QUERIES[query](spark, SF_DIR)
    assert sorted(set(CREDITS[query]) - called) == []
