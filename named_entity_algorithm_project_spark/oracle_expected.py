"""Materialized pandas-oracle expectations for the KG driver queries.

q19–q21 are UDF/iterative Spark pipelines (mention detection, nearest-
property triples, linking + connected components) with no closed-form SQL —
their correctness reference is the in-repo pandas oracle (:mod:`.oracle`),
which shares the per-turn detector but orchestrates everything independently
(pandas groupbys, N² cosine, DFS components — mirroring the reference's own
single-process design, app.py:3619-3933 / 2321-2405 / 3185-3211).

This module runs that oracle on the SAME deterministic generator rows the
queries use and writes the expected result tables to parquet under
``<repo>/.oracle_expected/``, so the driver's DuckDB gate can hash-compare
them via ``read_parquet(...)`` exactly like every SQL-expressible query:
a genuinely independent cross-check of the Spark orchestration.
"""

from __future__ import annotations

import os
from typing import Dict

import pandas as pd

from .datagen import generate_rows
from .oracle import oracle_linking, oracle_mentions, oracle_triples

EXPECTED_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".oracle_expected",
)

# Pinned generator parameters — MUST match queries._kg_transcripts (q19/q20)
# and q21_kg_linking.
KG_N_CONVS = 150
KG_SEED = 42
KG_LINKING_N_CONVS = 60
KG_LINKING_SEED = 11

EXPECTED_PATHS = {
    name: os.path.join(EXPECTED_DIR, f"{name}.parquet")
    for name in (
        "q19_kg_mentions",
        "q20_kg_triples",
        "q21_kg_linking",
        "q31_kg_semantic_linking",
        "q32_kg_neural_mentions",
    )
}


def _transcripts_pdf(n_convs: int, seed: int) -> pd.DataFrame:
    return pd.DataFrame(
        generate_rows(n_convs=n_convs, seed=seed),
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )


def _type_rollup(span_fn) -> pd.DataFrame:
    """Per-type mention rollup over the q19 transcripts, spans from
    ``span_fn`` (None: the deterministic scanner)."""
    mentions, _ = oracle_mentions(
        _transcripts_pdf(KG_N_CONVS, KG_SEED), span_fn=span_fn
    )
    out = (
        mentions.groupby("entity_type")
        .agg(
            n_mentions=("entity", "size"),
            n_unique=("entity_norm", "nunique"),
        )
        .reset_index()
    )
    out["n_mentions"] = out["n_mentions"].astype("int64")
    out["n_unique"] = out["n_unique"].astype("int64")
    return out[["entity_type", "n_mentions", "n_unique"]]


def _group_size_histogram(score_source: str) -> pd.DataFrame:
    """Alias-group size histogram over the full linking + components path
    of the q21 transcripts, similarity scored by ``score_source``."""
    from collections import Counter

    mentions, abbrevs = oracle_mentions(
        _transcripts_pdf(KG_LINKING_N_CONVS, KG_LINKING_SEED)
    )
    canonical_map, _groups = oracle_linking(
        mentions, abbrevs, score_source=score_source
    )
    sizes = Counter(canonical_map.values())
    hist = Counter(sizes.values())
    out = pd.DataFrame(
        sorted(hist.items()), columns=["group_size", "n_groups"]
    )
    out["group_size"] = out["group_size"].astype("int64")
    out["n_groups"] = out["n_groups"].astype("int64")
    return out


def expected_q19() -> pd.DataFrame:
    """Per-type mention rollup over the q19 transcripts."""
    return _type_rollup(None)


def expected_q20() -> pd.DataFrame:
    """Per-pred triple rollup with identity canonicalization (q20 pins
    canonical = trim(entity); linking is exercised separately in q21)."""
    mentions, _ = oracle_mentions(_transcripts_pdf(KG_N_CONVS, KG_SEED))
    mentions = mentions.copy()
    mentions["canonical"] = mentions["entity"].map(lambda s: str(s).strip())
    triples = oracle_triples(mentions)
    out = (
        triples.groupby("pred")
        .agg(
            n_triples=("pred", "size"),
            n_subjects=("subj", "nunique"),  # nunique drops NaN — matches
            # Spark countDistinct / DuckDB count(DISTINCT) null handling
        )
        .reset_index()
    )
    out["n_triples"] = out["n_triples"].astype("int64")
    out["n_subjects"] = out["n_subjects"].astype("int64")
    return out[["pred", "n_triples", "n_subjects"]]


def expected_q21() -> pd.DataFrame:
    """Alias-group size histogram over the full linking + components path."""
    return _group_size_histogram("tfidf")


def expected_q31() -> pd.DataFrame:
    """q21's histogram with the L4 semantic scorer (reference use_semantic
    path, app.py:3084-3110) feeding the same gates."""
    return _group_size_histogram("semantic")


def expected_q32() -> pd.DataFrame:
    """q19's rollup through the NEURAL plumbing (chunk -> stub inference ->
    offset remap): the stub emits the deterministic scanner's spans, so any
    divergence from the Spark neural path is a chunking/remap/dedup bug."""
    from .operators.neural import StubTokenClassifier, neural_span_fn

    return _type_rollup(neural_span_fn(StubTokenClassifier()))


_BUILDERS = {
    "q19_kg_mentions": expected_q19,
    "q20_kg_triples": expected_q20,
    "q21_kg_linking": expected_q21,
    "q31_kg_semantic_linking": expected_q31,
    "q32_kg_neural_mentions": expected_q32,
}

_GENERATED = False


def ensure_expected() -> Dict[str, str]:
    """Write the expected parquet files (idempotent per process). Called by
    ``__spark_entry__.oracle_sql()`` so the files exist — freshly regenerated
    from the current oracle code — before the driver runs the DuckDB side."""
    global _GENERATED
    if _GENERATED and all(os.path.exists(p) for p in EXPECTED_PATHS.values()):
        return dict(EXPECTED_PATHS)
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    for name, build in _BUILDERS.items():
        build().to_parquet(EXPECTED_PATHS[name], index=False)
    _GENERATED = True
    return dict(EXPECTED_PATHS)
