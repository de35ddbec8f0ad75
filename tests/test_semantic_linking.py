"""L4 semantic-embedding linking: stub embedder, driver-local and LSH
scoring parity vs the numpy N² oracle, and end-to-end canonical-map parity
through the shared gate cascade (reference use_semantic path,
app.py:3084-3110)."""

import inspect

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.functions.embed import (
    cosine_matrix,
    embed_text,
)
from named_entity_algorithm_project_spark.operators.linking import (
    embedding_pairs,
    semantic_pairs_lsh,
)

NORMS = [
    "organic photovoltaic", "organic photovoltaics", "organic solar cell",
    "polymer blend", "polymer blends", "P3HT", "bandgap", "band gap",
    "mobility", "perovskite solar cell", "perovskite solar cells",
    "bulk heterojunction", "fill factor", "PCE", "pce",
]


def test_stub_embedder_deterministic_and_normalized():
    a = embed_text("organic photovoltaic")
    b = embed_text("organic photovoltaic")
    assert np.array_equal(a, b)
    assert np.linalg.norm(a) == pytest.approx(1.0, abs=1e-12)
    assert np.linalg.norm(embed_text("")) == 0.0
    # case variants embed identically (char_wb_ngrams lowercases)
    assert np.array_equal(embed_text("PCE"), embed_text("pce"))


def test_gram_memo_identical_to_direct_hashing(monkeypatch):
    # the per-process (gram, dim) memo is a pure cache: cold-path,
    # warm-path and a cache-bypassing from-scratch computation must
    # produce bit-identical vectors (r6 embed_batch 2.5x)
    from named_entity_algorithm_project_spark.functions import embed as E

    texts = NORMS + ["zinc oxide nanowire", "ZnO", ""]
    E._GRAM_CACHE.clear()
    cold = [E.embed_text(t) for t in texts]
    assert len(E._GRAM_CACHE) > 0  # memo populated
    warm = [E.embed_text(t) for t in texts]
    # from-scratch reference: direct hashing, no cache involvement
    def direct(text, dim=E.DEFAULT_EMBED_DIM):
        v = np.zeros(dim, dtype=np.float64)
        for gram in E.char_wb_ngrams(text or ""):
            bucket, sign = E._gram_bucket_sign(gram, dim)
            v[bucket] += sign
        n = float(np.linalg.norm(v))
        return v / n if n > 0 else v

    for c, w, t in zip(cold, warm, texts):
        assert np.array_equal(c, w), t
        assert np.array_equal(c, direct(t)), t
    # a different dim keys separately (no cross-dim collisions)
    monkeypatch.setattr(E, "DEFAULT_EMBED_DIM", 32)
    assert np.array_equal(E.embed_text("ZnO"), direct("ZnO", dim=32))


def _dense_cosines():
    """{(a, b): cosine} for every pair of NORMS, from the oracle's matrix."""
    mat = cosine_matrix(NORMS)
    return {
        tuple(sorted((NORMS[i], NORMS[j]))): mat[i, j]
        for i in range(len(NORMS))
        for j in range(i + 1, len(NORMS))
    }


def test_semantic_exact_matches_numpy_oracle():
    expected = _dense_cosines()
    for floor in (0.5, 0.82):
        got = embedding_pairs(NORMS, gate_floor=floor)
        assert set(got) == {k for k, v in expected.items() if v >= floor - 1e-9}
        for k, v in got.items():
            assert v == pytest.approx(expected[k], abs=1e-12), k
    assert embedding_pairs(NORMS, gate_floor=0.82)  # the fixture has hot pairs
    assert embedding_pairs([], gate_floor=0.82) == {}


def test_semantic_lsh_subset_with_exact_scores_and_recall(spark):
    df = spark.createDataFrame([(x,) for x in NORMS], "norm string")
    exact = _dense_cosines()
    lsh = {
        (r["a"], r["b"]): r["score"]
        for r in semantic_pairs_lsh(df, bands=8, band_bits=4).collect()
    }
    # candidates are a subset; every emitted score is the exact cosine
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == pytest.approx(exact[k], abs=1e-12)
    # the driver-local scorer sums in the same order as the Spark dot, so a
    # pair both emit carries the same bits
    local = embedding_pairs(NORMS, gate_floor=0.5)
    shared = set(lsh) & set(local)
    assert shared
    assert all(lsh[k] == local[k] for k in shared)
    # banded-LSH recall on high-cosine pairs (deterministic planes: this is
    # a fixed fact of the seeded fixture, not a flaky sample)
    hot = {k for k, v in exact.items() if v >= 0.9}
    assert hot
    recall = len(hot & set(lsh)) / len(hot)
    assert recall >= 0.8, f"banded-LSH recall {recall:.2f} on cosine>=0.9"


def test_semantic_end_to_end_canonical_parity(spark, monkeypatch):
    """Full Stage B+C with score_source=semantic vs the pandas oracle
    running the SAME gates over the numpy N² cosine matrix. The vocabulary
    is below the local tier, so the driver-local linker runs; the forced
    distributed (LSH) linker finds a subset of its edges."""
    from named_entity_algorithm_project_spark import oracle as okg
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.canonical import (
        pick_canonicals,
    )
    from named_entity_algorithm_project_spark.operators.components import (
        connected_components,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )
    from named_entity_algorithm_project_spark.operators import linking

    rows = generate_rows(n_convs=80, seed=31)
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    o_mentions, o_abbrevs = okg.oracle_mentions(pdf)
    oracle_map, _ = okg.oracle_linking(
        o_mentions, o_abbrevs, score_source="semantic"
    )

    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extracted = extract_combined(df).localCheckpoint(eager=True)
    tables = linking.build_linking_tables(extracted, score_source="semantic")
    assert all(t.isLocal() for t in (tables.norms, tables.edges, tables.nodes))
    comps = connected_components(tables.nodes, tables.edges)
    cmap = {
        r["norm"]: r["canonical"]
        for r in pick_canonicals(comps, tables.norms).collect()
    }
    diffs = {
        k: (cmap.get(k), oracle_map.get(k))
        for k in set(cmap) | set(oracle_map)
        if cmap.get(k, k) != oracle_map.get(k, k)
    }
    assert not diffs, f"semantic canonical-map mismatches: {diffs}"
    # the semantic path must actually merge something on this corpus
    assert any(k != v for k, v in cmap.items())

    monkeypatch.setattr(linking, "LOCAL_MAX_VOCAB", 0)
    dist = linking.build_linking_tables(extracted, score_source="semantic")
    assert not dist.edges.isLocal()
    edges = {(r["src"], r["dst"]) for r in tables.edges.collect()}
    dist_edges = {(r["src"], r["dst"]) for r in dist.edges.collect()}
    assert dist_edges <= edges, dist_edges - edges


def test_pipeline_accepts_semantic_score_source(spark, tmp_path):
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    rows = generate_rows(n_convs=15, seed=33)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    res = run_pipeline(
        spark,
        df,
        str(tmp_path / "sem"),
        config=PipelineConfig(n_buckets=2, score_source="semantic"),
        resume=False,
    )
    assert res.triples.count() > 0


def test_band_knobs_thread_through_and_cap_enforced(spark):
    """semantic_pairs_lsh's bands/band_bits dials: more bands -> more
    candidates at identical exact scores, and the 63-plane signature cap
    raises a clear error."""
    from named_entity_algorithm_project_spark.operators.linking import (
        semantic_pairs_lsh,
    )

    norms = [f"poly{i}material" for i in range(60)] + [
        "polyAmaterial", "polyAmateria1",
    ]
    df = spark.createDataFrame([(n,) for n in norms], "norm string")
    # NOTE: different (bands, band_bits) combos reseed the hyperplane set
    # (n_planes changes), so candidate sets are NOT nested across configs —
    # the invariant is that every emitted score is the exact cosine.
    import numpy as np

    from named_entity_algorithm_project_spark.functions.embed import embed_batch

    emb = {n: v for n, v in zip(norms, embed_batch(norms))}
    few = semantic_pairs_lsh(df, bands=2, band_bits=4).collect()
    many = semantic_pairs_lsh(df, bands=12, band_bits=4).collect()
    assert len(many) > len(few)  # 12 bands collide far more than 2
    for r in few + many:
        assert abs(r["score"] - float(emb[r["a"]] @ emb[r["b"]])) < 1e-9

    with pytest.raises(ValueError, match="63"):
        semantic_pairs_lsh(df, bands=16, band_bits=4)  # 64 planes


def test_distributed_semantic_build_runs_lsh_at_10x6(spark, monkeypatch):
    """Above the local tier the semantic scorer is the banded LSH at the
    measured 10x6 scale tier, taken from the function's defaults."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators import linking
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )

    rows = generate_rows(n_convs=10, seed=5)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extracted = extract_combined(df).localCheckpoint(eager=True)

    calls = []
    real = linking.semantic_pairs_lsh

    def spy(*args, **kwargs):
        bound = inspect.signature(real).bind(*args, **kwargs)
        bound.apply_defaults()
        calls.append((bound.arguments["bands"], bound.arguments["band_bits"]))
        return real(*args, **kwargs)

    monkeypatch.setattr(linking, "semantic_pairs_lsh", spy)
    local = linking.build_linking_tables(extracted, score_source="semantic")
    assert calls == [] and local.edges.isLocal()

    monkeypatch.setattr(linking, "LOCAL_MAX_VOCAB", 0)
    linking.build_linking_tables(extracted, score_source="semantic")
    assert calls == [(10, 6)]


@pytest.mark.parametrize(
    "score_source", ["semantic_exact", "semantic_lsh", "bm25"]
)
def test_unknown_score_source_raises(spark, score_source):
    from named_entity_algorithm_project_spark.operators.linking import (
        build_linking_tables,
    )

    # a valid (empty) Stage-A frame, so only the mode can make it raise
    df = spark.createDataFrame(
        [],
        "ex struct<mentions: array<struct<entity: string, entity_type: string>>,"
        " abbreviations: array<struct<abbr: string, expansion: string>>>",
    )
    with pytest.raises(ValueError, match="score_source"):
        build_linking_tables(df, score_source=score_source)
