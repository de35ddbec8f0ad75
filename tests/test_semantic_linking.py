"""L4 semantic-embedding linking: stub embedder, driver-local scoring
parity vs the numpy N² oracle, the block-pair stage (both scorers) vs
the one-block kernels, and end-to-end canonical-map parity through the
shared gate cascade (reference use_semantic path, app.py:3084-3110)."""

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.functions.embed import (
    cosine_matrix,
    embed_text,
)
from named_entity_algorithm_project_spark.functions.ngrams import char_wb_ngrams
from named_entity_algorithm_project_spark.functions.textnorm import (
    adaptive_threshold_floor,
    gate_pair_scores,
)
from named_entity_algorithm_project_spark.operators.linking import (
    embedding_pairs,
    gated_block_pairs,
    tfidf_prefix_pairs,
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


def test_semantic_end_to_end_canonical_parity(
    spark, monkeypatch, block_pair_runs
):
    """Full Stage B+C with score_source=semantic vs the pandas oracle
    running the SAME gates over the numpy N² cosine matrix. The vocabulary
    is below the local tier, so the driver scores its pairs; scoring them
    in the block-pair stage (forced) finds the same edges."""
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
    assert block_pair_runs == [dist.n_norms]
    edges = {(r["src"], r["dst"]) for r in tables.edges.collect()}
    dist_edges = {(r["src"], r["dst"]) for r in dist.edges.collect()}
    assert dist_edges == edges, dist_edges ^ edges


#: the block-pair stage's fixture: NORMS plus upper-case and plural
#: variants (hot pairs for both scorers); every fifth norm is UNKNOWN, so
#: the type gate blocks some of them
VOCAB = sorted(set(NORMS) | {n.upper() for n in NORMS} | {n + "s" for n in NORMS})
VOCAB_TYPES = {
    x: ["UNKNOWN"] if i % 5 == 0 else ["MATERIAL"] for i, x in enumerate(VOCAB)
}
BASE = 0.80


def _block_of(spark, nb):
    """{norm: block} for VOCAB, by the block-pair stage's routing rule."""
    df = spark.createDataFrame([(x,) for x in VOCAB], "norm string")
    return {
        r["norm"]: r["block"]
        for r in df.select(
            "norm", F.pmod(F.xxhash64("norm"), F.lit(nb)).alias("block")
        ).collect()
    }


@pytest.mark.parametrize(
    "score_source, cap",
    [("semantic", None), ("tfidf", None), ("tfidf", 5)],
    ids=["semantic", "tfidf", "tfidf_capped"],
)
def test_block_pair_stage_equals_one_block_kernel(
    spark, monkeypatch, score_source, cap
):
    """The block-pair stage is the gated one-block kernel of the whole
    vocabulary, bit for bit, for each scorer (TF-IDF also under a df-cap),
    and its applyInPandas stage runs nb(nb+1)/2 tasks. Leg 1: 171 shuffle
    partitions give 18 blocks, some of them empty, and a hot pair shares a
    block. Leg 2: a 3-norm block bound raises nb past the 4 blocks that 8
    partitions give."""
    from named_entity_algorithm_project_spark.operators import linking

    floor = adaptive_threshold_floor(BASE)
    doc_freq = (
        len(VOCAB),
        Counter(g for x in VOCAB for g in set(char_wb_ngrams(x))),
    )

    def kernel(*blocks):
        if score_source == "semantic":
            return embedding_pairs(*blocks, gate_floor=floor)
        return tfidf_prefix_pairs(
            *blocks, gate_floor=floor, doc_freq=doc_freq, candidate_max_df=cap
        )

    scores = kernel(VOCAB)
    if cap is not None:  # the cap drops some candidates
        assert len(scores) < len(tfidf_prefix_pairs(VOCAB, gate_floor=floor))
    want = gate_pair_scores(scores, VOCAB_TYPES, BASE)
    assert len(want) >= 10 and len(want) < len(scores)  # the gate acts
    df = spark.createDataFrame(
        list(VOCAB_TYPES.items()), "norm string, types array<string>"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")

    def run(n_partitions):
        spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
        try:
            scored = gated_block_pairs(df, score_source, BASE, len(VOCAB), cap)
            got = {(r["a"], r["b"]): r["score"] for r in scored.collect()}
            n_tasks = scored.rdd.getNumPartitions()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert got == want  # float == float: the same bits
        nb = next(nb for nb in range(1, 64) if nb * (nb + 1) // 2 >= n_tasks)
        assert n_tasks == nb * (nb + 1) // 2
        return nb, _block_of(spark, nb)

    nb, block = run(171)
    assert nb == 18 and len(set(block.values())) < nb  # an empty block
    assert any(block[a] != block[b] for a, b in want)  # a cross-block pair
    assert any(block[a] == block[b] for a, b in want)  # a same-block pair

    monkeypatch.setattr(linking, "AUTO_BLOCK_MIN_VOCAB", 3)
    nb, block = run(8)
    assert nb > 4
    assert max(list(block.values()).count(b) for b in range(nb)) <= 3

    # the two-block kernel alone: exactly the pairs across the split
    lo, hi = VOCAB[::2], VOCAB[1::2]
    assert kernel(lo, hi) == {
        k: v for k, v in scores.items() if (k[0] in lo) != (k[1] in lo)
    }


def test_block_pairs_run_one_per_task(spark):
    """The routed rows land one block pair per task: with every block
    non-empty, all nb(nb+1)/2 tasks of the stage receive rows (plain hash
    partitioning of (lo, hi) left 13 of 36 tasks empty at nb = 8)."""
    from named_entity_algorithm_project_spark.operators import linking

    df = spark.createDataFrame(
        [(f"norm {i}",) for i in range(400)], "norm string"
    )
    for nb in (4, 8):
        routed = linking._route_block_pairs(df, nb)
        per_task = routed.groupBy(F.spark_partition_id().alias("p")).agg(
            F.countDistinct("lo", "hi").alias("pairs")
        )
        assert routed.rdd.getNumPartitions() == nb * (nb + 1) // 2
        assert sorted(r["pairs"] for r in per_task.collect()) == [1] * (
            nb * (nb + 1) // 2
        )


def test_distributed_semantic_links_what_the_driver_links(
    spark, monkeypatch, block_pair_runs
):
    """4,000 Zipf norms (scripts/linking_bench.build_vocab, seed 5): the
    semantic linker gates the same edges when the block-pair stage scores
    its pairs (forced) as when the driver does.
    The size is chosen so an approximate scorer shows: a 10x6 banded LSH
    drops 2 of the 60 gated edges here."""
    from named_entity_algorithm_project_spark.operators import linking
    from scripts.linking_bench import build_vocab

    mentions = [(n, "MATERIAL") for n in build_vocab(4000, seed=5)]
    frame = spark.createDataFrame(
        [((mentions, []),)],
        "ex struct<mentions: array<struct<entity: string, entity_type: string>>,"
        " abbreviations: array<struct<abbr: string, expansion: string>>>",
    )
    local = linking.build_linking_tables(frame, score_source="semantic")
    assert block_pair_runs == []
    monkeypatch.setattr(linking, "LOCAL_MAX_VOCAB", 0)
    dist = linking.build_linking_tables(frame, score_source="semantic")
    assert block_pair_runs == [dist.n_norms]
    want = {(r["src"], r["dst"]) for r in local.edges.collect()}
    got = {(r["src"], r["dst"]) for r in dist.edges.collect()}
    assert want and got == want, (len(want), got ^ want)

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
