"""Differential test of the three linking executors on adversarial input,
for both scorers.

The pandas oracle (``oracle_vocabulary`` + ``link_vocabulary``), the
Spark linker scoring its pairs on the driver, and the Spark linker
scoring them in the block-pair stage must produce the same (norm, freq,
effective types) rows, the same gated edge set and the same component
node set, with either scorer. The generator datagen never
produces the inputs that separate them, so the vocabularies here are built directly, seeded, with:
whitespace variants (edge and inner tabs/newlines, NBSP), empty,
lower-case, padded and ``UNKNOWN`` types, protected pairs, abbreviation
cycles, self-pairs and abbreviation-only endpoints, domain-alias needles,
and 1-2 character norms. Each vocabulary reaches the Spark linker as a
two-turn Stage-A frame.
"""

import random
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pandas as pd

from named_entity_algorithm_project_spark.dictionaries import (
    DOMAIN_ALIAS_SUBSTRINGS,
    ENTITY_TYPES,
)
from named_entity_algorithm_project_spark.functions.localrel import local_df
from named_entity_algorithm_project_spark.functions.textnorm import (
    compute_base_threshold,
)
from named_entity_algorithm_project_spark.operators import linking
from named_entity_algorithm_project_spark.oracle import (
    _semantic_cosine_pairs,
    _tfidf_cosine_pairs,
    link_vocabulary,
    oracle_vocabulary,
)

#: the oracle's scorer for each ``score_source``
ORACLE_SCORERS = {
    "tfidf": _tfidf_cosine_pairs,
    "semantic": _semantic_cosine_pairs,
}

N_VOCABULARIES = 24

STEMS = [
    "polymer blend", "polymer blends", "Polymer Blend", "polymer  blend",
    "P3HT", "p3ht", "organic solar cell", "organic solar cells", "PCE",
    "pce", "perovskite", "Perovskite", "bandgap", "band gap", "ab", "AB",
    "ac", "abc", "a", "x", "ab c", "ab\tc d", "ab c d", "polythiophene",
    "thiophene", "thio", "poly thiophene film", "opv", "ofet", "bhj",
    "pksc", "mobility", "mobilities", "hole mobility", "PEDOT:PSS",
    "pedot pss", "P3HT:PCBM", "p3ht pcbm",
]
EDGE_WS = [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\xa0", "  \t"]
INNER_WS = ["\t", "\n", "  ", "\xa0"]
TYPES = list(ENTITY_TYPES) + [
    "", "UNKNOWN", "unknown", " polymer ", "\tORGANIC", " PROP_VALUE",
    "material_amount", "organic\n",
]
ABBR_ONLY = ["XYZ", "qq", "thio", " pce ", "Q"]
PROTECTED = ["opv", "ofet", "bhj", "pksc", "perovskite"]
#: alias needles whose aliases are not protected (every shipped alias is),
#: so the domain-alias edge path actually fires
EXTRA_ALIASES = {"thiophene": "thio", "ovsk": "ovs", "blend": "bl"}


def _variant(rng, stem):
    out = stem
    if " " in out and rng.random() < 0.25:
        out = out.replace(" ", rng.choice(INNER_WS), 1)
    if rng.random() < 0.35:
        out = rng.choice(EDGE_WS) + out
    if rng.random() < 0.35:
        out = out + rng.choice(EDGE_WS)
    return out


def _vocabulary(seed):
    """(mention rows, abbreviation rows) for one adversarial vocabulary."""
    rng = random.Random(seed)
    stems = rng.sample(STEMS, rng.randint(5, 16))
    mentions = [
        (_variant(rng, stem), rng.choice(TYPES))
        for stem in stems
        for _ in range(rng.randint(1, 3))
    ]
    # whitespace-only entity: an empty norm, or the NBSP norm
    mentions.append((rng.choice(EDGE_WS), rng.choice(TYPES)))
    pool = stems + ABBR_ONLY
    abbrevs = [
        (_variant(rng, rng.choice(pool)), _variant(rng, rng.choice(pool)))
        for _ in range(rng.randint(0, 6))
    ]
    if rng.random() < 0.5:  # a cycle
        a, b, c = rng.sample(pool, 3)
        abbrevs += [(a, b), (b, c), (c, a)]
    if rng.random() < 0.5:  # a self-pair
        x = rng.choice(pool)
        abbrevs.append((x, _variant(rng, x)))
    if rng.random() < 0.5:  # both endpoints protected
        abbrevs.append(tuple(rng.sample(PROTECTED, 2)))
    if rng.random() < 0.3:  # empty after trim
        abbrevs.append((rng.choice(EDGE_WS), rng.choice(pool)))
    return mentions, abbrevs


def _oracle_tables(mentions, abbrevs, score_source):
    freq, types, abbr_pairs = oracle_vocabulary(
        pd.DataFrame(mentions, columns=["entity", "entity_type"]),
        pd.DataFrame(abbrevs, columns=["abbr", "expansion"]),
    )
    base = compute_base_threshold(sum(freq.values()))
    scorer = ORACLE_SCORERS[score_source]
    eff_types, edges, nodes = link_vocabulary(
        freq, types, abbr_pairs, base, lambda norms, _types: scorer(norms)
    )
    norms = {(n, freq[n], tuple(eff_types[n])) for n in freq}
    return norms, edges, nodes


def _spark_tables(extracted, score_source):
    """Linking tables from a Stage-A frame, as (norms, edges, nodes)
    sets, plus the base threshold."""
    lt = linking.build_linking_tables(extracted, score_source)
    norms = {(r["norm"], r["freq"], tuple(r["types"])) for r in lt.norms.collect()}
    edges = {(r["src"], r["dst"]) for r in lt.edges.collect()}
    nodes = {r["norm"] for r in lt.nodes.collect()}
    return (norms, edges, nodes), lt.base_threshold


def _frame(spark, mentions, abbrevs):
    """The Stage-A extraction frame holding one vocabulary: two turns, the
    abbreviations and half the mentions in the first."""
    half = len(mentions) // 2
    return spark.createDataFrame(
        [
            ((mentions[:half], abbrevs),),
            ((mentions[half:], []),),
        ],
        "ex struct<mentions: array<struct<entity: string, entity_type: string>>,"
        " abbreviations: array<struct<abbr: string, expansion: string>>>",
    )


def _build_both_paths(spark, monkeypatch, block_pair_runs, score_source):
    """(vocabularies, driver-scored builds, block-pair-scored builds) for
    one scorer."""
    for needle, alias in EXTRA_ALIASES.items():
        monkeypatch.setitem(DOMAIN_ALIAS_SUBSTRINGS, needle, alias)
    vocabularies = [_vocabulary(seed) for seed in range(N_VOCABULARIES)]
    inputs = [
        _frame(spark, mentions, abbrevs) for mentions, abbrevs in vocabularies
    ]
    build = partial(_spark_tables, score_source=score_source)
    # a small linking run is mostly Spark job latency: building several
    # vocabularies at once overlaps it. Each map is drained before the
    # scoring tier is switched, so no build sees the other setting.
    with ThreadPoolExecutor(max_workers=4) as pool:
        local = list(pool.map(build, inputs, timeout=600))
        # the default leg scored every vocabulary on the driver
        assert block_pair_runs == []
        monkeypatch.setattr(linking, "LOCAL_MAX_VOCAB", 0)
        dist = list(pool.map(build, inputs, timeout=600))
    # the forced leg ran the block-pair stage once per vocabulary
    assert len(block_pair_runs) == len(inputs) and all(block_pair_runs)
    return vocabularies, local, dist


def test_oracle_local_distributed_agree(spark, monkeypatch, block_pair_runs):
    vocabularies, local, dist = _build_both_paths(
        spark, monkeypatch, block_pair_runs, "tfidf"
    )
    n_edges = 0
    for seed, (mentions, abbrevs) in enumerate(vocabularies):
        expected = _oracle_tables(mentions, abbrevs, "tfidf")
        got_local, base_local = local[seed]
        got_dist, base_dist = dist[seed]
        for name, want, table_local, table_dist in zip(
            ("norms", "edges", "nodes"), expected, got_local, got_dist
        ):
            assert table_local == want, (seed, name, table_local ^ want)
            assert table_dist == want, (seed, name, table_dist ^ want)
        assert base_local == base_dist, seed
        n_edges += len(expected[1])
    assert n_edges > 0
    # a zero-row table is a JVM-local relation too, not an RDD-backed one
    # that would fork Python workers when consumed
    assert local_df(spark, [], "src string, dst string").isLocal()


def test_semantic_oracle_local_distributed_agree(spark, monkeypatch, block_pair_runs):
    vocabularies, local, dist = _build_both_paths(
        spark, monkeypatch, block_pair_runs, "semantic"
    )
    n_scorer_diffs = 0
    for seed, (mentions, abbrevs) in enumerate(vocabularies):
        expected = _oracle_tables(mentions, abbrevs, "semantic")
        got_local, base_local = local[seed]
        got_dist, base_dist = dist[seed]
        for name, want, table_local, table_dist in zip(
            ("norms", "edges", "nodes"), expected, got_local, got_dist
        ):
            assert table_local == want, (seed, name, table_local ^ want)
            assert table_dist == want, (seed, name, table_dist ^ want)
        assert base_local == base_dist, seed
        n_scorer_diffs += len(
            expected[1] ^ _oracle_tables(mentions, abbrevs, "tfidf")[1]
        )
    # the two scorers gate differently on these vocabularies, so this test
    # checks something the TF-IDF one does not
    assert n_scorer_diffs > 0
