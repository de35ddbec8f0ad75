"""Linking-stage units: TF-IDF parity with the reference formula, threshold
gates, type compatibility, canonical pick (SURVEY §2.5 L3-L9)."""

import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.functions.ngrams import (
    char_wb_ngrams,
    tfidf_vectors,
)
from named_entity_algorithm_project_spark.functions.textnorm import (
    adaptive_threshold,
    adaptive_threshold_floor,
    can_merge_terms,
    compute_base_threshold,
    gate_pair_scores,
    types_compatible,
)
from named_entity_algorithm_project_spark.operators.canonical import pick_canonicals
from named_entity_algorithm_project_spark.operators.linking import (
    tfidf_prefix_pairs,
)
from named_entity_algorithm_project_spark.oracle import _tfidf_cosine_pairs


def test_char_wb_ngrams_matches_sklearn_semantics():
    # sklearn pads each token with one space per side
    grams = char_wb_ngrams("abc")
    assert " ab" in grams and "abc" in grams and "bc " in grams
    assert " abc " in grams  # n=5 over the padded 5-char token
    # short padded token: all n=3 grams, then the whole token once at n=4,
    # then stop (sklearn's offset==0 break)
    assert char_wb_ngrams("ab") == [" ab", "ab ", " ab "]
    assert char_wb_ngrams("") == []


def test_tfidf_vectors_hand_derived():
    """The TF-IDF formula pinned by hand-derived literals (sklearn's
    documented TfidfVectorizer(char_wb, 3-5) semantics: raw tf, smooth idf
    ln((1+N)/(1+df)) + 1, L2-normalised rows), so it is checked where
    sklearn is not installed.

    Vocabulary "ab", "ab ac", "ad" (N = 3). A 2-char token padded to 4
    chars emits exactly three grams, each once: A = {" ab", "ab ", " ab "},
    C = {" ac", "ac ", " ac "}, D = {" ad", "ad ", " ad "}. So "ab" = A,
    "ab ac" = A + C, "ad" = D, with df(A) = 2 and df(C) = df(D) = 1:

      idf_A = ln(4/3) + 1 = 1.2876820724517808
      idf_C = ln(4/2) + 1 = 1.6931471805599454
      "ab ac": w_A = idf_A / sqrt(3·idf_A² + 3·idf_C²) = 0.3494981241087058
               w_C = idf_C / sqrt(3·idf_A² + 3·idf_C²) = 0.45954803293870056
      "ab":    w_A = 1 / sqrt(3) = 0.5773502691896258
      cos("ab", "ab ac") = 3 · w_A("ab") · w_A("ab ac")
                         = idf_A / sqrt(idf_A² + idf_C²) = 0.6053485081062916
    """
    ab, ab_ac, ad = tfidf_vectors(["ab", "ab ac", "ad"])
    grams_a, grams_c = [" ab", "ab ", " ab "], [" ac", "ac ", " ac "]
    assert list(ab) == grams_a and list(ab_ac) == grams_a + grams_c
    # the smooth idf, read back as the ratio of two weights of one row
    assert ab_ac[" ac"] / ab_ac[" ab"] == pytest.approx(
        1.6931471805599454 / 1.2876820724517808, abs=1e-12
    )
    for g in grams_a:
        assert ab[g] == pytest.approx(0.5773502691896258, abs=1e-12)
        assert ab_ac[g] == pytest.approx(0.3494981241087058, abs=1e-12)
    for g in grams_c:
        assert ab_ac[g] == pytest.approx(0.45954803293870056, abs=1e-12)
    assert set(ad) == {" ad", "ad ", " ad "}
    # the one pair sharing a gram, by the naive scorer and the kernel
    want = pytest.approx({("ab", "ab ac"): 0.6053485081062916}, abs=1e-12)
    assert _tfidf_cosine_pairs(["ab", "ab ac", "ad"]) == want
    assert tfidf_prefix_pairs(["ab", "ab ac", "ad"], gate_floor=0.5) == want


def test_char_wb_ngrams_col_parity(spark):
    """The pure-Column n-gram generator must reproduce char_wb_ngrams
    exactly (same list, same order, same duplicates) — including the
    short-token break rule, whitespace collapsing, Unicode whitespace,
    case folding, NULL and empty inputs."""
    from named_entity_algorithm_project_spark.functions.ngrams import (
        char_wb_ngrams_col,
    )

    cases = [
        "polymer",
        "PCE",
        "a",
        "ab",
        "x y",
        "  double  space  ",
        "tabs\there",
        "nbsp joined",
        "newline\nsplit",
        "Mixed CASE Words",
        "hyphen-ated value",
        "",
        None,
        "abcd",
        "abcde",
        "ab cd e f gh",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r["s"]: r["g"]
        for r in df.select(
            "s", char_wb_ngrams_col(F.col("s")).alias("g")
        ).collect()
    }
    for c in cases:
        if c is None:
            assert got[c] is None  # explode() drops it, same as [] did
        else:
            assert got[c] == char_wb_ngrams(c), (c, got[c], char_wb_ngrams(c))


@pytest.mark.skipif(
    __import__("importlib").util.find_spec("sklearn") is None,
    reason="sklearn not installed",
)
def test_tfidf_matches_sklearn_exactly():
    from sklearn.feature_extraction.text import TfidfVectorizer
    from sklearn.metrics.pairwise import cosine_similarity

    norms = ["polymer blend", "polymer blends", "P3HT", "organic solar cell",
             "organic solar cells", "bandgap", "PCE", "pce", "Perovskite",
             "perovskite"]
    vec = TfidfVectorizer(analyzer="char_wb", ngram_range=(3, 5))
    sk = cosine_similarity(vec.fit_transform(norms))
    ours = _tfidf_cosine_pairs(norms)
    for i in range(len(norms)):
        for j in range(i + 1, len(norms)):
            key = tuple(sorted((norms[i], norms[j])))
            assert ours.get(key, 0.0) == pytest.approx(sk[i][j], abs=1e-9)


def test_df_cap_alone_drops_pairs():
    """A df-cap is honored on its own: the one-block kernel counts the
    gram document frequencies itself. At cap 1 no shared gram survives
    candidate generation, so no pair is scored."""
    norms = ["polymer blend", "polymer blends", "band gap", "bandgap", "PCE", "pce"]
    naive = {k: s for k, s in _tfidf_cosine_pairs(norms).items() if s >= 0.5}
    assert naive
    assert tfidf_prefix_pairs(norms, gate_floor=0.5) == naive
    assert tfidf_prefix_pairs(norms, gate_floor=0.5, candidate_max_df=1) == {}


def test_base_threshold_formula():
    # app.py:3275-3280
    assert compute_base_threshold(0) == 0.80
    assert compute_base_threshold(1000) == pytest.approx(0.80)
    assert compute_base_threshold(10000) == pytest.approx(0.82)
    assert compute_base_threshold(10**9) == pytest.approx(0.85)  # capped


def test_adaptive_threshold_floors():
    # app.py:3003-3012
    assert adaptive_threshold("abc", 0.8) == 0.95
    assert adaptive_threshold("abcd", 0.8) == 0.92
    assert adaptive_threshold("abcdef", 0.8) == 0.88
    assert adaptive_threshold("longer term", 0.8) == 0.82
    assert adaptive_threshold("longer term", 0.84) == 0.84
    # whitespace excluded from compact length
    assert adaptive_threshold("a b c", 0.8) == 0.95


def test_can_merge_guard():
    assert not can_merge_terms("ab", "abc")  # short vs long
    assert can_merge_terms("ab", "xy")  # both short, equal length
    assert can_merge_terms("abc", "abd")
    assert not can_merge_terms("same", "same")


def test_types_compatible_rules():
    assert types_compatible({"POLYMER"}, {"POLYMER", "ORGANIC"})
    assert not types_compatible({"POLYMER"}, {"ORGANIC"})
    assert types_compatible({"UNKNOWN"}, {"UNKNOWN"})
    assert not types_compatible({"POLYMER"}, {"UNKNOWN"})  # one clean, one not
    assert types_compatible(set(), set())


def test_canonical_pick_ordering(spark):
    # min by (not-acronym, -freq, len, lex): 'opv' (acronym) beats higher-freq
    comps = spark.createDataFrame(
        [("opv", "c1"), ("organic photovoltaic", "c1"), ("zzz", "c1"),
         ("beta", "c2"), ("alpha", "c2")],
        "norm string, component string",
    )
    norms = spark.createDataFrame(
        [("opv", 1), ("organic photovoltaic", 50), ("zzz", 99),
         ("beta", 5), ("alpha", 5)],
        "norm string, freq int",
    )
    got = {r["norm"]: r["canonical"] for r in pick_canonicals(comps, norms).collect()}
    assert got["organic photovoltaic"] == "opv"  # acronym rank wins
    assert got["zzz"] == "opv"
    # equal freq -> shorter term wins ('beta' len 4 < 'alpha' len 5)
    assert got["alpha"] == "beta"


def _force_df_cap(monkeypatch, cap):
    """Make the linker run distributed with ``cap`` as its df-cap at a
    test-sized vocabulary (both seams are read at call time)."""
    from named_entity_algorithm_project_spark.operators import linking

    monkeypatch.setattr(linking, "LOCAL_MAX_VOCAB", 0)
    monkeypatch.setattr(linking, "auto_df_cap", lambda n_norms: cap)


def test_candidate_max_df_blocking_is_subset(spark, monkeypatch):
    """The scale knob (drop ubiquitous n-grams from the similarity join)
    must only ever remove edges, never invent them."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        build_linking_tables,
    )

    rows = generate_rows(n_convs=60, seed=17)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extracted = extract_combined(df).localCheckpoint(eager=True)
    exact = {
        (r["src"], r["dst"])
        for r in build_linking_tables(extracted).edges.collect()
    }
    _force_df_cap(monkeypatch, 3)
    lt = build_linking_tables(extracted)
    assert lt.candidate_max_df == 3
    blocked = {(r["src"], r["dst"]) for r in lt.edges.collect()}
    assert blocked <= exact


def test_local_path_parity(spark, monkeypatch, block_pair_runs):
    """Scoring the pairs on the driver (the default up to LOCAL_MAX_VOCAB)
    and in the block-pair stage (forced with LOCAL_MAX_VOCAB = 0) must give
    identical LinkingTables under the one cascade: same (norm, freq,
    effective-types) rows, same gated edge set, same node universe, same
    base threshold."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )
    from named_entity_algorithm_project_spark.operators import linking

    # the last input (~8k norms) lies above the former 5k-norm local bound
    inputs = ((60, 17, 1), (150, 42, 1), (1000, 42, 20000))
    for n_convs, seed, vocab_scale in inputs:
        rows = generate_rows(
            n_convs=n_convs, seed=seed, vocab_scale=vocab_scale
        )
        df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
        extracted = extract_combined(df).localCheckpoint(eager=True)

        block_pair_runs.clear()
        with monkeypatch.context() as m:
            m.setattr(linking, "LOCAL_MAX_VOCAB", 0)
            dist = linking.build_linking_tables(extracted)
        assert block_pair_runs == [dist.n_norms]
        loc = linking.build_linking_tables(extracted)
        # the default leg scored its pairs on the driver
        assert block_pair_runs == [dist.n_norms]
        if vocab_scale > 1:
            assert loc.n_norms > 5_000, loc.n_norms
        assert loc.candidate_max_df is None and dist.candidate_max_df is None
        assert loc.base_threshold == dist.base_threshold
        assert loc.n_norms == dist.n_norms

        def norms_set(lt):
            return {
                (r["norm"], r["freq"], tuple(r["types"]))
                for r in lt.norms.collect()
            }

        assert norms_set(loc) == norms_set(dist), (n_convs, seed)
        assert {(r[0], r[1]) for r in loc.edges.collect()} == {
            (r[0], r[1]) for r in dist.edges.collect()
        }, (n_convs, seed)
        assert {r[0] for r in loc.nodes.collect()} == {
            r[0] for r in dist.nodes.collect()
        }, (n_convs, seed)


def test_auto_blocking_recall():
    """The auto df-cap (5% of the vocabulary — the default above 50k unique
    norms) drops the common n-grams from candidate generation only, with
    BOUNDED loss. Contract verified here at a vocabulary where the cap
    actually operates (the generator corpus is too small):

      1. every capped score is the exact cosine (the naive scorer's bits)
      2. margin recall: >= 0.99 of pairs scoring >= threshold+0.05 in the
         exact path are still candidates after capping (true merges score
         well above the floor; abbrev/alias edges cover the rest —
         SURVEY §7.4)
    """
    norms = _random_vocab()
    cap = max(int(0.05 * len(norms)), 1)
    thresh = 0.8

    exact = _tfidf_cosine_pairs(norms)
    capped = tfidf_prefix_pairs(norms, gate_floor=thresh, candidate_max_df=cap)
    hot = {k for k, s in exact.items() if s >= thresh}
    assert len(hot) >= 100, "fixture produced too few above-threshold pairs"
    # 1. exact scores
    assert all(exact[k] == s for k, s in capped.items())
    # 2. margin recall
    margin = {k for k, s in exact.items() if s >= thresh + 0.05}
    kept = margin & set(capped)
    recall = len(kept) / max(len(margin), 1)
    assert recall >= 0.99, f"margin recall {recall:.4f} at cap {cap}"


def _random_vocab(seed=5, n_words=400, n_base=700, n_keep=600, n_var=200):
    """Zipf-ish fixture shared by the cap-loss and prefix-filter tests:
    short COMMON prefixes + long RARE cores, plus planted near-dup
    variants (plural / dash) that score high."""
    import random
    import string

    rng = random.Random(seed)
    prefixes = ["pol", "met", "oxi", "ben", "ami", "chl", "flu", "nan"]
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
    base = sorted(
        {
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
            for _ in range(n_base)
        }
    )[:n_keep]
    variants = []
    for t in base[:n_var]:
        variants.append(t + "s" if rng.random() < 0.5 else t.replace(" ", "-", 1))
    return sorted(set(base) | set(variants))


def _naive_capped_pairs(norms, cap):
    """The naive capped reference: the oracle's inverted-index sum over
    its TF-IDF vectors with the grams of df > ``cap`` removed (so each
    score is a lower bound on the exact cosine)."""
    vecs = tfidf_vectors(norms)
    df = Counter(g for v in vecs for g in v)
    postings = defaultdict(list)
    for i, v in enumerate(vecs):
        for g in v:
            if df[g] <= cap:
                postings[g].append(i)
    scores = defaultdict(float)
    for g, idxs in sorted(postings.items()):
        for ii, a in enumerate(idxs):
            for b in idxs[ii + 1 :]:
                scores[tuple(sorted((norms[a], norms[b])))] += (
                    vecs[a][g] * vecs[b][g]
                )
    return dict(scores)


def test_prefix_filter_scores_match_naive():
    """The TF-IDF kernel against the oracle's naive scorer:

    * UNCAPPED: exactly the naive pairs at/above the gate floor, with the
      same score bits (the prefix and maxweight filters only prune pairs
      that cannot reach the floor; both sum in sorted gram order);
    * capped: every emitted score is the EXACT cosine, and every naive
      CAPPED pair at/above the floor is a superset member."""
    norms = _random_vocab(seed=9)
    floor = adaptive_threshold_floor(0.80)
    cap = max(int(0.05 * len(norms)), 1)
    naive_exact = _tfidf_cosine_pairs(norms)

    # --- uncapped: identical above the floor --------------------------------
    above = {k: s for k, s in naive_exact.items() if s >= floor}
    assert len(above) >= 50, "fixture produced too few above-floor pairs"
    assert tfidf_prefix_pairs(norms, gate_floor=floor) == above

    # --- capped: exact scores, superset of naive capped ---------------------
    exact_capped = tfidf_prefix_pairs(norms, gate_floor=floor, candidate_max_df=cap)
    capped_above = {
        k for k, s in _naive_capped_pairs(norms, cap).items() if s >= floor
    }
    assert capped_above
    assert capped_above <= set(exact_capped), (
        "the capped kernel lost a naive-capped above-floor pair"
    )
    # every emitted score is the TRUE cosine, not the capped lower bound
    assert all(naive_exact[k] == s for k, s in exact_capped.items())


def test_prefix_filter_gated_edges_identical():
    """Gated edge-set contracts of the kernel against the naive scorer,
    through the shared gate cascade: uncapped, the kernel's gated edges
    equal the naive scorer's exactly; capped, they are a superset of the
    naive capped scorer's (the kernel scores exactly)."""
    norms = _random_vocab(seed=9)
    base = 0.80
    # family types: near-duplicates share a prefix family; every fifth
    # norm is UNKNOWN, so the type gate blocks some high-scoring pairs
    types = {
        x: ["UNKNOWN"] if i % 5 == 0 else [x[:3].upper()]
        for i, x in enumerate(norms)
    }
    cap = max(int(0.05 * len(norms)), 1)
    floor = adaptive_threshold_floor(base)

    def gated(pairs):
        return set(gate_pair_scores(pairs, types, base))

    naive = gated(_tfidf_cosine_pairs(norms))
    assert len(naive) >= 20, "fixture produced too few gated edges"
    assert gated(tfidf_prefix_pairs(norms, gate_floor=floor)) == naive
    naive_capped = gated(_naive_capped_pairs(norms, cap))
    assert naive_capped
    assert (
        gated(tfidf_prefix_pairs(norms, gate_floor=floor, candidate_max_df=cap))
        >= naive_capped
    )


def test_planted_pair_recall_under_cap(spark, monkeypatch):
    """Linking QUALITY under the df-cap, measured on ground truth the
    generator itself plants (datagen.planted_alias_pairs: dash/fused
    spellings of the same synthetic material). Of the planted pairs whose
    both spellings were extracted, the capped similarity join must keep
    (almost) every direct edge the exact join finds — the loss-contract
    bound measured at score level (test_auto_blocking_recall) restated at
    MERGE level on a corpus where the cap actually operates."""
    from named_entity_algorithm_project_spark.datagen import (
        generate_transcripts,
        planted_alias_pairs,
        planted_pair_edge_stats,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        MIN_PREFIX_RANK,
        build_linking_tables,
    )

    # the recall floor below is what the min-prefix guard buys: with a
    # guaranteed prefix of the top-MIN_PREFIX_RANK sub-cap grams, planted
    # case/morphology variants stay candidates even when the df-cap strips
    # most of their squared mass (an empty guaranteed prefix collapses
    # capped recall to ~0 on this fixture)
    assert MIN_PREFIX_RANK >= 1

    vocab_scale = 60
    transcripts = generate_transcripts(
        spark, n_convs=800, seed=42, vocab_scale=vocab_scale
    )
    extracted = extract_combined(transcripts).localCheckpoint(eager=True)
    planted = planted_alias_pairs(vocab_scale)

    def edge_hits():
        lt = build_linking_tables(extracted)
        stats = planted_pair_edge_stats(spark, lt.norms, lt.edges, planted)
        return lt.n_norms, stats

    n_norms, (n_present, exact_hits) = edge_hits()
    assert n_present >= 50, f"only {n_present} planted pairs present"
    assert exact_hits > 0, "exact join never linked a planted pair"
    # force the AUTO-style cap at this (sub-50k) vocabulary size
    cap = max(int(0.05 * n_norms), 100)
    _force_df_cap(monkeypatch, cap)
    _, (n_present2, capped_hits) = edge_hits()
    assert n_present2 == n_present
    recall_vs_exact = capped_hits / exact_hits
    assert recall_vs_exact >= 0.95, (
        f"cap lost planted pairs: {capped_hits}/{exact_hits} "
        f"(present={n_present}, cap={cap})"
    )


def test_extraction_invariant_under_partitioning(spark):
    """Mentions are identical whatever the input partitioning (narrow map —
    no order- or partition-dependence)."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_mentions,
    )

    rows = generate_rows(n_convs=40, seed=18)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    def key_set(frame):
        m, _ = extract_mentions(frame)
        return {
            (r["conv_id"], r["turn_idx"], r["entity"], r["entity_type"], r["start"])
            for r in m.collect()
        }

    assert key_set(df.repartition(1)) == key_set(df.repartition(13, "conv_id"))
