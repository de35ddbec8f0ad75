"""Linking-stage units: TF-IDF parity with the reference formula, threshold
gates, type compatibility, canonical pick (SURVEY §2.5 L3-L9)."""

import math

import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.functions.ngrams import char_wb_ngrams
from named_entity_algorithm_project_spark.functions.textnorm import (
    adaptive_threshold,
    can_merge_terms,
    compute_base_threshold,
    types_compatible,
)
from named_entity_algorithm_project_spark.operators.canonical import pick_canonicals
from named_entity_algorithm_project_spark.operators.linking import (
    similarity_pairs,
    tfidf_weights,
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


def test_spark_tfidf_matches_oracle(spark):
    norms = [
        "polymer blend", "polymer blends", "P3HT", "organic solar cell",
        "organic solar cells", "bandgap", "band gap", "mobility",
        "PCE", "pce",
    ]
    oracle = _tfidf_cosine_pairs(norms)
    df = spark.createDataFrame([(n,) for n in norms], "norm string")
    weights = tfidf_weights(df, len(norms))
    pairs = {
        (r["a"], r["b"]): r["score"]
        for r in similarity_pairs(weights).collect()
    }
    assert set(pairs) == set(oracle)
    for k, v in oracle.items():
        assert pairs[k] == pytest.approx(v, abs=1e-9), k
    # TfidfVectorizer's default lowercase=True preprocessing: case variants
    # are identical vectors (app.py:3050 uses the sklearn default)
    assert pairs[("PCE", "pce")] == pytest.approx(1.0, abs=1e-9)


def test_df_cap_alone_drops_pairs(spark):
    """A df-cap is honored on its own: both similarity joins derive the
    gram document frequencies from the weights. At cap 1 no shared gram
    survives, so no pair can be scored."""
    from named_entity_algorithm_project_spark.operators.linking import (
        similarity_pairs_prefix,
    )

    norms = ["polymer blend", "polymer blends", "band gap", "bandgap", "PCE", "pce"]
    df = spark.createDataFrame([(n,) for n in norms], "norm string")
    weights = tfidf_weights(df, len(norms)).localCheckpoint(eager=True)
    assert similarity_pairs(weights).count() > 0
    assert similarity_pairs(weights, candidate_max_df=1).count() == 0
    assert similarity_pairs_prefix(weights, gate_floor=0.5).count() > 0
    assert (
        similarity_pairs_prefix(weights, gate_floor=0.5, candidate_max_df=1).count()
        == 0
    )


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


def test_local_path_parity(spark, monkeypatch):
    """The driver-local small-vocab linking path (collected fused table +
    python gate cascade) must produce the identical LinkingTables as the
    distributed cascade: same (norm, freq, effective-types) rows, same
    gated edge set, same node universe, same base threshold."""
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

        with monkeypatch.context() as m:
            m.setattr(linking, "LOCAL_MAX_VOCAB", 0)
            dist = linking.build_linking_tables(extracted)
        loc = linking.build_linking_tables(extracted)
        assert loc.norms.isLocal() and not dist.norms.isLocal()
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


def test_fused_row_overflow_links_distributed(spark, monkeypatch):
    """A fused table over LOCAL_FUSED_ROW_CAP rows leaves the driver-local
    path even when its vocabulary is under LOCAL_MAX_VOCAB: the build is
    distributed and its tables equal the default local build's."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )
    from named_entity_algorithm_project_spark.operators import linking

    rows = generate_rows(n_convs=60, seed=17)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extracted = extract_combined(df).localCheckpoint(eager=True)

    def tables(lt):
        return (
            {(r["norm"], r["freq"], tuple(r["types"])) for r in lt.norms.collect()},
            {(r["src"], r["dst"]) for r in lt.edges.collect()},
            {r["norm"] for r in lt.nodes.collect()},
        )

    loc = linking.build_linking_tables(extracted)
    monkeypatch.setattr(linking, "LOCAL_FUSED_ROW_CAP", 10)
    over = linking.build_linking_tables(extracted)
    assert loc.edges.isLocal() and not over.edges.isLocal()
    assert 10 < loc.n_norms <= linking.LOCAL_MAX_VOCAB
    want = tables(loc)
    assert want[1], "the corpus must link some pair"
    assert tables(over) == want
    assert over.base_threshold == loc.base_threshold


def test_auto_blocking_recall(spark):
    """The auto df-cap (5% of the vocabulary — the default above 50k unique
    norms) is a prefix-filter with BOUNDED loss: the capped score is a lower
    bound on the exact cosine, short by at most the mass of the dropped
    (idf-floor) n-grams. Contract verified here at a vocabulary where the
    cap actually operates (the generator corpus is too small):

      1. capped candidate pairs/scores are a subset / lower bound
      2. the loss is small: score delta <= 0.06 on every exact pair >= 0.8
      3. margin recall: >= 0.99 of pairs scoring >= threshold+0.05 in the
         exact path still clear the threshold after capping (true merges
         score well above the floor; abbrev/alias edges cover the rest —
         SURVEY §7.4)
    """
    import random
    import string

    from named_entity_algorithm_project_spark.operators.linking import (
        similarity_pairs,
        tfidf_weights,
    )

    rng = random.Random(5)
    # Zipf-ish vocabulary: short COMMON prefixes (their grams exceed the df
    # cap, like real morphological stopgrams) + long RARE cores that carry
    # each near-duplicate pair's similarity mass.
    prefixes = ["pol", "met", "oxi", "ben", "ami", "chl", "flu", "nan"]
    words = sorted(
        {
            rng.choice(prefixes)
            + "".join(
                rng.choice(string.ascii_lowercase)
                for _ in range(rng.randint(8, 12))
            )
            for _ in range(400)
        }
    )
    base = sorted(
        {
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
            for _ in range(700)
        }
    )[:600]
    variants = []
    for t in base[:200]:
        variants.append(t + "s" if rng.random() < 0.5 else t.replace(" ", "-", 1))
    norms = sorted(set(base) | set(variants))
    n = len(norms)
    cap = max(int(0.05 * n), 1)
    thresh = 0.8

    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    weights = tfidf_weights(df, n).localCheckpoint(eager=True)

    def scores(capped):
        pairs = similarity_pairs(weights, candidate_max_df=cap if capped else None)
        return {
            (r["a"], r["b"]): r["score"]
            for r in pairs.filter(F.col("score") >= 0.5).collect()
        }

    exact = scores(False)
    capped = scores(True)
    hot = {k for k, s in exact.items() if s >= thresh}
    assert len(hot) >= 100, "fixture produced too few above-threshold pairs"
    # 1. lower bound
    for k in hot:
        assert capped.get(k, 0.0) <= exact[k] + 1e-9
    # 2. bounded loss
    max_delta = max(exact[k] - capped.get(k, 0.0) for k in hot)
    assert max_delta <= 0.06, f"df-cap dropped {max_delta:.3f} cosine mass"
    # 3. margin recall
    margin = {k for k, s in exact.items() if s >= thresh + 0.05}
    kept = {k for k in margin if capped.get(k, 0.0) >= thresh}
    recall = len(kept) / max(len(margin), 1)
    assert recall >= 0.99, f"margin recall {recall:.4f} at cap {cap} (n={n})"


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


def test_prefix_filter_scores_match_naive(spark):
    """similarity_pairs_prefix contracts against the naive join:

    * UNCAPPED: every naive pair at/above the gate floor survives with the
      identical score (the filter only prunes pairs that cannot reach the
      floor);
    * capped: every emitted score is the EXACT cosine (equals the uncapped
      naive score), and every naive CAPPED pair at/above the floor is a
      superset member;
    * the Python form (tfidf_prefix_pairs, the driver-local scorer) returns
      exactly the naive pairs at/above the floor, with the same scores."""
    from named_entity_algorithm_project_spark.functions.textnorm import (
        adaptive_threshold_floor,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        similarity_pairs_prefix,
        tfidf_prefix_pairs,
    )

    norms = _random_vocab(seed=9)
    n = len(norms)
    floor = adaptive_threshold_floor(0.80)
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    weights = tfidf_weights(df, n).localCheckpoint(eager=True)
    cap = max(int(0.05 * n), 1)

    def collect(frame):
        return {(r["a"], r["b"]): r["score"] for r in frame.collect()}

    naive_exact = collect(similarity_pairs(weights))
    naive_capped = collect(similarity_pairs(weights, candidate_max_df=cap))

    # --- uncapped: identical above the floor --------------------------------
    pref = collect(
        similarity_pairs_prefix(weights, gate_floor=floor)
    )
    above = {k for k, s in naive_exact.items() if s >= floor}
    assert len(above) >= 50, "fixture produced too few above-floor pairs"
    assert above <= set(pref)
    for k, s in pref.items():
        assert s == pytest.approx(naive_exact[k], abs=1e-9), k
    assert all(s >= floor - 1e-6 for s in pref.values())

    # --- capped: exact scores, superset of naive capped ---------------------
    capped_above = {k for k, s in naive_capped.items() if s >= floor}
    exact_capped = collect(
        similarity_pairs_prefix(weights, gate_floor=floor, candidate_max_df=cap)
    )
    assert capped_above <= set(exact_capped), (
        "the capped prefix join lost a naive-capped above-floor pair"
    )
    for k, s in exact_capped.items():
        # every emitted score is the TRUE cosine, not the capped lower bound
        assert s == pytest.approx(naive_exact[k], abs=1e-9), k

    # --- Python form: the naive pairs above the floor, same scores ----------
    py_pref = tfidf_prefix_pairs(norms, floor)
    assert set(py_pref) == above
    for k, s in py_pref.items():
        assert s == pytest.approx(naive_exact[k], abs=1e-9), k
    oracle_naive = _tfidf_cosine_pairs(norms)
    assert py_pref == {k: s for k, s in oracle_naive.items() if s >= floor}


def test_prefix_filter_gated_edges_identical(spark):
    """Gated edge-set contracts of the prefix join against the naive join,
    through the shared gate cascade: uncapped, the prefix join's gated
    edges equal the naive join's exactly; capped, they are a superset of
    the naive capped join's (the prefix join scores exactly)."""
    from named_entity_algorithm_project_spark.functions.textnorm import (
        adaptive_threshold_floor,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        gate_scored_pairs,
        similarity_pairs_prefix,
    )

    norms = _random_vocab(seed=9)
    n = len(norms)
    base = 0.80
    # family types: near-duplicates share a prefix family; every fifth
    # norm is UNKNOWN, so the type gate blocks some high-scoring pairs
    profiles = spark.createDataFrame(
        [
            (x, 1, ["UNKNOWN"] if i % 5 == 0 else [x[:3].upper()])
            for i, x in enumerate(norms)
        ],
        "norm string, freq bigint, types array<string>",
    )
    weights = tfidf_weights(profiles.select("norm"), n).localCheckpoint(
        eager=True
    )
    cap = max(int(0.05 * n), 1)
    floor = adaptive_threshold_floor(base)

    def gated(scored):
        return {
            (r["src"], r["dst"])
            for r in gate_scored_pairs(scored, profiles, [], base).collect()
        }

    naive = gated(similarity_pairs(weights))
    assert len(naive) >= 20, "fixture produced too few gated edges"
    assert gated(
        similarity_pairs_prefix(weights, gate_floor=floor)
    ) == naive
    naive_capped = gated(similarity_pairs(weights, candidate_max_df=cap))
    assert naive_capped
    assert gated(
        similarity_pairs_prefix(weights, gate_floor=floor, candidate_max_df=cap)
    ) >= naive_capped


def test_distributed_prefix_plan_pins_vocabulary_joins(spark, monkeypatch):
    """The hint contract of the distributed prefix join, on the plan a
    forced-distributed build_linking_tables runs at test scale: the
    prefix-postings join, both per-norm-stats joins and the candidate-pair
    score join are sort-merge-pinned (>= 4 SortMergeJoin — the broadcasts
    the 640k-norm tier OOM'd on), and the AllPairs maxweight filter sits
    before the score join."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators import linking
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
    )

    scored = []
    prefix_join = linking.similarity_pairs_prefix

    def capture(*args, **kwargs):
        out = prefix_join(*args, **kwargs)
        scored.append(out)
        return out

    monkeypatch.setattr(linking, "similarity_pairs_prefix", capture)
    monkeypatch.setattr(linking, "LOCAL_MAX_VOCAB", 0)
    rows = generate_rows(n_convs=60, seed=17)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    lt = linking.build_linking_tables(extract_combined(df))
    assert not lt.edges.isLocal() and lt.n_norms < linking.AUTO_BLOCK_MIN_VOCAB
    assert len(scored) == 1

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = scored[0]._jdf.queryExecution().explainString(mode)
    n_smj = plan.count(") SortMergeJoin")
    assert n_smj >= 4, f"{n_smj} SortMergeJoin in the prefix plan:\n{plan}"
    assert "_maxw" in plan, "AllPairs maxweight filter missing:\n" + plan


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
