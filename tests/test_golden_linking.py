"""GOLDEN linking fixture — expectations hand-derived from READING the
reference, never from running repo code (the same contract as
test_golden.py, extended past extraction into the linking stage):

* TF-IDF scoring formula                      app.py:3046-3067 +
  sklearn TfidfVectorizer(char_wb, 3-5) documented semantics
  (smooth idf ln((1+N)/(1+df))+1, raw tf, L2 cosine)
* adaptive threshold tiers + min-of-pair      app.py:3003-3012, 3172-3176
* short-vs-long merge guard                   app.py:2993-3000
* type-compatibility gate                     app.py:3015-3024
* protected-term gates (similarity + abbrev)  app.py:3141-3143, 3171-3173
* base threshold formula                      app.py:3275-3280
* canonical pick ordering                     app.py:3189-3194
* merge-chain resolution + cycle quirk        app.py:1797-1848

Every expected cosine below was computed BY HAND from gram counts (the
derivations are in the comments); the tests then assert only MERGE
OUTCOMES, so they hold at float precision with margins >= 4e-3. The
fixtures exploit two hand-tractable constructions:

1. token-repetition families ("ab ab ab" vs "ab ab ac"): every token
   contributes exactly the 3 char_wb grams {" ab", "ab ", " ab "} (a
   2-char token padded to 4 chars emits each n in 3..5 once, truncated),
   so gram vectors reduce to small integer tf vectors and the cosine is
   exact closed-form arithmetic;
2. distinct-letter single tokens ("abcdefghijklmnop"): an L-char token
   has 3L-3 distinct grams, 3L-6 shared with its one-letter extension,
   3 resp. 6 unique — cosine = s/sqrt((s+3q)(s+6q)) with s=3L-6 and
   q = (1+ln 1.5)^2 at N=2.

A mutation to any gate (flipping a tier floor, min->max on the pair
threshold, dropping the protected or type gate, breaking the chain
resolver's cycle quirk) flips a merge outcome and fails here even when
Spark and the pandas oracle twin agree with each other.
"""

import pytest

from named_entity_algorithm_project_spark.operators.canonical import (
    pick_canonicals,
    resolve_merge_chains,
)
from named_entity_algorithm_project_spark.operators.components import (
    connected_components,
)
from named_entity_algorithm_project_spark.operators.linking import (
    build_linking_tables,
)


def _canonical_map(spark, mention_rows, abbrev_rows=()):
    """Full Stage B+C on hand-written (entity, entity_type) mention and
    (abbr, expansion) rows, held as one Stage-A turn."""
    extracted = spark.createDataFrame(
        [((list(mention_rows), list(abbrev_rows)),)],
        "ex struct<mentions: array<struct<entity: string, entity_type: string>>,"
        " abbreviations: array<struct<abbr: string, expansion: string>>>",
    )
    lt = build_linking_tables(extracted)
    comps = connected_components(lt.nodes, lt.edges)
    return {
        r["norm"]: r["canonical"]
        for r in pick_canonicals(comps, lt.norms).collect()
    }


A3 = "ab ab ab"        # tf (3,3,3) on the ab-grams; compact length 6
B_AC = "ab ab ac"      # tf (2,2,2) on ab-grams + (1,1,1) on ac-grams; 6
B4 = "ab ab ab ac"     # tf (3,3,3) + (1,1,1); compact length 8


def test_golden_adaptive_tier_088_blocks(spark):
    """Corpus {A3, B_AC, "ab", "ac"}: N=4, df(ab-grams)=3, df(ac-grams)=2.
    idf3 = ln(5/4)+1, idf2 = ln(5/3)+1; hand cosine(A3, B_AC) =
    18·idf3² / (sqrt(27·idf3²)·sqrt(12·idf3²+3·idf2²)) = 0.8508.
    Both compact lengths are 6 -> pair threshold min(0.88, 0.88) = 0.88
    (app.py:3008-3009); 0.8508 < 0.88 -> NO merge. "ab"/"ac" pair at
    cosine 1.0/0 with A3 is blocked by the 2-char guard regardless
    (app.py:2996-2999). A mutated <=6 tier of 0.82 would merge A3-B_AC
    and fail here."""
    got = _canonical_map(
        spark,
        [(A3, "ORGANIC"), (B_AC, "ORGANIC"), ("ab", "ORGANIC"), ("ac", "ORGANIC")],
    )
    assert got == {A3: A3, B_AC: B_AC, "ab": "ab", "ac": "ac"}


def test_golden_adaptive_tier_088_merges(spark):
    """Same pair, corpus {A3, B_AC, "ac"}: now df(ab-grams)=df(ac-grams)=2
    -> equal idf cancels; cosine = 18/(sqrt(27)·sqrt(15)) = 18/sqrt(405)
    = 0.89443 >= 0.88 -> MERGE. ("ac" also scores 0.89443 against B_AC
    but is 2 chars vs 8 — the short-vs-long guard blocks it.) Canonical
    pick (app.py:3189-3194): neither term is an acronym, freqs equal,
    equal length 8 -> lexicographic min "ab ab ab"."""
    got = _canonical_map(
        spark, [(A3, "ORGANIC"), (B_AC, "ORGANIC"), ("ac", "ORGANIC")]
    )
    assert got == {A3: A3, B_AC: A3, "ac": "ac"}


def test_golden_min_of_pair_threshold_quirk(spark):
    """Corpus {A3, B4, ab, AB, Ab, aB, ac}: N=7, df(ab-grams)=6 (the four
    case variants all lowercase to the same grams), df(ac-grams)=2.
    idf6 = ln(8/7)+1, idf2 = ln(8/3)+1; hand cosine(A3, B4) =
    27·idf6² / (sqrt(27·idf6²)·sqrt(27·idf6²+3·idf2²)) = 0.86406.
    Compact lengths 6 and 8 -> per-term floors 0.88 and 0.82; the
    reference takes the MIN of the pair (app.py:3172-3176) -> 0.82 ->
    MERGES at 0.864. A sane-but-wrong max() would demand 0.88 and fail
    here. The case-variant cluster {ab, AB, Ab, aB} merges at cosine 1.0
    (equal 2-char lengths pass the guard); canonical = lexicographic min
    "AB" (uppercase sorts first; none is in ACRONYM_SET, freqs equal).
    Canonical of {A3, B4}: equal freq, len 8 < 11 -> A3."""
    got = _canonical_map(
        spark,
        [
            (A3, "ORGANIC"), (B4, "ORGANIC"),
            ("ab", "ORGANIC"), ("AB", "ORGANIC"),
            ("Ab", "ORGANIC"), ("aB", "ORGANIC"),
            ("ac", "ORGANIC"),
        ],
    )
    assert got == {
        A3: A3,
        B4: A3,
        "ab": "AB", "AB": "AB", "Ab": "AB", "aB": "AB",
        "ac": "ac",
    }


L15 = "abcdefghijklmno"
L16 = "abcdefghijklmnop"
L17 = "abcdefghijklmnopq"


def test_golden_base_floor_knife_edge(spark):
    """The 0.82 floor (app.py:3011: max(base, 0.82); base = 0.746 at
    n_rows=2, app.py:3275-3280) on the distinct-letter construction:
    cosine(L) = (3L-6)/sqrt((3L-6+3q)(3L-6+6q)), q = (1+ln 1.5)².
    L=16: 42/sqrt(47.926·53.852) = 0.82673 >= 0.82 -> merge (canonical =
    shorter term). L=15: 39/sqrt(44.926·50.852) = 0.81595 < 0.82 -> no
    merge. Margins 6.7e-3 / 4.0e-3 — far above float noise."""
    merged = _canonical_map(spark, [(L16, "ORGANIC"), (L17, "ORGANIC")])
    assert merged == {L16: L16, L17: L16}
    apart = _canonical_map(spark, [(L15, "ORGANIC"), (L16, "ORGANIC")])
    assert apart == {L15: L15, L16: L16}


def test_golden_type_gate(spark):
    """app.py:3015-3024 on the 0.89443 pair from the 0.88-tier fixture:
    disjoint clean type sets never merge; clean-vs-UNKNOWN never merges
    (the reference's asymmetric arm); UNKNOWN-vs-UNKNOWN merges."""
    disjoint = _canonical_map(
        spark, [(A3, "POLYMER"), (B_AC, "ORGANIC"), ("ac", "ORGANIC")]
    )
    assert disjoint[B_AC] == B_AC

    half = _canonical_map(
        spark, [(A3, "POLYMER"), (B_AC, "UNKNOWN"), ("ac", "UNKNOWN")]
    )
    assert half[B_AC] == B_AC

    both = _canonical_map(
        spark, [(A3, "UNKNOWN"), (B_AC, "UNKNOWN"), ("ac", "UNKNOWN")]
    )
    assert both == {A3: A3, B_AC: A3, "ac": "ac"}


def test_golden_protected_abbreviation_gate(spark):
    """app.py:3141-3143: an abbreviation link whose endpoints are BOTH
    protected terms is skipped; one protected endpoint links normally.
    "opv" and "bhj" are both in PROTECTED_TERMS (char cosine ~0, so the
    abbreviation edge is the only possible merge path); "zzmaterialzz"
    is not protected, and "opv" is in ACRONYM_SET so the canonical pick's
    acronym rank (app.py:3190-3192) elects it over the higher-length
    partner."""
    blocked = _canonical_map(
        spark,
        [("opv", "ORGANIC"), ("bhj", "ORGANIC")],
        abbrev_rows=[("opv", "bhj")],
    )
    assert blocked == {"opv": "opv", "bhj": "bhj"}

    linked = _canonical_map(
        spark,
        [("opv", "ORGANIC"), ("zzmaterialzz", "ORGANIC")],
        abbrev_rows=[("opv", "zzmaterialzz")],
    )
    assert linked == {"opv": "opv", "zzmaterialzz": "opv"}


def test_golden_abbreviation_type_union_propagation(spark):
    """app.py:3151-3156: an accepted abbreviation link UNIONS its
    endpoints' type sets, and the widened sets feed the similarity gate.
    A="abcdefgh" (POLYMER) and B="ABCDEFGH" (ORGANIC) are case variants
    (cosine exactly 1.0, compact length 8 -> floor 0.82) but their clean
    type sets are disjoint -> NO merge on their own. Adding an
    abbreviation link B->C where C carries {ORGANIC, POLYMER} (two
    mentions) passes the abbr gate on ORIGINAL types (ORGANIC
    intersects), propagates POLYMER into B's effective set, and the A-B
    similarity edge now clears the type gate — one component {A, B, C},
    canonical = C ("zz yy", highest freq 2, app.py:3189-3194). Removing
    the abbreviation row must leave all three separate."""
    A, B, C = "abcdefgh", "ABCDEFGH", "zz yy"
    base_mentions = [
        (A, "POLYMER"),
        (B, "ORGANIC"),
        (C, "ORGANIC"),
        (C, "POLYMER"),
    ]
    without = _canonical_map(spark, base_mentions)
    assert without == {A: A, B: B, C: C}

    with_abbr = _canonical_map(
        spark, base_mentions, abbrev_rows=[(B, C)]
    )
    assert with_abbr == {A: C, B: C, C: C}


def test_golden_merge_chain_cycle_quirk():
    """app.py:1797-1816 hand trace for {a->b, B->c, c->A}: cleaned keys
    lowercase to {a->b, b->c, c->A}; resolving "a" walks b->c->A and
    stops when the next hop "a" is already seen -> "A"; resolving "b"
    walks c->A->b(!) and stops at its own key -> "b"; resolving "c"
    walks A->b->c -> "c". Identity-after-lowercase entries are dropped
    before resolution; a two-cycle self-resolves."""
    assert resolve_merge_chains({"a": "b", "B": "c", "c": "A"}) == {
        "a": "A", "b": "b", "c": "c",
    }
    assert resolve_merge_chains({"x": "y", "y": "x"}) == {"x": "x", "y": "y"}
    # case-insensitive identity dropped entirely (app.py:1804-1805)
    assert resolve_merge_chains({"PCE": "pce"}) == {}
    # chain through mixed case: B -> c resolved for source "b"
    assert resolve_merge_chains({"a": "B", "b": "Target"}) == {
        "a": "Target", "b": "Target",
    }


def test_golden_merge_chain_apply_case_insensitive(spark):
    """apply step (app.py:1829-1846): lookup keys are lowercase, so a
    canonical matching case-insensitively is rewritten to the stored
    target's case; value-type rows are skipped (app.py:2324-2326)."""
    from named_entity_algorithm_project_spark.operators.canonical import (
        apply_user_overrides,
    )

    rows = [
        ("Bandgap", "PROP_NAME", "Bandgap", "BANDGAP"),
        ("bandgap", "PROP_NAME", "bandgap", "BANDGAP"),
        # unmatched row with an acronym display: the reference rewrites
        # Canonical = upper(canonical) for EVERY non-skip row once a merge
        # map is set (app.py:1843-1844), clobbering the acronym form
        ("organic solar cell", "ORGANIC", "organic solar cell", "OPV"),
        ("12 %", "PROP_VALUE", "12 %", "12 %"),
    ]
    mentions = spark.createDataFrame(
        rows,
        "entity string, entity_type string, canonical string, "
        "canonical_display string",
    )
    out = apply_user_overrides(
        mentions, merge_map={"bandgap": "band gap energy"}
    )
    got = {
        (r["entity"], r["canonical"], r["canonical_display"])
        for r in out.collect()
    }
    assert got == {
        ("Bandgap", "band gap energy", "BAND GAP ENERGY"),
        ("bandgap", "band gap energy", "BAND GAP ENERGY"),
        # unmatched non-value row: canonical untouched, display rewritten
        ("organic solar cell", "organic solar cell", "ORGANIC SOLAR CELL"),
        ("12 %", "12 %", "12 %"),  # value rows bypass the merge map
    }
