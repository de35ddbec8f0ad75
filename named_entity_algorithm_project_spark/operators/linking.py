"""Stage C — entity linking: candidate edges for canonicalization.

The reference builds an all-pairs TF-IDF cosine matrix over unique entity
norms (O(N²), app.py:3046-3067) and gates edges with adaptive thresholds,
length guards, protected terms and type compatibility (app.py:3140-3183).

Here the same *scores* come from a distributed inverted-index self-join:

    norms --(ngrams UDF)--> explode --> tf --> idf (smooth) --> L2 weights
    weights ⋈ weights ON ngram  (a.norm < b.norm)
      --> pair-sum --> cosine per pair --> gate --> edges

This is exact (same formula as sklearn TfidfVectorizer char_wb 3-5 +
cosine_similarity) but never materializes N² — only pairs that share at
least one n-gram, which is also the only set that can score > 0.

The candidate join tightens this further with ppjoin-style prefix
filtering (:func:`similarity_pairs_prefix`): only pairs sharing a gram in
one side's high-weight PREFIX can reach the gate floor (Cauchy–Schwarz
over the low-weight suffixes), so the join volume falls from Σ_g df_g² to
Σ_g df_g·prefix_df_g — measured 15× on a 62k-norm corpus with the
identical gated edge set (scripts/prefix_bench.py). The naive
:func:`similarity_pairs` stays as the tests' reference for it.

Skew: the pair-sum is one groupBy(a, b). A pair has at most as many
partial products as shared n-grams, and Spark's partial aggregation
combines them map-side, so a hub pair reaches its reducer as a handful of
partial sums; AQE splits skewed join partitions. The real hazard is the
join *output*, quadratic in per-n-gram document frequency: an n-gram
present in 10⁶ norms emits ~10¹² candidate rows before any aggregation.
The df-cap drops such n-grams from candidate generation entirely (the
classic prefix-filtered similarity join). The linker sets it from the
measured vocabulary alone (:func:`auto_df_cap`): above
``AUTO_BLOCK_MIN_VOCAB`` unique norms (50k) it is ``min(5% of the
vocabulary, AUTO_BLOCK_DF_ABS)`` — the absolute bound matters because the
join output is Σ_g df_g², quadratic in per-gram df whatever the fraction;
at or below the tier the small-corpus reference parity is exact; above
it the cap is what makes the join feasible at all. The operator-level
joins (:func:`similarity_pairs`, :func:`similarity_pairs_prefix`) take
the cap as ``candidate_max_df``. Dropping a df>5%·N
n-gram loses little signal (its smooth idf is near the 1.0 floor, so it
contributes the least cosine mass): the capped score is a LOWER BOUND on
the exact cosine, measured short by <=0.06 with >=0.99 retention of pairs
0.05 above the threshold (tests/test_linking.py::test_auto_blocking_recall),
and the abbreviation/alias edge unions carry most true merges anyway
(SURVEY §7.4).

Edge gates (reference parity, app.py:3140-3183; each scalar rule has one
Python and one Column definition in functions/textnorm.py):
  * protected-term pairs never merge (both endpoints protected)
  * score >= min(adaptive_threshold(a), adaptive_threshold(b))   [sic — the
    reference takes the *min* of the two per-term floors, app.py:3172-3176]
  * short-vs-long guard (can_merge_terms, app.py:2993-3000)
  * non-UNKNOWN type sets must intersect (app.py:3015-3024), after one round
    of abbreviation-link type-union propagation (app.py:3151-3156; the
    reference mutates type sets sequentially per link — we pin the
    order-free one-round union, gated on the original sets)

Every vocabulary up to ``AUTO_BLOCK_MIN_VOCAB`` norms skips Spark,
whichever scorer is selected: the driver collects the fused vocabulary
table and runs the same cascade in Python (:func:`oracle.link_vocabulary`,
shared with the pandas oracle), scored by :func:`tfidf_prefix_pairs` (the
Python form of the prefix join) or :func:`embedding_pairs` (the dense
embedding cosine). At that size the distributed cascade is ~40 Spark jobs
whose cost is scheduling, not data: the TF-IDF scorer takes about half a
second on 8k datagen norms, and a whole local linking run on 50k Zipf
norms 18 s against the cascade's 39 s (BENCH.md). Above the tier the
distributed path runs: the df-capped prefix join for TF-IDF, and for the
semantic scorer :func:`semantic_block_pairs`, which hashes the norms into
blocks and runs :func:`embedding_pairs` once per block pair, so semantic
linking is the exact dense cosine at every size.
"""

from __future__ import annotations

import os
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dictionaries import DOMAIN_ALIAS_SUBSTRINGS, PROTECTED_TERMS, VALUE_TYPES
from ..functions.embed import embed_batch
from ..functions.localrel import local_df
from ..functions.ngrams import char_wb_ngrams_col, tfidf_vectors
from ..functions.textnorm import (
    adaptive_threshold_col,
    adaptive_threshold_floor,
    can_merge_terms_col,
    compute_base_threshold,
    normalize_entity_col,
    types_compatible_col,
)

#: A heavy df-cap can strip so much squared mass that the
#: Cauchy–Schwarz suffix rule yields an EMPTY prefix; this
#: guarantees the top-MIN_PREFIX_RANK sub-cap grams (rarest, most
#: identity-carrying) always join the prefix so case/morphology variants
#: stay reachable. Covered by tests/test_linking.py's planted-pair recall
#: test, which imports this name.
MIN_PREFIX_RANK = 4

#: The one vocabulary tier. Above AUTO_BLOCK_MIN_VOCAB unique norms the
#: linker (1) caps candidate generation: the similarity join drops n-grams
#: with df > min(max(AUTO_BLOCK_DF_FRAC·N, 100), AUTO_BLOCK_DF_ABS) (see the
#: module docstring and :func:`auto_df_cap`); and (2), through
#: LOCAL_MAX_VOCAB (a separate name only as the tests' seam), runs the
#: distributed cascade instead of the driver-local one, for either scorer.
#: That cascade pins every vocabulary-sized join input (gram keep-lists,
#: weights, per-norm stats, candidate pairs, effective-type profiles) to
#: sort-merge with .hint("merge"), at every size: at the 640k-norm tier the
#: estimate-driven broadcast of these string-heavy tables OOM'd (hash
#: relations inflate 5-10x their shuffle size — BENCH.md round-5 curve).
#: Below the tier only the fused-row overflow guard (LOCAL_FUSED_ROW_CAP)
#: and tests reach the cascade, so it keeps no second plan for them.
AUTO_BLOCK_MIN_VOCAB = 50_000
AUTO_BLOCK_DF_FRAC = 0.05
AUTO_BLOCK_DF_ABS = 4_000

#: Second, higher bound for the prefix score SIDES (the weights views):
#: below it they stay UNPINNED — they read the materialized weights
#: checkpoint, AQE's runtime broadcast of them is safe in that regime, and
#: pinning measured 2.2x slower at the 62k-norm tier (OPTIMIZATION_r06 §5b).
#: The r6 tier-4 leg (917k norms, 27M weight rows) measured the two
#: failure modes this bound arbitrates between. UNPINNED, the SMJ sides
#: shuffle on (b, ngram); zstd compresses gram postings so well that the
#: weights side measures UNDER the 64 MiB adaptive threshold, and AQE's
#: runtime SMJ->BHJ conversion builds a 2^26-slot (512 MB+) hash relation:
#: fine at 3 GiB/core (24g leg green, 1334s), OOM at 1 GiB/core. PINNED,
#: the score join streams |candidates| x |grams-per-norm| rows through the
#: (b, ngram) shuffle instead (~80 GB+ scratch at 917k norms) — the plan
#: that survives cluster scale (shuffle grows linearly and spills to
#: executor-local disk; a broadcast relation grows ~600 B/norm and
#: eventually kills ANY executor heap), but more than this sandbox's
#: scratch disk. Deployment-keyed (env), defaulting high enough that every
#: sandbox-runnable tier keeps the broadcast-eligible plan with a sized
#: heap (BENCH.md: 24g at >=900k norms); cluster deployments with
#: TB-scale shuffle dirs lower it toward ~500k to take the shuffle plan
#: before executor heaps become the binding constraint.
SCORE_PIN_MIN_VOCAB = int(os.environ.get("KG_SCORE_PIN_MIN_VOCAB", "2000000"))


@dataclass
class LinkingTables:
    norms: DataFrame  # norm, freq, types:array<string>
    edges: DataFrame  # src, dst (deduped, src < dst)
    nodes: DataFrame  # norm: component universe (norms + abbrev/alias endpoints)
    base_threshold: float
    # observability: unique linkable norms and the EFFECTIVE df cap the
    # similarity join ran with (None = uncapped / semantic scorer)
    n_norms: int = 0
    candidate_max_df: Optional[int] = None


# NOTE: the n-gram generator is a pure Column expression
# (functions.ngrams.char_wb_ngrams_col) — the former pandas UDF made every
# consuming task block on a Python worker and its non-canonicalizable
# PythonUDF expression defeated AQE exchange reuse (the TF-IDF explode
# stage measurably executed once per DAG branch, 4x).


def tfidf_weights(norms: DataFrame, n_norms: int) -> DataFrame:
    """L2-normalized smooth TF-IDF weights: (norm, ngram, w).

    ``n_norms`` is the vocabulary size (a single scalar — computed once by
    the caller; keeping it a Python literal lets Catalyst constant-fold the
    idf expression).
    """
    tf = (
        norms.select(
            "norm", F.explode(char_wb_ngrams_col(F.col("norm"))).alias("ngram")
        )
        .groupBy("norm", "ngram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    # merge-join hints (see AUTO_BLOCK_MIN_VOCAB) on BOTH weight-assembly
    # joins: df_counts is gram-vocabulary-sized and norms_sq is
    # norm-vocabulary-sized — at the 640k-norm tier an estimate-driven
    # broadcast of either OOMs the driver building the hash relation
    # (string keys inflate 5-10x their shuffle size; BENCH.md round-5
    # curve). Both joins share the tf frame's own shuffle
    # keys, so sort-merge costs no extra exchange there.
    weighted = tf.join(df_counts.hint("merge"), "ngram").withColumn(
        "w_raw",
        F.col("tf")
        * (
            F.log((F.lit(1.0 + n_norms)) / (F.lit(1.0) + F.col("df")))
            + F.lit(1.0)
        ),
    )
    norms_sq = weighted.groupBy("norm").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("l2")
    )
    return (
        weighted.join(norms_sq.hint("merge"), "norm")
        .select("norm", "ngram", (F.col("w_raw") / F.col("l2")).alias("w"))
    )


def _drop_capped_grams(
    weights: DataFrame, candidate_max_df: Optional[int]
) -> DataFrame:
    """``weights`` without the n-grams whose df (number of norms carrying
    the gram) exceeds the cap (unchanged when uncapped) — the df-cap
    keep-list of both similarity joins."""
    if candidate_max_df is None:
        return weights
    df_counts = weights.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    # merge-join hint: `keep` is GRAM-vocabulary-sized (~10-15x the norm
    # count). An explicit broadcast OOM'd the 640k-norm tier, and even
    # AQE's own estimate-driven broadcast choice did (string-heavy gram
    # tables inflate 5-10x their estimated size as hash relations) —
    # BENCH.md round-5 curve. The join key is ngram, which the postings
    # join shuffles on anyway.
    keep = (
        df_counts.filter(F.col("df") <= candidate_max_df)
        .select("ngram")
        .hint("merge")
    )
    return weights.join(keep, "ngram")


def _pair_sum(joined: DataFrame) -> DataFrame:
    """(a, b, score): the sum of wa*wb over each pair's shared n-grams, in
    one aggregation (see the module docstring on skew)."""
    return joined.groupBy("a", "b").agg(
        F.sum(F.col("wa") * F.col("wb")).alias("score")
    )


def similarity_pairs(
    weights: DataFrame, candidate_max_df: Optional[int] = None
) -> DataFrame:
    """Exact cosine for every norm pair sharing an n-gram: (a, b, score)."""
    weights = _drop_capped_grams(weights, candidate_max_df)
    left = weights.select(
        F.col("norm").alias("a"), "ngram", F.col("w").alias("wa")
    )
    right = weights.select(
        F.col("norm").alias("b"), "ngram", F.col("w").alias("wb")
    )
    return _pair_sum(left.join(right, "ngram").filter(F.col("a") < F.col("b")))


def similarity_pairs_prefix(
    weights: DataFrame,
    gate_floor: float,
    candidate_max_df: Optional[int] = None,
    score_pin: bool = False,
) -> DataFrame:
    """Prefix-filtered similarity join (AllPairs/ppjoin family — Bayardo
    et al., "Scaling Up All Pairs Similarity Search", WWW'07): a fraction
    of the naive join volume, with provable relations to
    :func:`similarity_pairs`'s output.

    The edge gate never passes a pair below ``gate_floor``
    (= adaptive_threshold_floor(base) — the minimum of the reference's
    per-term thresholds, app.py:3003-3012). Split each norm's n-gram
    vector into a high-weight PREFIX and a low-weight SUFFIX such that the
    suffix's squared mass stays under the floor; by Cauchy–Schwarz a pair
    whose shared grams all fall in both suffixes scores
    ≤ ‖suf_a‖·‖suf_b‖ < gate_floor, so only pairs sharing at least one
    PREFIX gram can ever pass the gate. Candidate generation joins
    postings × prefix-postings (Σ_g df_g·prefix_df_g rows instead of the
    naive Σ_g df_g² — the high-df grams that dominate the quadratic term
    carry the least idf weight, so they land in suffixes and their df²
    blowup disappears), then the cosine is recomputed per candidate with
    the same pair-sum as the naive join. UNCAPPED,
    the gated edge set is IDENTICAL to the naive join's (pinned in
    tests/test_linking.py).

    ``candidate_max_df`` bounds CANDIDATE GENERATION only (grams with
    df>cap never join), while scoring runs over the FULL vectors — every
    emitted score is the EXACT cosine. The gated edge set is a SUPERSET of
    the naive capped path's: a naive-capped edge shares a sub-cap gram
    scoring ≥ the gate, which cannot happen with all shared sub-cap grams
    in both suffixes (the Cauchy–Schwarz bound), so the pair is a
    candidate here too, and its exact score ≥ the naive lower bound. This
    closes the measured quality hole where a morphology-heavy vocabulary
    (every gram of a planted alias pair moderately common) drove even
    cosine-1.0 case variants' capped lower-bound scores under the gate —
    planted-pair recall collapsed to 0 while the exact join held 0.5+
    (test_planted_pair_recall_under_cap pins the recovery).

    ``weights`` feeds several consumers (prefix marking, the candidate
    join, the score sides): pass it materialized (``localCheckpoint``) so
    the TF-IDF explode/agg DAG runs once.
    """
    cand_weights = _drop_capped_grams(weights, candidate_max_df)
    # float-safety margin widens prefixes slightly (never prunes a pair the
    # exact arithmetic could pass)
    t_eff = max(gate_floor - 1e-9, 0.0)

    w2 = F.col("w") * F.col("w")
    order_win = Window.partitionBy("norm").orderBy(F.desc("w"), F.asc("ngram"))
    cum = F.sum(w2).over(
        order_win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum(w2).over(Window.partitionBy("norm"))
    # suffix mass BEFORE this row (descending-weight order): the row joins
    # the prefix while the not-yet-covered tail could still reach the floor
    marked = cand_weights.withColumn("_suffix_before", total - cum + w2)
    keep_prefix = F.col("_suffix_before") >= t_eff
    if candidate_max_df is not None:
        # Under a heavy cap a vector can lose so much squared mass that the
        # suffix rule yields an EMPTY prefix (capped total < gate floor) —
        # consistent with the naive capped gate (its lower-bound score
        # cannot pass either) but fatal for exact scoring. Guarantee a
        # minimum prefix of the top-weight SUB-CAP grams: those are the
        # rarest, most identity-carrying grams (df of a few), so the extra
        # candidate volume is tiny while pairs whose similarity lives in
        # rare grams (case/morphology variants of the same surface form)
        # stay reachable.
        rank = F.row_number().over(order_win)
        keep_prefix = keep_prefix | (rank <= F.lit(MIN_PREFIX_RANK))
    marked = marked.withColumn("_keep", keep_prefix)
    prefix = marked.filter(F.col("_keep")).select("norm", "ngram")

    # ONE postings×prefix join covers both orientations: a pair sharing a
    # gram in EITHER side's prefix appears (normalized to a < b)
    cand = (
        cand_weights.select(F.col("norm").alias("x"), "ngram")
        # prefix is ~MIN_PREFIX_RANK..8 rows per norm — far past any sane
        # broadcast at vocab scale; same merge-hint rationale as `keep`
        .join(
            prefix.select(F.col("norm").alias("y"), "ngram").hint("merge"),
            "ngram",
        )
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )

    # AllPairs length/maxweight filter (Bayardo §3.1, adapted to weighted
    # cosine): before paying the per-gram score join, drop candidates whose
    # vector-level stats bound the dot product under the gate. For the
    # shared-gram sum,  dot ≤ maxw(b)·Σ_shared wa ≤ maxw(b)·‖a‖₁  and
    # symmetrically, and  dot ≤ |shared|·maxw(a)·maxw(b) ≤
    # min(n_a,n_b)·maxw(a)·maxw(b)  — both exact inequalities, so pruning
    # on their min keeps the gated edge set IDENTICAL (the binary-cosine
    # √(n_a/n_b) count-ratio bound is NOT sound for TF-IDF weights and is
    # deliberately not used). Stats come from the full vectors because the
    # emitted score is the full cosine.
    stats = (  # vocabulary-sized — sort-merge
        weights.groupBy("norm")
        .agg(
            F.max("w").alias("_maxw"),
            F.sum("w").alias("_l1"),
            F.count(F.lit(1)).alias("_n"),
        )
        .hint("merge")
    )
    cand = (
        cand.join(
            stats.select(
                F.col("norm").alias("a"),
                F.col("_maxw").alias("_maxw_a"),
                F.col("_l1").alias("_l1_a"),
                F.col("_n").alias("_n_a"),
            ),
            "a",
        )
        .join(
            stats.select(
                F.col("norm").alias("b"),
                F.col("_maxw").alias("_maxw_b"),
                F.col("_l1").alias("_l1_b"),
                F.col("_n").alias("_n_b"),
            ),
            "b",
        )
        .filter(
            F.least(
                F.col("_maxw_b") * F.col("_l1_a"),
                F.col("_maxw_a") * F.col("_l1_b"),
                F.col("_maxw_a")
                * F.col("_maxw_b")
                * F.least("_n_a", "_n_b").cast("double"),
            )
            # extra 1e-9 margin: the bound dominates the score in EXACT
            # arithmetic; the margin makes the float64-computed comparison
            # safe too, so the gated edge set stays md5-identical
            >= F.lit(t_eff - 1e-9)
        )
        .select("a", "b")
    )

    # The score SIDES stay unpinned in the mid-vocabulary regime (AQE's
    # runtime broadcast of the materialized weights is safe there, and
    # pinning measured 2.2x slower at the 62k-norm tier) but are
    # sort-merge-pinned above SCORE_PIN_MIN_VOCAB: at weights scale the
    # zstd-compressed (b, ngram) shuffle of the side measures UNDER the
    # adaptive broadcast threshold while the string-keyed hash relation it
    # would build is 512 MB+ — the r6 tier-4 OOM (see the constant's doc).
    left = weights.select(
        F.col("norm").alias("a"), "ngram", F.col("w").alias("wa")
    )
    right = weights.select(
        F.col("norm").alias("b"), "ngram", F.col("w").alias("wb")
    )
    if score_pin:
        left, right = left.hint("merge"), right.hint("merge")
    # merge hint: the candidate-pair table is |pairs|-sized (millions at
    # vocab scale) — an estimate-driven broadcast of it into the score join
    # was the last of the four OOM sites the 640k-norm tier exposed
    joined = cand.hint("merge").join(left, "a").join(right, ["b", "ngram"])
    return _pair_sum(joined).filter(F.col("score") >= F.lit(t_eff))


def tfidf_prefix_pairs(
    norms: List[str], gate_floor: float
) -> Dict[Tuple[str, str], float]:
    """The Python form of the uncapped :func:`similarity_pairs_prefix`, the
    driver-local linker's scorer: the same suffix-mass prefix rule, the
    same maxweight/length filter and margins, then the exact cosine of each
    surviving candidate. Returns ``{(a, b): score}`` (a < b) for the pairs
    scoring >= ``gate_floor - 1e-9``: exactly the naive scorer's
    (``oracle._tfidf_cosine_pairs``) pairs in that range, with bit-equal
    scores, because the shared n-grams are summed in the naive scorer's
    order (first occurrence over the vocabulary)."""
    vecs = tfidf_vectors(norms)
    t_eff = max(gate_floor - 1e-9, 0.0)
    gram_id: Dict[str, int] = {}
    postings: Dict[str, List[int]] = defaultdict(list)
    for i, v in enumerate(vecs):
        for g in v:
            gram_id.setdefault(g, len(gram_id))
            postings[g].append(i)

    cand = set()
    for y, v in enumerate(vecs):
        total = sum(w * w for w in v.values())
        cum = 0.0
        for g, w in sorted(v.items(), key=lambda gw: (-gw[1], gw[0])):
            cum += w * w
            # the Column form's _suffix_before >= t_eff, row by row
            if total - cum + w * w >= t_eff:
                cand.update(
                    (x, y) if x < y else (y, x) for x in postings[g] if x != y
                )
    stats = [
        (max(v.values(), default=0.0), sum(v.values()), len(v)) for v in vecs
    ]

    out: Dict[Tuple[str, str], float] = {}
    for a, b in cand:
        maxw_a, l1_a, n_a = stats[a]
        maxw_b, l1_b, n_b = stats[b]
        # the Column form's maxweight/length filter, same 1e-9 margin
        if min(
            maxw_b * l1_a, maxw_a * l1_b, maxw_a * maxw_b * min(n_a, n_b)
        ) < t_eff - 1e-9:
            continue
        va, vb = vecs[a], vecs[b]
        score = 0.0
        for g in sorted(va.keys() & vb.keys(), key=gram_id.__getitem__):
            score += va[g] * vb[g]
        if score >= t_eff:
            x, y = norms[a], norms[b]
            out[(x, y) if x < y else (y, x)] = score
    return out


def embedding_pairs(
    *blocks: List[str], gate_floor: float
) -> Dict[Tuple[str, str], float]:
    """The semantic kernel: the reference's dense embedding cosine
    (app.py:3084-3110) over :func:`embed.embed_batch`, returning
    ``{(a, b): score}`` (a < b) for the pairs scoring
    >= ``gate_floor - 1e-9``, the contract of :func:`tfidf_prefix_pairs`.
    One block of norms scores the pairs within it (the driver-local
    linker's scorer); two blocks score the pairs across them (one block
    pair of :func:`semantic_block_pairs`).

    A row-chunked matmul prefilters the pairs (one more 1e-9 of margin, so
    BLAS rounding never drops one); each survivor's score is then
    recomputed as a sequential float64 sum over the dimensions, so a
    pair's score bits never depend on which block scored it."""
    lo, hi = blocks[0], blocks[-1]
    if not lo or not hi:
        return {}
    same = len(blocks) == 1
    mat_lo = embed_batch(lo)
    mat_hi = mat_lo if same else embed_batch(hi)
    t_eff = max(gate_floor - 1e-9, 0.0)
    # ~8M similarities (64 MB) per row chunk, whatever the block sizes
    chunk = max(1, (1 << 23) // len(hi))
    out: Dict[Tuple[str, str], float] = {}
    for i0 in range(0, len(lo), chunk):
        # within one block only the upper triangle is scored
        j0 = i0 if same else 0
        sims = mat_lo[i0 : i0 + chunk] @ mat_hi[j0:].T
        ii, jj = np.nonzero(sims >= t_eff - 1e-9)
        if same:
            upper = jj > ii
            ii, jj = ii[upper], jj[upper]
        i, j = ii + i0, jj + j0
        scores = np.cumsum(mat_lo[i] * mat_hi[j], axis=1)[:, -1]
        for a, b, score in zip(i.tolist(), j.tolist(), scores.tolist()):
            if score >= t_eff:
                x, y = lo[a], hi[b]
                out[(x, y) if x < y else (y, x)] = score
    return out


def semantic_block_pairs(norms: DataFrame, gate_floor: float) -> DataFrame:
    """The semantic scorer above the local tier: exactly
    :func:`embedding_pairs` of the whole vocabulary, as (a, b, score)
    rows, partitioned so no Python worker holds more than two blocks.

    Each norm goes to block ``pmod(xxhash64(norm), nb)`` and is copied to
    every block pair ``(lo, hi)`` holding its block; one
    ``applyInPandas`` task per pair runs the kernel (the self pair scores
    within its block, the others across their two). ``nb`` is the
    smallest count giving at least ``spark.sql.shuffle.partitions`` block
    pairs, raised until no block exceeds ``AUTO_BLOCK_MIN_VOCAB`` norms
    (one driver-tier vocabulary). The explicit repartition fixes the stage
    at nb(nb+1)/2 tasks, which AQE does not coalesce (without it AQE
    folded 10 block pairs into 2 tasks); the pairs are hash-partitioned,
    so one task can still hold several."""
    spark = norms.sparkSession
    n_pairs = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nb = 1
    while nb * (nb + 1) // 2 < n_pairs:
        nb += 1
    while True:
        blocked = norms.select(
            "norm", F.pmod(F.xxhash64("norm"), F.lit(nb)).alias("block")
        )
        sizes = blocked.groupBy("block").count()
        if (sizes.agg(F.max("count")).first()[0] or 0) <= AUTO_BLOCK_MIN_VOCAB:
            break
        nb += 1

    def score(key, pdf):
        blocks = [pdf.norm[pdf.block == b].tolist() for b in sorted(set(key))]
        pairs = embedding_pairs(*blocks, gate_floor=gate_floor)
        return pd.DataFrame(
            {
                "a": [a for a, _ in pairs],
                "b": [b for _, b in pairs],
                "score": np.fromiter(pairs.values(), np.float64, len(pairs)),
            }
        )

    k = F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))
    return (
        blocked.select("norm", "block", k.alias("k"))
        .select(
            "norm",
            "block",
            F.least("block", "k").alias("lo"),
            F.greatest("block", "k").alias("hi"),
        )
        .repartition(nb * (nb + 1) // 2, "lo", "hi")
        .groupBy("lo", "hi")
        .applyInPandas(score, "a string, b string, score double")
    )


def domain_alias_edges(all_nodes: DataFrame) -> DataFrame:
    """Substring-alias edges (app.py:2976-2982, 3157-3164): a term containing
    a known domain substring links to its short alias. Protected endpoints
    are skipped (app.py:3158-3159)."""
    frames = []
    for needle, alias in sorted(DOMAIN_ALIAS_SUBSTRINGS.items()):
        if alias in PROTECTED_TERMS:
            continue
        frames.append(
            all_nodes.filter(
                F.col("norm").contains(F.lit(needle))
                & (F.col("norm") != F.lit(alias))
                & ~F.col("norm").isin(*sorted(PROTECTED_TERMS))
            ).select(F.col("norm").alias("src"), F.lit(alias).alias("dst"))
        )
    if not frames:
        return local_df(
            all_nodes.sparkSession, [], "src string, dst string"
        )
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out.distinct()


def gate_scored_pairs(
    scored: DataFrame,
    profiles_eff: DataFrame,
    protected: list,
    base: float,
) -> DataFrame:
    """The reference's edge gate cascade (app.py:3140-3183), applied to ANY
    (a, b, score) candidate source — TF-IDF inverted-index scores and
    semantic-embedding scores go through the identical gates, exactly as
    _build_cluster_maps treats its similarity_lookup regardless of origin."""
    # merge-join hints: profiles_eff is vocabulary-sized, and at the
    # 640k-norm tier TWO concurrent estimate-driven broadcasts of it
    # (string-keyed hash relations inflate 5-10x) OOM'd the shared local
    # heap while evaluating the edges checkpoint (BENCH.md round-5 curve);
    # on a real cluster the same build happens per executor. The scored
    # pairs are already shuffled, so sort-merge adds only the profile-side
    # exchange.
    eff_a = profiles_eff.select(
        F.col("norm").alias("a"), F.col("types").alias("types_a")
    ).hint("merge")
    eff_b = profiles_eff.select(
        F.col("norm").alias("b"), F.col("types").alias("types_b")
    ).hint("merge")
    return (
        scored.join(eff_a, "a")
        .join(eff_b, "b")
        .filter(~(F.col("a").isin(*protected) & F.col("b").isin(*protected)))
        .filter(
            F.col("score")
            >= F.least(
                adaptive_threshold_col(F.col("a"), base),
                adaptive_threshold_col(F.col("b"), base),
            )
        )
        .filter(can_merge_terms_col(F.col("a"), F.col("b")))
        .filter(types_compatible_col(F.col("types_a"), F.col("types_b")))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


def _fused_rows_from_extracted(extracted: DataFrame) -> DataFrame:
    """(kind, k1, k2) rows for the fused vocabulary aggregate from the
    Stage-A extraction frame in ONE scan + ONE generate: "M" rows are
    (norm, type) per linkable mention (non-value types, non-empty norm —
    app.py:3256, normalize_entity app.py:2946-2961), "A" rows are
    (abbr, expansion) per abbreviation pair. The mention and abbreviation
    arrays are transformed/filtered per row and concatenated BEFORE the
    explode, so the corpus is read once — at 10^12 turns the Stage-B
    corpus pass is the dominant I/O."""
    m_structs = F.filter(
        F.transform(
            F.coalesce(F.col("ex.mentions"), F.array()),
            lambda m: F.struct(
                F.lit("M").alias("kind"),
                normalize_entity_col(m["entity"]).alias("k1"),
                F.upper(normalize_entity_col(m["entity_type"])).alias("k2"),
                F.upper(m["entity_type"]).alias("_raw"),
            ),
        ),
        # skip-type filter on the UNTRIMMED upper(entity_type); non-empty
        # trimmed norm
        lambda s: ~s["_raw"].isin(*VALUE_TYPES) & (s["k1"] != ""),
    )
    a_structs = F.filter(
        F.transform(
            F.coalesce(F.col("ex.abbreviations"), F.array()),
            lambda a: F.struct(
                F.lit("A").alias("kind"),
                normalize_entity_col(a["abbr"]).alias("k1"),
                normalize_entity_col(a["expansion"]).alias("k2"),
                F.lit("").alias("_raw"),
            ),
        ),
        lambda s: (s["k1"] != "") & (s["k2"] != ""),
    )
    return (
        extracted.select(F.explode(F.concat(m_structs, a_structs)).alias("r"))
        .select("r.kind", "r.k1", "r.k2")
    )


#: Vocabulary size up to which the linking cascade runs driver-side from
#: the collected fused table, for both scorers: exactly the vocabularies
#: the TF-IDF join runs UNCAPPED (see :func:`auto_df_cap`). There the
#: Python scorers (:func:`tfidf_prefix_pairs`, :func:`embedding_pairs`)
#: beat the ~40-job Spark cascade, whose cost is job scheduling at this
#: size (BENCH.md, driver-local crossover). Above it the distributed path
#: runs; its semantic scorer splits the vocabulary into blocks of at most
#: ``AUTO_BLOCK_MIN_VOCAB`` norms (one such tier each) and scores the same
#: pairs with the same bits. Read at call time, so tests force the
#: distributed path by setting it to 0.
LOCAL_MAX_VOCAB = AUTO_BLOCK_MIN_VOCAB
#: bounded-collect guard for the fused table: one row per (norm, type) and
#: per abbreviation pair, 1.1-1.25 rows per norm on datagen vocabularies,
#: so 4 rows per local-tier norm. It bounds what the collect holds on the
#: driver when the vocabulary is too big for the local path: 200k rows,
#: about 100 MB of Python Row objects (~500 bytes a row).
LOCAL_FUSED_ROW_CAP = 4 * LOCAL_MAX_VOCAB


def auto_df_cap(n_norms: int) -> Optional[int]:
    """The AUTO df-cap for a vocabulary size, None while the join runs exact."""
    if n_norms <= AUTO_BLOCK_MIN_VOCAB:
        return None
    return min(max(int(AUTO_BLOCK_DF_FRAC * n_norms), 100), AUTO_BLOCK_DF_ABS)


def _build_linking_tables_local(
    spark, fused_rows, score_source: str
) -> LinkingTables:
    """Driver-side LinkingTables from the COLLECTED fused (kind, k1, k2,
    cnt) table: the oracle's cascade (:func:`oracle.link_vocabulary`) over
    the collected vocabulary, scored by :func:`tfidf_prefix_pairs` or
    :func:`embedding_pairs`, returned as local relations. Parity with the
    oracle and the distributed path is pinned by
    tests/test_linking.py::test_local_path_parity and the adversarial
    differential test."""
    from ..oracle import link_vocabulary

    freq: dict = defaultdict(int)
    types: dict = defaultdict(set)
    abbr_pairs = set()
    for r in fused_rows:
        if r["kind"] == "M":
            freq[r["k1"]] += int(r["cnt"])
            types[r["k1"]].add(r["k2"])
        else:
            abbr_pairs.add((r["k1"], r["k2"]))
    base = compute_base_threshold(sum(freq.values()))
    scorer = embedding_pairs if score_source == "semantic" else tfidf_prefix_pairs
    eff_types, edges, nodes = link_vocabulary(
        freq,
        types,
        abbr_pairs,
        base,
        partial(scorer, gate_floor=adaptive_threshold_floor(base)),
    )
    return LinkingTables(
        norms=local_df(
            spark,
            [(n, freq[n], eff_types[n]) for n in sorted(freq)],
            "norm string, freq bigint, types array<string>",
        ),
        edges=local_df(spark, sorted(edges), "src string, dst string"),
        nodes=local_df(spark, [(n,) for n in sorted(nodes)], "norm string"),
        base_threshold=base,
        n_norms=len(freq),
    )


def build_linking_tables(
    extracted: DataFrame, score_source: str = "tfidf"
) -> LinkingTables:
    """Assemble the full gated edge list for connected components from the
    Stage-A extraction frame (one row per turn with an ``ex``
    struct<mentions, abbreviations> column, :func:`extract.extract_combined`).

    ``score_source`` selects the candidate scorer feeding the (shared) gate
    cascade: "tfidf" (default — the reference's primary path) or
    "semantic" (L4, the embedding cosine — the reference's use_semantic
    path, app.py:3084-3110); anything else raises ``ValueError``. Up to
    ``LOCAL_MAX_VOCAB`` norms either scorer links exactly on the driver;
    above it "semantic" runs the same exact kernel per block pair
    (:func:`semantic_block_pairs`).

    The df-cap is :func:`auto_df_cap` of the measured vocabulary: exact (no
    n-gram dropped) up to ``AUTO_BLOCK_MIN_VOCAB`` unique norms, else
    capped at ``min(AUTO_BLOCK_DF_FRAC * n_norms, AUTO_BLOCK_DF_ABS)``. The
    join's output is Σ_g df_g² — a FRACTIONAL cap alone leaves it quadratic
    in N (5% of 10⁶ is a 50k-df gram emitting 2.5G candidate rows), so the
    absolute bound is what actually caps per-gram fanout at web scale;
    scripts/linking_bench.py records the measured curves.
    """
    if score_source not in ("tfidf", "semantic"):
        raise ValueError(f"unknown score_source {score_source!r}")
    spark = extracted.sparkSession
    # ONE corpus pass for BOTH corpus-scale inputs: the norm profiles and
    # the distinct abbreviation pairs ride a single fused groupBy over one
    # scan + generate (:func:`_fused_rows_from_extracted`). The fused
    # aggregate is vocabulary-scale, so every downstream derivation
    # (profiles, abbr edges, scalar stats) works on the checkpointed small
    # table.
    fused = (
        _fused_rows_from_extracted(extracted)
        .groupBy("kind", "k1", "k2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # --- driver-local path up to the tier (see LOCAL_MAX_VOCAB) -----------
    # One bounded collect of the fused table doubles as the size gate and
    # the data.
    if LOCAL_MAX_VOCAB > 0:
        sample = fused.limit(LOCAL_FUSED_ROW_CAP + 1).collect()
        if len(sample) <= LOCAL_FUSED_ROW_CAP:
            n_local = len({r["k1"] for r in sample if r["kind"] == "M"})
            if n_local <= LOCAL_MAX_VOCAB:
                return _build_linking_tables_local(spark, sample, score_source)
    # freq = mention count per norm, types = sorted set of
    # upper(normalize_entity(entity_type)) (app.py:3256-3263)
    profiles = (
        fused.filter(F.col("kind") == "M")
        .groupBy(F.col("k1").alias("norm"))
        .agg(
            F.sum("cnt").alias("freq"),
            F.array_sort(F.collect_set("k2")).alias("types"),
        )
    ).persist()
    stats = profiles.agg(
        F.coalesce(F.sum("freq"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_norms"),
    ).collect()[0]
    n_rows, n_norms = int(stats["n_rows"]), int(stats["n_norms"])
    base = compute_base_threshold(n_rows)
    candidate_max_df = auto_df_cap(n_norms)

    protected = sorted(PROTECTED_TERMS)

    # --- abbreviation edges, gated on ORIGINAL type sets -------------------
    # distinct (src=abbr_norm, dst=expansion_norm) pairs from the per-turn
    # abbreviation registry (app.py:3027-3043), derived from the fused
    # single-pass aggregate (already trimmed/non-empty/distinct)
    abbr_raw = fused.filter(F.col("kind") == "A").select(
        F.col("k1").alias("src"), F.col("k2").alias("dst")
    )
    # merge hints: these profile projections are vocabulary-sized, and
    # LeftOuter can only build-right — an estimate-driven broadcast of the
    # 917k-norm profiles (compressed shuffle bytes under the threshold,
    # string-keyed hash relation inflating 5-10x at build) OOM'd the edges
    # checkpoint at 1 GiB/core (r6 tier-4 finding; same class as the r5
    # profiles_eff pins)
    prof_src = profiles.select(
        F.col("norm").alias("src"), F.col("types").alias("types_src")
    ).hint("merge")
    prof_dst = profiles.select(
        F.col("norm").alias("dst"), F.col("types").alias("types_dst")
    ).hint("merge")
    abbr_gated = (
        abbr_raw.join(prof_src, "src", "left")
        .join(prof_dst, "dst", "left")
        .filter(
            ~(F.col("src").isin(*protected) & F.col("dst").isin(*protected))
        )
        .filter(types_compatible_col(F.col("types_src"), F.col("types_dst")))
        .select("src", "dst")
    ).persist()

    # one-round abbreviation type-union propagation (see module docstring):
    # every endpoint's effective set gains its abbrev-neighbors' types.
    abbr_sym = abbr_gated.unionByName(
        abbr_gated.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    neighbor_types = (
        abbr_sym.join(
            # vocabulary-sized dim — same hint rationale as prof_src/dst
            profiles.select(F.col("norm").alias("dst"), "types").hint("merge"),
            "dst",
            "left",
        )
        .select(F.col("src").alias("norm"), "types")
        .filter(F.col("types").isNotNull())
        .select("norm", F.explode("types").alias("t"))
    )
    own_types = profiles.select("norm", F.explode("types").alias("t"))
    effective_types = (
        own_types.unionByName(neighbor_types)
        .groupBy("norm")
        .agg(F.array_sort(F.collect_set("t")).alias("types"))
    )
    # norms with no original profile (abbrev-only endpoints) default UNKNOWN
    # (merge hint: effective_types is vocabulary-sized — same broadcast-OOM
    # rationale as gate_scored_pairs)
    profiles_eff = (
        profiles.select("norm", "freq")
        .join(effective_types.hint("merge"), "norm", "left")
        .withColumn("types", F.coalesce(F.col("types"), F.array(F.lit("UNKNOWN"))))
    )

    # --- node universe ------------------------------------------------------
    abbr_nodes = (
        abbr_gated.select(F.col("src").alias("norm"))
        .unionByName(abbr_gated.select(F.col("dst").alias("norm")))
        .distinct()
    )
    all_nodes = (
        profiles.select("norm").unionByName(abbr_nodes).distinct().persist()
    )

    # --- domain alias edges --------------------------------------------------
    alias_edges = domain_alias_edges(all_nodes)
    alias_nodes = alias_edges.select(F.col("dst").alias("norm")).distinct()
    all_nodes_full = all_nodes.unionByName(alias_nodes).distinct()

    # --- similarity edges -----------------------------------------------------
    if score_source == "semantic":
        scored = semantic_block_pairs(
            profiles.select("norm"), adaptive_threshold_floor(base)
        )
    else:
        # the df-cap keep-list and the prefix join both consume the weights
        # — materialize them once
        weights = tfidf_weights(profiles.select("norm"), n_norms).localCheckpoint(
            eager=True
        )
        scored = similarity_pairs_prefix(
            weights,
            gate_floor=adaptive_threshold_floor(base),
            candidate_max_df=candidate_max_df,
            score_pin=n_norms > SCORE_PIN_MIN_VOCAB,
        )

    sim_edges = gate_scored_pairs(scored, profiles_eff, protected, base)

    edges = (
        abbr_gated.unionByName(alias_edges)
        .unionByName(sim_edges)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )

    # Materialize the three output tables eagerly (they are vocabulary-sized,
    # tiny next to the corpus), then release the cached intermediates so
    # repeated invocations in one session don't accumulate cache blocks.
    # The three materializations are independent — submit them from a small
    # thread pool so their stages back-fill each other's scheduling gaps
    # (guide §2.6); Spark's scheduler handles concurrent jobs natively. The
    # pool threads inherit the caller's local properties (the kg:<phase>
    # job description), which a plain thread does not.
    def checkpoint(frame: DataFrame) -> DataFrame:
        return frame.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_norms, f_edges, f_nodes = (
            pool.submit(inheritable_thread_target(spark)(checkpoint), frame)
            for frame in (profiles_eff, edges, all_nodes_full)
        )
        out = LinkingTables(
            norms=f_norms.result(),
            edges=f_edges.result(),
            nodes=f_nodes.result(),
            base_threshold=base,
            n_norms=int(n_norms),
            candidate_max_df=(
                candidate_max_df if score_source == "tfidf" else None
            ),
        )
    profiles.unpersist()
    abbr_gated.unpersist()
    all_nodes.unpersist()
    return out
