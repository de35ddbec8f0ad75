"""Stage C — entity linking: candidate edges for canonicalization.

The reference builds an all-pairs TF-IDF cosine matrix over unique entity
norms (O(N²), app.py:3046-3067) and gates edges with adaptive thresholds,
length guards, protected terms and type compatibility (app.py:3140-3183).

Here one Python kernel per scorer computes the same *scores* without the
N² matrix: :func:`tfidf_prefix_pairs` (ppjoin-style prefix filtering —
Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07 — then
the exact cosine of each surviving candidate) or :func:`embedding_pairs`
(a blocked matmul over the dense embeddings). Each takes one block of
norms (the pairs within it) or two (the pairs across them) and returns
the pairs at or above the gate floor with the bits of the one-block run.
The gate cascade (:func:`textnorm.gate_pair_scores`) runs on them:

  * protected-term pairs never merge (both endpoints protected)
  * score >= min(adaptive_threshold(a), adaptive_threshold(b))   [sic — the
    reference takes the *min* of the two per-term floors, app.py:3172-3176]
  * short-vs-long guard (can_merge_terms, app.py:2993-3000)
  * non-UNKNOWN type sets must intersect (app.py:3015-3024), after one round
    of abbreviation-link type-union propagation (app.py:3151-3156; the
    reference mutates type sets sequentially per link — we pin the
    order-free one-round union, gated on the original sets)

One cascade links every vocabulary, on the driver. One corpus pass builds
the fused ``(kind, k1, k2, cnt)`` vocabulary aggregate, one Arrow collect
brings it to the driver, and :func:`oracle.link_vocabulary` (the pandas
oracle's cascade) runs the abbreviation gate, the type propagation, the
domain aliases and the similarity gate over it. Only pair scoring is not
linear in the vocabulary, so only it may leave the driver process. Up to
``LOCAL_MAX_VOCAB`` norms the one-block kernel scores the pairs on the
driver: at that size a Spark stage costs scheduling, not data (the TF-IDF
scorer takes about half a second on 8k datagen norms, BENCH.md). Above the
tier :func:`gated_block_pairs` partitions the vocabulary (the
split-join-verify-once plan of "Scalable and Robust Set Similarity Join",
ICDE'18): each norm is hashed to one of ``nb`` blocks and one
``applyInPandas`` task per block pair runs the kernel and the gate on its
one or two blocks, so every pair is scored once, by the kernel the driver
runs, and only the gated pairs come back. The TF-IDF tasks take each gram's
vocabulary document frequency from one Spark count, so their vectors are
the whole vocabulary's.

The trade-off: driver memory is O(vocabulary). The collected aggregate and
the cascade's dicts cost about 1 KB of Python heap per norm: linking 233k
norms took the Python driver from 113 MB to a 369 MB peak, and the cascade
alone peaked at 898 MB on 917k norms (BENCH.md). So an 8 GiB driver holds
a few million norms; no linker of this package has been run above 917k.

The df-cap: above ``AUTO_BLOCK_MIN_VOCAB`` norms (50k) n-grams with df
over :func:`auto_df_cap` drop out of TF-IDF candidate generation — the
Σ_g df_g² candidate volume is quadratic in per-gram df whatever the
vocabulary's size, so the cap has an absolute bound. Capped grams still
score: every emitted score is the exact full-vector cosine, and the
rarest ``MIN_PREFIX_RANK`` sub-cap grams of every norm stay candidates,
so case/morphology variants whose similarity lives in rare grams stay
reachable (tests/test_linking.py pins the margin recall and the
planted-pair recall under the cap). The abbreviation/alias edge unions
carry most true merges anyway (SURVEY §7.4).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Dict, List, Mapping, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dictionaries import VALUE_TYPES
from ..functions.embed import embed_batch
from ..functions.localrel import local_df
from ..functions.ngrams import char_wb_ngrams_col, tfidf_vectors
from ..functions.textnorm import (
    adaptive_threshold_floor,
    compute_base_threshold,
    gate_pair_scores,
    normalize_entity_col,
)
from ..oracle import link_vocabulary

#: A heavy df-cap can strip so much squared mass that the
#: Cauchy–Schwarz suffix rule yields an EMPTY prefix; this
#: guarantees the top-MIN_PREFIX_RANK sub-cap grams (rarest, most
#: identity-carrying) always join the prefix so case/morphology variants
#: stay reachable. Covered by tests/test_linking.py's planted-pair recall
#: test, which imports this name.
MIN_PREFIX_RANK = 4

#: The one vocabulary tier. Above AUTO_BLOCK_MIN_VOCAB unique norms the
#: linker (1) caps TF-IDF candidate generation at n-grams with df <=
#: min(max(AUTO_BLOCK_DF_FRAC·N, 100), AUTO_BLOCK_DF_ABS) (see the module
#: docstring and :func:`auto_df_cap`); (2), through LOCAL_MAX_VOCAB (a
#: separate name only as the tests' seam), scores the linking pairs in the
#: block-pair stage instead of the driver process; and (3) bounds each
#: block of :func:`gated_block_pairs` to this many norms, so no block-pair
#: task holds more than two driver-tier vocabularies.
AUTO_BLOCK_MIN_VOCAB = 50_000
AUTO_BLOCK_DF_FRAC = 0.05
AUTO_BLOCK_DF_ABS = 4_000


@dataclass
class LinkingTables:
    # local relations, built on the driver from link_vocabulary's output
    norms: DataFrame  # norm, freq, types:array<string> (effective types)
    edges: DataFrame  # src, dst (deduped, src < dst)
    nodes: DataFrame  # norm: component universe (norms + abbrev/alias endpoints)
    base_threshold: float
    # observability: unique linkable norms and the EFFECTIVE df cap the
    # TF-IDF scorer ran with (None = uncapped / semantic scorer); the pairs
    # were scored by the block-pair stage iff n_norms > LOCAL_MAX_VOCAB
    n_norms: int = 0
    candidate_max_df: Optional[int] = None


def tfidf_prefix_pairs(
    *blocks: List[str],
    gate_floor: float,
    doc_freq: Optional[Tuple[int, Mapping[str, int]]] = None,
    candidate_max_df: Optional[int] = None,
) -> Dict[Tuple[str, str], float]:
    """The TF-IDF kernel: the reference's char n-gram TF-IDF cosine
    (:func:`ngrams.tfidf_vectors`), returning ``{(a, b): score}`` (a < b)
    for the pairs scoring >= ``gate_floor - 1e-9``. One block of norms
    scores the pairs within it; two blocks score the pairs across them.
    ``doc_freq`` is the vocabulary's ``(N, {gram: df})`` when the blocks
    are only part of it; by default the blocks are the vocabulary.

    The edge gate never passes a pair below ``gate_floor``
    (= adaptive_threshold_floor(base)). Split each norm's vector into a
    high-weight PREFIX (descending weight, ties by gram) and a SUFFIX
    whose squared mass stays under the floor: by Cauchy–Schwarz a pair
    whose shared grams all lie in both suffixes scores under the floor,
    so the candidates are the pairs sharing a gram in one side's prefix.
    The AllPairs maxweight/length bound (Bayardo §3.1, adapted to
    weighted cosine: dot <= maxw(b)·‖a‖₁, maxw(a)·‖b‖₁ and
    min(n_a, n_b)·maxw(a)·maxw(b); the binary-cosine count-ratio bound is
    not sound for TF-IDF weights) drops more; every survivor is scored
    exactly. Float margins of 1e-9 keep both prunes conservative.

    ``candidate_max_df`` drops the grams whose df exceeds it from
    candidate generation only: prefixes are taken over the sub-cap
    grams, and the ``MIN_PREFIX_RANK`` top ones always join (a heavy cap
    can leave a vector under the floor). The bound and the score use the
    full vectors, so every score is the exact cosine.

    Each pair sums its shared grams in sorted gram order, the order of the
    oracle's naive scorer (``oracle._tfidf_cosine_pairs``), so a pair's
    score bits depend only on the pair."""
    lo, hi = blocks[0], blocks[-1]
    norms = list(lo) if len(blocks) == 1 else list(lo) + list(hi)
    vecs = tfidf_vectors(norms, doc_freq)
    t_eff = max(gate_floor - 1e-9, 0.0)
    capped = set()
    if candidate_max_df is not None:
        df = doc_freq[1] if doc_freq else Counter(g for v in vecs for g in v)
        capped = {g for g, d in df.items() if d > candidate_max_df}

    # one side per block: a candidate pairs a prefix gram of one side with
    # the postings of the other (of the same side, for one block)
    sides = (
        [range(len(norms))]
        if len(blocks) == 1
        else [range(len(lo)), range(len(lo), len(norms))]
    )
    postings: List[Dict[str, List[int]]] = [defaultdict(list) for _ in sides]
    for side, members in zip(postings, sides):
        for i in members:
            for g in vecs[i]:
                if g not in capped:
                    side[g].append(i)
    cand = set()
    for s, members in enumerate(sides):
        other = postings[len(sides) - 1 - s]
        for y in members:
            sub = vecs[y]
            if capped:
                sub = {g: w for g, w in sub.items() if g not in capped}
            total = sum(w * w for w in sub.values())
            cum = 0.0
            ranked = sorted(sub.items(), key=lambda gw: (-gw[1], gw[0]))
            for rank, (g, w) in enumerate(ranked, 1):
                cum += w * w
                # the suffix mass from this gram on can still reach the floor
                if total - cum + w * w >= t_eff or (
                    candidate_max_df is not None and rank <= MIN_PREFIX_RANK
                ):
                    cand.update(
                        (x, y) if x < y else (y, x)
                        for x in other.get(g, ())
                        if x != y
                    )
    stats = [
        (max(v.values(), default=0.0), sum(v.values()), len(v)) for v in vecs
    ]

    out: Dict[Tuple[str, str], float] = {}
    for a, b in cand:
        maxw_a, l1_a, n_a = stats[a]
        maxw_b, l1_b, n_b = stats[b]
        if min(
            maxw_b * l1_a, maxw_a * l1_b, maxw_a * maxw_b * min(n_a, n_b)
        ) < t_eff - 1e-9:
            continue
        va, vb = vecs[a], vecs[b]
        score = 0.0
        for g in sorted(va.keys() & vb.keys()):
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
    One block of norms scores the pairs within it (the driver's scorer up
    to ``LOCAL_MAX_VOCAB``); two blocks score the pairs across them (one
    block pair of :func:`gated_block_pairs`).

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


def _block_count(norms: DataFrame, n_norms: int) -> int:
    """Blocks for :func:`gated_block_pairs`: the smallest count giving at
    least ``spark.sql.shuffle.partitions`` block pairs and, once the
    vocabulary exceeds ``AUTO_BLOCK_MIN_VOCAB``, no block over that many
    norms. No smaller count than ceil(n_norms / AUTO_BLOCK_MIN_VOCAB) can
    pass, so the search starts there and usually runs one job."""
    n_pairs = int(norms.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    nb = max(1, -(-n_norms // AUTO_BLOCK_MIN_VOCAB))
    while nb * (nb + 1) // 2 < n_pairs:
        nb += 1
    while n_norms > AUTO_BLOCK_MIN_VOCAB:
        sizes = norms.groupBy(F.pmod(F.xxhash64("norm"), F.lit(nb))).count()
        if sizes.agg(F.max("count")).first()[0] <= AUTO_BLOCK_MIN_VOCAB:
            break
        nb += 1
    return nb


def _pair_keys(spark, n_tasks: int) -> List[int]:
    """One int key per task index ``p`` that Spark's hash partitioning
    (``pmod(hash(key), n_tasks)``) sends to task ``p``. Spark evaluates
    the hashes itself, over a local relation (no job)."""
    hashed = (
        local_df(spark, [(k,) for k in range(64 * n_tasks)], "k int")
        .select("k", F.pmod(F.hash("k"), F.lit(n_tasks)).alias("p"))
        .collect()
    )
    first: Dict[int, int] = {}
    for k, p in hashed:
        first.setdefault(p, k)
    return [first[p] for p in range(n_tasks)]


def _route_block_pairs(rows: DataFrame, nb: int) -> DataFrame:
    """``rows`` copied to every block pair ``(lo, hi)`` holding the row's
    block ``pmod(xxhash64(norm), nb)``, with the pair's ``key`` column,
    partitioned one block pair per task: nb(nb+1)/2 tasks, which AQE does
    not coalesce (without the explicit repartition it folded 10 block
    pairs into 2 tasks)."""
    n_tasks = nb * (nb + 1) // 2
    keys = F.array(*[F.lit(k) for k in _pair_keys(rows.sparkSession, n_tasks)])
    block = F.pmod(F.xxhash64("norm"), F.lit(nb)).cast("int")
    k = F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))
    lo, hi = F.col("lo"), F.col("hi")
    return (
        rows.withColumn("block", block)
        .withColumn("k", k)
        .withColumn("lo", F.least("block", "k"))
        .withColumn("hi", F.greatest("block", "k"))
        .drop("k")
        # the pair's index in (0,0), (0,1), (1,1), (0,2), ... order
        .withColumn(
            "key", F.element_at(keys, F.shiftright(hi * (hi + 1), 1) + lo + 1)
        )
        .repartition(n_tasks, "key")
    )


def gated_block_pairs(
    rows: DataFrame,
    score_source: str,
    base: float,
    n_norms: int,
    candidate_max_df: Optional[int],
) -> DataFrame:
    """The gated similarity pairs above ``LOCAL_MAX_VOCAB``, as (a, b,
    score) rows for the driver's cascade to collect:
    exactly the one-block kernel of ``score_source`` over the whole
    vocabulary, gated by :func:`textnorm.gate_pair_scores`, with no
    Python worker holding more than two blocks.

    ``rows`` holds one (norm, types) row per vocabulary norm, ``types``
    the effective type set. The rows go to ``nb`` blocks
    (:func:`_block_count`) and to every block pair holding their block
    (:func:`_route_block_pairs`); one ``applyInPandas`` task per pair runs
    the kernel (the self pair scores within its block, the others across
    their two) and the gate. For TF-IDF each row also carries its grams'
    vocabulary document frequencies, counted once by Spark, and
    ``candidate_max_df`` is the df-cap."""
    floor = adaptive_threshold_floor(base)
    nb = _block_count(rows.select("norm"), n_norms)
    if score_source == "semantic":

        def kernel(*blocks):
            return embedding_pairs(
                *(b.norm.tolist() for b in blocks), gate_floor=floor
            )

    else:
        grams = rows.select(
            "norm",
            F.explode(F.array_distinct(char_wb_ngrams_col(F.col("norm")))).alias(
                "gram"
            ),
        ).withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        doc_freqs = grams.groupBy("norm").agg(
            F.collect_list(F.struct("gram", "df")).alias("g")
        )
        # merge hint: both sides are vocabulary-sized, and a broadcast of
        # either string-keyed relation inflates 5-10x its shuffle size
        # (the 640k-norm tier OOM'd on such builds — BENCH.md round 5)
        rows = rows.join(
            doc_freqs.select(
                "norm", F.col("g.gram").alias("grams"), F.col("g.df").alias("dfs")
            ).hint("merge"),
            "norm",
            "left",
        )

        def kernel(*blocks):
            df: Dict[str, int] = {}
            for b in blocks:
                for grams, dfs in zip(b.grams, b.dfs):
                    if grams is not None:
                        df.update(zip(grams.tolist(), dfs.tolist()))
            return tfidf_prefix_pairs(
                *(b.norm.tolist() for b in blocks),
                gate_floor=floor,
                doc_freq=(n_norms, df),
                candidate_max_df=candidate_max_df,
            )

    def score(key, pdf):
        _, lo, hi = key
        blocks = [pdf[pdf.block == b] for b in sorted({lo, hi})]
        types = {n: list(t) for n, t in zip(pdf.norm, pdf.types)}
        pairs = gate_pair_scores(kernel(*blocks), types, base)
        return pd.DataFrame(
            {
                "a": [a for a, _ in pairs],
                "b": [b for _, b in pairs],
                "score": np.fromiter(pairs.values(), np.float64, len(pairs)),
            }
        )

    return (
        _route_block_pairs(rows, nb)
        .groupBy("key", "lo", "hi")
        .applyInPandas(score, "a string, b string, score double")
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


#: Vocabulary size up to which the driver scores the linking pairs itself
#: with the one-block kernel (:func:`tfidf_prefix_pairs`,
#: :func:`embedding_pairs`): exactly the vocabularies TF-IDF scores
#: UNCAPPED (see :func:`auto_df_cap`). There the kernel beats any Spark
#: stage, whose cost is job scheduling at this size (BENCH.md, driver-local
#: crossover). Above it :func:`gated_block_pairs` scores the same pairs
#: with the same bits over blocks of at most ``AUTO_BLOCK_MIN_VOCAB`` norms.
#: The cascade around the scorer runs on the driver either way. Read at
#: call time, so tests force the block-pair stage by setting it to 0.
LOCAL_MAX_VOCAB = AUTO_BLOCK_MIN_VOCAB


def auto_df_cap(n_norms: int) -> Optional[int]:
    """The AUTO df-cap for a vocabulary size, None while the join runs exact."""
    if n_norms <= AUTO_BLOCK_MIN_VOCAB:
        return None
    return min(max(int(AUTO_BLOCK_DF_FRAC * n_norms), 100), AUTO_BLOCK_DF_ABS)


def build_linking_tables(
    extracted: DataFrame, score_source: str = "tfidf"
) -> LinkingTables:
    """Assemble the full gated edge list for connected components from the
    Stage-A extraction frame (one row per turn with an ``ex``
    struct<mentions, abbreviations> column, :func:`extract.extract_combined`).

    ``score_source`` selects the candidate scorer feeding the (shared) gate
    cascade: "tfidf" (default — the reference's primary path) or
    "semantic" (L4, the embedding cosine — the reference's use_semantic
    path, app.py:3084-3110); anything else raises ``ValueError``. The
    cascade is :func:`oracle.link_vocabulary` over the collected
    vocabulary; up to ``LOCAL_MAX_VOCAB`` norms the driver scores its pairs,
    above it the same kernel and gate run per block pair
    (:func:`gated_block_pairs`). Parity with the oracle on both scoring
    paths is pinned by tests/test_linking_differential.py.

    The df-cap is :func:`auto_df_cap` of the measured vocabulary: exact (no
    n-gram dropped) up to ``AUTO_BLOCK_MIN_VOCAB`` unique norms, else
    ``min(AUTO_BLOCK_DF_FRAC * n_norms, AUTO_BLOCK_DF_ABS)``. Candidate
    volume is Σ_g df_g² — a FRACTIONAL cap alone leaves it quadratic in N
    (5% of 10⁶ is a 50k-df gram pairing 2.5G candidates), so the absolute
    bound is what actually caps per-gram fanout at web scale.
    """
    if score_source not in ("tfidf", "semantic"):
        raise ValueError(f"unknown score_source {score_source!r}")
    spark = extracted.sparkSession
    # ONE corpus pass for BOTH corpus-scale inputs: the norm profiles and
    # the distinct abbreviation pairs ride a single fused groupBy over one
    # scan + generate (:func:`_fused_rows_from_extracted`), collected once
    # over Arrow. freq = mention count per norm, types = set of
    # upper(normalize_entity(entity_type)) (app.py:3256-3263)
    fused = (
        _fused_rows_from_extracted(extracted)
        .groupBy("kind", "k1", "k2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas()
    )
    freq: dict = defaultdict(int)
    types: dict = defaultdict(set)
    abbr_pairs = set()
    for kind, k1, k2, cnt in zip(fused.kind, fused.k1, fused.k2, fused.cnt):
        if kind == "M":
            freq[k1] += int(cnt)
            types[k1].add(k2)
        else:
            abbr_pairs.add((k1, k2))
    n_norms = len(freq)
    base = compute_base_threshold(sum(freq.values()))
    candidate_max_df = auto_df_cap(n_norms) if score_source == "tfidf" else None

    def pair_scores(norms, eff_types):
        if n_norms > LOCAL_MAX_VOCAB:
            rows = local_df(
                spark,
                [(n, eff_types[n]) for n in norms],
                "norm string, types array<string>",
            )
            gated = gated_block_pairs(
                rows, score_source, base, n_norms, candidate_max_df
            ).toPandas()
            return dict(zip(zip(gated.a, gated.b), gated.score))
        floor = adaptive_threshold_floor(base)
        if score_source == "semantic":
            return embedding_pairs(norms, gate_floor=floor)
        return tfidf_prefix_pairs(
            norms, gate_floor=floor, candidate_max_df=candidate_max_df
        )

    eff_types, edges, nodes = link_vocabulary(
        freq, types, abbr_pairs, base, pair_scores
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
        n_norms=n_norms,
        candidate_max_df=candidate_max_df,
    )
