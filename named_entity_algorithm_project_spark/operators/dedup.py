"""Deduplication operators for training-data pipelines.

All operators are pure DataFrame transforms (JVM-side expressions, no Python
UDFs) and follow the inverted-index / LSH-banding shapes that survive 100 TB:
nothing here ever materializes an all-pairs matrix.

  exact_duplicates       hash-groupBy on content hash (1 shuffle)
  fingerprint            normalized-text content hash (projection only)
  token_jaccard_pairs    token inverted index self-join -> exact Jaccard
  minhash_signatures     md5-family minhash over word shingles
  lsh_candidate_pairs    banded signature grouping -> candidate pairs
  simhash                64-bit simhash from token hashes (bit ops, xxhash64)
  simhash_near_pairs     hamming-distance pairs via band-rotation blocking
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import band_join, band_rows


def _tokens(text_col: str) -> "F.Column":
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n, doc_ids).
    Single shuffle on the hash; the canonical survivor is min(id) —
    deterministic, no first()-without-order."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n") > 1)
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> "F.Column":
    """Whitespace-normalized lowercase content hash (cheap dedup pass)."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard >= threshold via inverted-index self-join.

    ``max_token_df`` drops tokens present in more than that many docs from
    the index (stopword-style hubs dominate the join at scale; dropping them
    only loses pairs whose entire overlap is ubiquitous tokens — below any
    useful threshold anyway)."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(_tokens(text_col))).alias("tok"),
    )
    if max_token_df is not None:
        keep = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_token_df)
            .select("tok")
        )
        toks = toks.join(F.broadcast(keep), "tok")
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("doc").alias("doc_a"), "tok")
    b = toks.select(F.col("doc").alias("doc_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("szb"))
    jac = F.col("n_both") / (F.col("sza") + F.col("szb") - F.col("n_both"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _shingles(text_col: str, k: int = 3) -> "F.Column":
    # tokenize once inside the lambda scope via a single-element transform —
    # naming split() inline in the per-i lambda would re-split per element
    joins = ", ' ', ".join(f"element_at(toks, i + {j})" for j in range(k))
    return F.expr(
        f"flatten(transform(array(split(lower(trim({text_col})), '\\\\s+')), "
        f"toks -> CASE WHEN size(toks) >= {k} THEN array_distinct("
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat({joins}))) ELSE array() END))"
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 16,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, seed, minhash) — md5(seed || shingle) as the hash family; hex
    strings compare portably across engines and languages."""
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(_shingles(text_col, shingle_k)).alias("sh"),
    )
    # all hash slots as parallel aggregates in ONE pass — a seed crossJoin
    # would amplify the shuffle n_hashes-fold for identical output
    wide = sh.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{seed}#"), F.col("sh")))).alias(
                f"mh{seed}"
            )
            for seed in range(n_hashes)
        ]
    )
    stack_expr = ", ".join(f"{s}, mh{s}" for s in range(n_hashes))
    return wide.selectExpr(
        "doc", f"stack({n_hashes}, {stack_expr}) as (seed, mh)"
    )


def lsh_candidate_pairs(
    signatures: DataFrame, band_size: int = 4
) -> DataFrame:
    """Band the signature, join on (band, key), emit candidate pairs.
    Bucket sizes are data-dependent — the per-bucket pair expansion is the
    skew point, so buckets above ``spark.sql.adaptive`` skew limits split
    automatically; tune band_size before salting."""
    sig = signatures.groupBy(
        "doc", (F.col("seed") / band_size).cast("int").alias("band")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                lambda s: s.mh,
            ),
            "|",
        ).alias("key")
    )
    return (
        band_join(sig, "doc")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash: per-token hash, sum signed bit contributions, sign ->
    fingerprint bit. Entirely JVM-side (explode + bit ops + groupBy).

    ``hash_family="xxhash64"`` (default) is the fast single-function path.
    ``hash_family="md5"`` derives bit 4j+k from hex digit j of md5(token)
    — like the minhash family, md5 hex is portable across engines, so a
    DuckDB oracle can replicate the fingerprint digit-for-digit (bits<=64;
    16 md5 hex digits cover it)."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(_tokens(text_col))).alias("tok"),
    )
    if hash_family == "md5":
        hx = F.md5("tok")
        digits = [
            F.conv(F.substring(hx, j + 1, 1), 16, 10).cast("int")
            for j in range((bits + 3) // 4)
        ]
        bit = lambda i: F.shiftright(digits[i // 4], i % 4).bitwiseAND(F.lit(1))  # noqa: E731
    else:
        h = F.xxhash64("tok")
        bit = lambda i: F.shiftright(h, i).bitwiseAND(F.lit(1))  # noqa: E731
    per_bit = toks.select(
        "doc",
        *[
            F.when(bit(i) == 1, 1).otherwise(-1).alias(f"b{i}")
            for i in range(bits)
        ],
    )
    sums = per_bit.groupBy("doc").agg(
        *[F.sum(f"b{i}").alias(f"b{i}") for i in range(bits)]
    )
    fingerprint_expr = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fingerprint_expr = term if fingerprint_expr is None else (
            fingerprint_expr.bitwiseOR(term)
        )
    return sums.select("doc", fingerprint_expr.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into ``n_bands``
    16-bit bands; any pair within ``max_hamming < n_bands`` must agree on at
    least one full band — join per band, verify exact hamming on candidates.
    """
    banded = band_rows(
        fingerprints.select("doc", "simhash"), "simhash", n_bands, 64 // n_bands
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        band_join(banded, "doc", "simhash")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
