"""Deduplication operators for training-data pipelines.

All operators are pure DataFrame transforms (JVM-side expressions, no Python
UDFs) and follow the inverted-index shape that survives 100 TB: nothing
here ever materializes an all-pairs matrix.

  fingerprint            normalized-text content hash (projection only; q11)
  token_jaccard_pairs    token inverted index self-join -> exact Jaccard (q12)
  simhash                64-bit simhash from token hashes (bit ops; q33)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc, tok): each document's distinct lowercase whitespace tokens."""
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("tok"),
    )


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized lowercase content hash (cheap dedup pass)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def token_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact token-set Jaccard >= threshold via inverted-index self-join
    over ``docs(doc_id, text)``."""
    toks = _doc_tokens(docs)
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


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash over ``docs(doc_id, text)``: per-token hash, sum signed bit
    contributions, sign -> fingerprint bit. Entirely JVM-side (explode +
    bit ops + groupBy).

    Bit 4j+k comes from hex digit j of md5(token): md5 hex is portable
    across engines, so a DuckDB oracle can replicate the fingerprint
    digit-for-digit (bits<=64; 16 md5 hex digits cover it)."""
    toks = _doc_tokens(docs)
    hx = F.md5("tok")
    digits = [
        F.conv(F.substring(hx, j + 1, 1), 16, 10).cast("int")
        for j in range((bits + 3) // 4)
    ]
    bit = lambda i: F.shiftright(digits[i // 4], i % 4).bitwiseAND(F.lit(1))  # noqa: E731
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
