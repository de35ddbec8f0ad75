"""Char n-gram generation equivalent to sklearn's ``analyzer='char_wb'``.

The reference scores entity-linking candidates with
``TfidfVectorizer(analyzer="char_wb", ngram_range=(3, 5))`` + cosine
(app.py:3046-3067). To reproduce those scores exactly — while replacing the
O(N²) dense matrix with a partitioned prefix-filtered join — the linker's
kernel and the pandas oracle share this generator and the same TF-IDF
formula (smooth idf: ln((1+N)/(1+df)) + 1, raw tf, L2 normalization); the
linker's block-pair stage counts each gram's document frequency with the
Column form (:func:`char_wb_ngrams_col`).

The vectorizer's default preprocessing (``lowercase=True``) applies here
too: case variants of a term (PCE / pce) must share n-grams exactly as the
reference's TfidfVectorizer makes them.
"""

from __future__ import annotations

import math
import re
from typing import Dict, List, Mapping, Optional, Tuple

_WS = re.compile(r"\s\s+")

MIN_N = 3
MAX_N = 5


def char_wb_ngrams(text: str) -> List[str]:
    """sklearn ``_char_wb_ngrams``: pad each whitespace-token with one space
    per side, emit all char n-grams inside the padded token; a token shorter
    than ``MIN_N`` (padded) is emitted once, truncated."""
    if not text:
        return []
    text = _WS.sub(" ", text.lower())
    ngrams: List[str] = []
    for w in text.split():
        w = " " + w + " "
        w_len = len(w)
        for n in range(MIN_N, MAX_N + 1):
            offset = 0
            ngrams.append(w[offset : offset + n])
            while offset + n < w_len:
                offset += 1
                ngrams.append(w[offset : offset + n])
            if offset == 0:  # token shorter than n: count once, stop
                break
    return ngrams


def char_wb_ngrams_col(col):
    """Column form of :func:`char_wb_ngrams` — pure JVM higher-order
    functions, no Python boundary (guide §4.1: the pandas-UDF version made
    every consuming task block on a Python worker round-trip, and the
    non-canonicalizable PythonUDF expression defeated exchange reuse, so
    the TF-IDF explode stage executed once per DAG branch).

    Exact semantic mapping, pinned by test_char_wb_ngrams_col_parity:
    * collapse 2+ whitespace to one space, lowercase ((?U) makes Java's
      \\s match the same Unicode whitespace Python's str-regex \\s does);
    * whitespace-split, dropping empties (== str.split());
    * per padded token " w " of length L: emit all n-grams for each
      n in [MIN_N, MAX_N] with n <= L — for n == L that is the single
      truncated emission, and sklearn's break-on-short-token rule is
      exactly the n <= L filter (every n' > L >= MIN_N is skipped).
    NULL input yields NULL (explode drops it, same as the UDF's [])."""
    import pyspark.sql.functions as F

    cleaned = F.lower(F.regexp_replace(col, "(?U)\\s\\s+", " "))
    words = F.filter(F.split(cleaned, "(?U)\\s+"), lambda w: w != "")

    def word_grams(w):
        padded = F.concat(F.lit(" "), w, F.lit(" "))
        length = F.length(padded)
        return F.flatten(
            F.transform(
                F.filter(
                    F.array(*[F.lit(n) for n in range(MIN_N, MAX_N + 1)]),
                    lambda n: n <= length,
                ),
                lambda n: F.transform(
                    F.sequence(F.lit(1), length - n + F.lit(1)),
                    lambda i: padded.substr(i, n),
                ),
            )
        )

    return F.flatten(F.transform(words, word_grams))


def tf_counts(text: str) -> Dict[str, int]:
    counts: Dict[str, int] = {}
    for gram in char_wb_ngrams(text):
        counts[gram] = counts.get(gram, 0) + 1
    return counts


def tfidf_vectors(
    texts: List[str], doc_freq: Optional[Tuple[int, Mapping[str, int]]] = None
) -> List[Dict[str, float]]:
    """One L2-normalized smooth TF-IDF vector (raw tf, idf =
    ln((1+N)/(1+df)) + 1) per text, keyed by n-gram in first-occurrence
    order; ``{}`` when a text has no n-grams. ``doc_freq`` is the
    vocabulary's ``(N, {gram: df})`` when ``texts`` are only part of it (a
    block of the linker's block-pair stage); by default ``texts`` are the whole
    vocabulary. Every Python similarity scorer builds its vectors here."""
    counts = [tf_counts(t) for t in texts]
    if doc_freq is None:
        df: Dict[str, int] = {}
        for c in counts:
            for g in c:
                df[g] = df.get(g, 0) + 1
        doc_freq = (len(texts), df)
    n, df = doc_freq
    idf = {g: math.log((1.0 + n) / (1.0 + d)) + 1.0 for g, d in df.items()}
    vecs: List[Dict[str, float]] = []
    for c in counts:
        w = {g: tf * idf[g] for g, tf in c.items()}
        l2 = math.sqrt(sum(v * v for v in w.values()))
        vecs.append({g: v / l2 for g, v in w.items()} if l2 > 0 else {})
    return vecs
