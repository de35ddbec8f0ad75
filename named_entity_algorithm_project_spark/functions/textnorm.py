"""Text normalization scalars (reference: app.py:1419-1422, 2793-3024).

Each has a pure-python form (used inside Arrow-batched UDFs, the linking
cascade and the pandas test oracle); the norm trim also has a
Column-expression form so Catalyst runs it JVM-side in the vocabulary scan.
The linking rules (norm trim, short-vs-long guard, adaptive threshold, type
compatibility) have exactly one definition each here, and
:func:`gate_pair_scores` is the one gate over them: the linking cascade
(:func:`oracle.link_vocabulary`) and every block-pair task of the
linker's distributed pair scoring run it.
"""

from __future__ import annotations

import math
import re
from typing import Dict, Iterable, Mapping, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dictionaries import PROTECTED_TERMS

_WS_RE = re.compile(r"\s+")
_NON_ALNUM_RE = re.compile(r"[^a-z0-9\s]")


def normalize_text(value: object) -> str:
    """Collapse whitespace + strip (app.py:1419-1422). Fast path: texts
    with no tabs/newlines/double spaces need only a strip — identical
    output, skips the regex scan on the hot extraction path."""
    if value is None:
        return ""
    s = str(value)
    # ascii guard: \s also matches unicode whitespace (NBSP etc.) — only
    # ascii texts may take the regex-free path
    if s.isascii() and "  " not in s and "\t" not in s and "\n" not in s \
            and "\r" not in s and "\x0b" not in s and "\x0c" not in s:
        return s.strip()
    return _WS_RE.sub(" ", s).strip()


#: Whitespace a linking norm or entity type is trimmed of: ASCII
#: whitespace, the set normalize_text collapses inside detector entities.
NORM_WS = " \t\n\r\x0b\x0c"


def normalize_entity(value: object) -> str:
    """Trim surrounding whitespace only (app.py:2946-2961)."""
    if value is None:
        return ""
    return str(value).strip(NORM_WS)


def normalize_entity_col(col: Column) -> Column:
    """Column form of :func:`normalize_entity`. ``btrim`` with an explicit
    set, not a regex: it runs in the corpus-scale vocabulary scan."""
    return F.btrim(col, F.lit(NORM_WS))


def normalize_phrase(text: object) -> str:
    """lower + strip non-alnum + collapse (app.py:2793-2797)."""
    if text is None:
        return ""
    cleaned = str(text).lower()
    cleaned = _NON_ALNUM_RE.sub(" ", cleaned)
    return _WS_RE.sub(" ", cleaned).strip()


def can_merge_terms(a: str, b: str) -> bool:
    """Short-vs-long merge guard (app.py:2993-3000)."""
    if not a or not b or a == b:
        return False
    min_len = min(len(a), len(b))
    max_len = max(len(a), len(b))
    if min_len <= 2 and max_len > min_len:
        return False
    return True


def adaptive_threshold(term: str, base: float) -> float:
    """Per-term similarity floor by compact length (app.py:3003-3012)."""
    length = len((term or "").replace(" ", ""))
    if length <= 3:
        return max(0.95, base)
    if length <= 4:
        return max(0.92, base)
    if length <= 6:
        return max(0.88, base)
    return max(base, 0.82)


def adaptive_threshold_floor(base: float) -> float:
    """The GLOBAL minimum any per-term adaptive threshold can take
    (app.py:3003-3012): the four length tiers are max(0.95, b), max(0.92, b),
    max(0.88, b) and max(b, 0.82), so no candidate pair can pass the edge
    gate below ``max(base, 0.82)``. This is the exactness bound the
    prefix-filtered similarity join prunes against (linking.py)."""
    return max(base, 0.82)


def types_compatible(types_a, types_b) -> bool:
    """Non-UNKNOWN type sets must intersect (app.py:3015-3024); empty type
    strings count as unknown, and so does a missing set."""
    clean_a = {t for t in types_a or () if t and t != "UNKNOWN"}
    clean_b = {t for t in types_b or () if t and t != "UNKNOWN"}
    if clean_a and clean_b:
        return not clean_a.isdisjoint(clean_b)
    return not clean_a and not clean_b


def gate_pair_scores(
    pairs: Mapping[Tuple[str, str], float],
    types: Mapping[str, Iterable[str]],
    base: float,
) -> Dict[Tuple[str, str], float]:
    """The reference's similarity-edge gate (app.py:3140-3183) over scored
    ``{(a, b): score}`` pairs, whatever scorer produced them: a pair passes
    unless both ends are protected, if its score reaches the lower of the
    two per-term :func:`adaptive_threshold` floors (the reference takes
    the *min*, app.py:3172-3176), if :func:`can_merge_terms` allows it and
    if the ends' effective ``types`` are compatible."""
    return {
        (a, b): score
        for (a, b), score in pairs.items()
        if not (a in PROTECTED_TERMS and b in PROTECTED_TERMS)
        and score >= min(adaptive_threshold(a, base), adaptive_threshold(b, base))
        and can_merge_terms(a, b)
        and types_compatible(types[a], types[b])
    }


def compute_base_threshold(n_rows: int) -> float:
    """app.py:3275-3280 — corpus-size-adaptive base threshold. Python only:
    every path computes it once on the driver from the linkable row count."""
    if n_rows <= 0:
        return 0.80
    return 0.80 + min(0.05, 0.02 * math.log10(max(n_rows / 1000, 1e-6)))
