"""Entity typing rule cascade (reference: app.py:3410-3489).

`map_entity_type` is a deterministic pure function applied inside the
Arrow-batched extraction UDF (through the detector, which the pandas oracle
shares); it is the cascade's one definition.
"""

from __future__ import annotations

from typing import Optional

from ..dictionaries import (
    DOMAIN_TERM_CATEGORIES,
    INORGANIC_CLUES,
    LABEL2ID,
    MATERIAL_KEYWORDS,
    MATERIAL_PATTERN,
    PROPERTY_KEYWORDS,
    SIMPLE_VALUE_PATTERN,
    UNIT_ONLY_PATTERN,
    UNIT_TERMS,
    VALUE_PATTERN,
    VALUE_WITH_UNIT_PATTERN,
)
from .labels import canonicalize_label

from functools import lru_cache


def domain_category_for(token: Optional[str]) -> Optional[str]:
    """Gazetteer category lookup (app.py:3410-3421). Cached — the mention
    vocabulary repeats heavily inside a corpus."""
    if not token:
        return None
    return _domain_category_cached(str(token).lower().strip())


@lru_cache(maxsize=65536)
def _domain_category_cached(key: str) -> Optional[str]:
    mapped = DOMAIN_TERM_CATEGORIES.get(key)
    if mapped is None:
        mapped = DOMAIN_TERM_CATEGORIES.get(key.replace("-", " "))
    if mapped is None:
        return None
    label = canonicalize_label(mapped)
    return label if label in LABEL2ID else None


def map_entity_type(entity_group: Optional[str], text: Optional[str]) -> str:
    """Rule cascade: gazetteer -> model label -> value/unit regex -> keyword
    sets -> material pattern -> UNKNOWN (app.py:3450-3489). Cached: a pure
    function of two small-vocabulary strings."""
    return _map_entity_type_cached(entity_group or "", text or "")


@lru_cache(maxsize=65536)
def _map_entity_type_cached(entity_group: str, text: str) -> str:
    normalized = (text or "").strip()
    if not normalized:
        return "UNKNOWN"

    lower = normalized.lower()
    label_guess = canonicalize_label(entity_group)

    domain_hint = domain_category_for(normalized)
    if domain_hint:
        return domain_hint

    if label_guess in LABEL2ID:
        return label_guess

    if (
        SIMPLE_VALUE_PATTERN.match(normalized)
        or VALUE_WITH_UNIT_PATTERN.match(normalized)
        or VALUE_PATTERN.match(normalized)
    ):
        return "PROP_VALUE"

    if UNIT_ONLY_PATTERN.match(normalized) or normalized.upper() in UNIT_TERMS:
        return "PROP_VALUE"

    if "family" in lower:
        return "POLYMER_FAMILY"

    if "monomer" in lower:
        return "MONOMER"

    if any(keyword in lower for keyword in PROPERTY_KEYWORDS):
        return "PROP_NAME"

    if any(keyword in lower for keyword in MATERIAL_KEYWORDS):
        return "POLYMER"

    if MATERIAL_PATTERN.match(normalized):
        if any(clue in lower for clue in INORGANIC_CLUES):
            return "INORGANIC"
        return "ORGANIC"

    return "UNKNOWN"
