"""Pure scalar functions (python + Column variants) shared by UDFs and tests."""

from .labels import canonicalize_label  # noqa: F401
from .typing_rules import domain_category_for, map_entity_type  # noqa: F401
from .textnorm import (  # noqa: F401
    adaptive_threshold,
    can_merge_terms,
    normalize_entity,
    normalize_phrase,
    normalize_text,
    types_compatible,
)
