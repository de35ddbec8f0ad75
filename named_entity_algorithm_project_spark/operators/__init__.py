"""Spark operators: the pipeline stages expressed as DataFrame transforms."""

from .extract import extract_combined, extract_mentions, split_extraction  # noqa: F401
from .triples import build_triples, nearest_property_join  # noqa: F401
from .linking import build_linking_tables  # noqa: F401
from .components import connected_components  # noqa: F401
from .canonical import apply_canonical_map, pick_canonicals  # noqa: F401
from .dedup import simhash, token_jaccard_pairs  # noqa: F401
from .similarity import lsh_topk, rp_lsh_buckets  # noqa: F401
from .multimodal import extract_media_features  # noqa: F401
