"""Spark operators: the pipeline stages expressed as DataFrame transforms."""

from .extract import extract_combined, extract_mentions, split_extraction  # noqa: F401
from .triples import build_triples, nearest_property_join  # noqa: F401
from .linking import build_linking_tables  # noqa: F401
from .components import connected_components  # noqa: F401
from .canonical import apply_canonical_map, pick_canonicals  # noqa: F401
from .dedup import (  # noqa: F401
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
    token_jaccard_pairs,
)
from .similarity import cosine_topk, lsh_topk, rp_lsh_buckets  # noqa: F401
from .multimodal import extract_media_features, repartition_by_bytes  # noqa: F401
from .textstats import profile_documents, quality_score  # noqa: F401
