"""Pure-pandas oracle for the full pipeline — the parity reference.

Re-implements every stage single-process (pandas + numpy + python DFS) with
the SAME pinned semantics as the Spark operators, mirroring the reference's
own single-process design (app.py EP1). The Spark pipeline must match this
oracle's (subj, pred, obj) set at P/R >= 0.95 (BASELINE.md); mention and
canonical-map parity are tested exactly.

Shared with Spark: the per-turn detector (detector.py), scalar functions
(functions/), n-gram generator (functions/ngrams.py), and the linking edge
cascade :func:`link_vocabulary`, which the Spark linker runs on the driver
at every vocabulary size. Independent here: the orchestration — pandas
groupbys, the naive N² pair scorers, DFS components — so a mismatch with
the Spark linker isolates its vocabulary aggregate and pair-scoring
plumbing.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from typing import Callable, Dict, Iterable, List, Mapping, Set, Tuple

import numpy as np
import pandas as pd

from .detector import extract_turn
from .dictionaries import (
    ACRONYM_SET,
    DOMAIN_ALIAS_SUBSTRINGS,
    PROTECTED_TERMS,
    VALUE_TYPES,
)
from .functions.ngrams import tfidf_vectors
from .functions.textnorm import (
    compute_base_threshold,
    gate_pair_scores,
    normalize_entity,
    types_compatible,
)


def oracle_mentions(
    transcripts: pd.DataFrame, span_fn=None
) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """Stage A at the default confidence threshold with no user gazetteer:
    mentions + abbreviation pairs. ``span_fn`` mirrors extract_turn's
    pluggable span source (neural-path oracle)."""
    mention_rows = []
    abbrev_rows = []
    for rec in transcripts.itertuples(index=False):
        result = extract_turn(rec.text, span_fn=span_fn)
        for m in result.mentions:
            mention_rows.append(
                {
                    "conv_id": rec.conv_id,
                    "turn_idx": rec.turn_idx,
                    "entity": m.entity,
                    "entity_norm": m.entity_norm,
                    "entity_type": m.entity_type,
                    "confidence": m.confidence,
                    "start": m.start,
                    "end": m.end,
                    "canonical_acr": m.canonical_acr,
                    "is_user_entity": m.is_user_entity,
                }
            )
        for abbr, expansion in result.abbreviations:
            abbrev_rows.append(
                {
                    "conv_id": rec.conv_id,
                    "turn_idx": rec.turn_idx,
                    "abbr": abbr,
                    "expansion": expansion,
                }
            )
    mentions = pd.DataFrame(
        mention_rows,
        columns=[
            "conv_id", "turn_idx", "entity", "entity_norm", "entity_type",
            "confidence", "start", "end", "canonical_acr", "is_user_entity",
        ],
    )
    abbrevs = pd.DataFrame(
        abbrev_rows, columns=["conv_id", "turn_idx", "abbr", "expansion"]
    )
    return mentions, abbrevs


def _tfidf_cosine_pairs(norms: List[str]) -> Dict[Tuple[str, str], float]:
    """Exact sklearn-equivalent TF-IDF (char_wb 3-5, smooth idf, L2) cosine
    for all pairs sharing an n-gram. N² in the worst case — oracle only."""
    vecs = tfidf_vectors(norms)
    # inverted index to avoid true N² on sparse overlap
    postings: Dict[str, List[int]] = defaultdict(list)
    for i, v in enumerate(vecs):
        for g in v:
            postings[g].append(i)
    # shared grams sum in sorted gram order, as the linker's kernel sums them
    scores: Dict[Tuple[int, int], float] = defaultdict(float)
    for g, idxs in sorted(postings.items()):
        for ii in range(len(idxs)):
            for jj in range(ii + 1, len(idxs)):
                a, b = idxs[ii], idxs[jj]
                scores[(a, b)] += vecs[a][g] * vecs[b][g]
    out: Dict[Tuple[str, str], float] = {}
    for (i, j), s in scores.items():
        a, b = norms[i], norms[j]
        key = (a, b) if a < b else (b, a)
        out[key] = s
    return out


def _semantic_cosine_pairs(norms: List[str]) -> Dict[Tuple[str, str], float]:
    """Dense numpy cosine over the stub embedder (the reference's
    use_semantic path, app.py:3084-3110) — O(N²), oracle only."""
    from .functions.embed import cosine_matrix

    if not norms:
        return {}
    mat = cosine_matrix(list(norms))
    out: Dict[Tuple[str, str], float] = {}
    n = len(norms)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = norms[i], norms[j]
            key = (a, b) if a < b else (b, a)
            out[key] = float(mat[i, j])
    return out


def link_vocabulary(
    freq: Mapping[str, int],
    types: Mapping[str, Set[str]],
    abbr_pairs: Iterable[Tuple[str, str]],
    base: float,
    pair_scores: Callable[
        [List[str], Mapping[str, List[str]]], Mapping[Tuple[str, str], float]
    ],
) -> Tuple[Dict[str, List[str]], Set[Tuple[str, str]], Set[str]]:
    """The edge cascade (app.py:3140-3183) over a collected vocabulary: the
    one definition of it, run by the oracle and by the Spark linker
    (:func:`linking.build_linking_tables`) at every vocabulary size.

    ``freq`` keys are the trimmed linkable norms, ``types`` their trimmed
    upper-cased type sets, ``abbr_pairs`` the trimmed non-empty
    (abbr, expansion) pairs. ``pair_scores(norms, effective_types)``
    returns ``{(a, b): score}`` (a < b) for the candidate similarity
    pairs; it gets the effective types so a scorer may gate its pairs
    itself, and the cascade gates them again with
    :func:`textnorm.gate_pair_scores` (the gate is idempotent). Returns
    the effective types per norm (sorted, ``["UNKNOWN"]`` when empty), the
    edges as ``(min, max)`` pairs without self-loops, and the component
    nodes: the norms plus every abbreviation or alias endpoint.
    """
    norms = sorted(freq)
    # abbreviation links, gated on the original type sets
    gated_abbr = {
        (s, t)
        for s, t in abbr_pairs
        if not (s in PROTECTED_TERMS and t in PROTECTED_TERMS)
        and types_compatible(types.get(s), types.get(t))
    }
    # one round of type-union propagation over the gated links
    # (app.py:3151-3156, pinned order-free on the original sets)
    effective = {n: set(types.get(n, ())) for n in norms}
    for s, t in gated_abbr:
        if s in effective:
            effective[s] |= types.get(t, set())
        if t in effective:
            effective[t] |= types.get(s, set())
    eff_types = {n: sorted(e) or ["UNKNOWN"] for n, e in effective.items()}

    # domain-alias edges (app.py:2976-2982, 3157-3164)
    nodes = set(norms).union(*gated_abbr)
    alias_edges: Set[Tuple[str, str]] = set()
    for needle, alias in sorted(DOMAIN_ALIAS_SUBSTRINGS.items()):
        if alias in PROTECTED_TERMS:
            continue
        alias_edges |= {
            (n, alias)
            for n in nodes
            if needle in n and n != alias and n not in PROTECTED_TERMS
        }

    # similarity edges over corpus norms
    sim_edges = set(
        gate_pair_scores(pair_scores(norms, eff_types), eff_types, base)
    )
    edges = {
        (min(s, t), max(s, t))
        for s, t in gated_abbr | alias_edges | sim_edges
        if s != t
    }
    return eff_types, edges, nodes.union(alias for _, alias in alias_edges)


def oracle_vocabulary(
    mentions: pd.DataFrame, abbrevs: pd.DataFrame
) -> Tuple[Counter, Dict[str, Set[str]], Set[Tuple[str, str]]]:
    """The linking vocabulary of a mention/abbreviation table: mention count
    and type set per trimmed linkable norm (value types skipped, app.py:
    3256-3263), and the trimmed non-empty abbreviation pairs."""
    linkable = mentions[~mentions["entity_type"].str.upper().isin(VALUE_TYPES)]
    norms = linkable["entity"].map(normalize_entity)
    keep = norms != ""
    freq = Counter(norms[keep])
    types: Dict[str, Set[str]] = defaultdict(set)
    for norm, etype in zip(norms[keep], linkable["entity_type"][keep]):
        types[norm].add(normalize_entity(etype).upper())
    abbr_pairs = {
        (s, t)
        for s, t in zip(
            map(normalize_entity, abbrevs["abbr"]),
            map(normalize_entity, abbrevs["expansion"]),
        )
        if s and t
    }
    return freq, types, abbr_pairs


def oracle_linking(
    mentions: pd.DataFrame,
    abbrevs: pd.DataFrame,
    score_source: str = "tfidf",
) -> Tuple[Dict[str, str], Dict[str, Set[str]]]:
    """Stages B+C: canonical_map + alias_groups. ``score_source`` mirrors
    build_linking_tables: "tfidf" or "semantic" (both feed the same gates,
    exactly as the reference's _build_cluster_maps treats its
    similarity_lookup regardless of origin)."""
    freq_map, type_lookup, abbr_pairs = oracle_vocabulary(mentions, abbrevs)
    scorer = (
        _semantic_cosine_pairs if score_source == "semantic" else _tfidf_cosine_pairs
    )
    _, edges, all_terms = link_vocabulary(
        freq_map,
        type_lookup,
        abbr_pairs,
        compute_base_threshold(sum(freq_map.values())),
        lambda norms, _types: scorer(norms),
    )

    adjacency: Dict[str, Set[str]] = defaultdict(set)
    for term in all_terms:
        adjacency[term]
    for s, t in edges:
        adjacency[s].add(t)
        adjacency[t].add(s)

    def _score(term: str) -> Tuple[int, int, int, str]:
        return (
            0 if term in ACRONYM_SET else 1,
            -freq_map.get(term, 0),
            len(term),
            term,
        )

    visited: Set[str] = set()
    canonical_map: Dict[str, str] = {}
    groups: Dict[str, Set[str]] = defaultdict(set)
    for term in sorted(all_terms):
        if not term or term in visited:
            continue
        stack = [term]
        component: Set[str] = set()
        while stack:
            cur = stack.pop()
            if cur in visited:
                continue
            visited.add(cur)
            component.add(cur)
            stack.extend(adjacency[cur])
        canonical = min(component, key=_score)
        for member in component:
            canonical_map[member] = canonical
        groups[canonical].update(component)
    return canonical_map, dict(groups)


def oracle_apply_canonical(
    mentions: pd.DataFrame, canonical_map: Mapping[str, str]
) -> pd.DataFrame:
    df = mentions.copy()
    df["norm"] = df["entity"].map(normalize_entity)
    is_value = df["entity_type"].str.upper().isin(VALUE_TYPES)
    df["canonical"] = np.where(
        is_value,
        df["norm"],
        df["norm"].map(lambda n: canonical_map.get(n, n)),
    )
    df["canonical_display"] = [
        acr if isinstance(acr, str) and acr else str(c).upper()
        for acr, c in zip(df["canonical_acr"], df["canonical"])
    ]
    return df


def oracle_triples(mentions_canonical: pd.DataFrame) -> pd.DataFrame:
    """Stage D: has_value triples with the pinned explicit tie-break."""
    rows = []
    for (conv_id, turn_idx), group in mentions_canonical.groupby(
        ["conv_id", "turn_idx"], sort=True
    ):
        etype = group["entity_type"].str.upper()
        props = group[etype == "PROP_NAME"]
        values = group[etype.isin(VALUE_TYPES)]
        prop_starts = props["start"].astype("float")
        max_start = prop_starts.max()
        for v in values.itertuples(index=False):
            best = None
            if len(props) and v.start is not None and not pd.isna(v.start):
                cands = []
                for p in props.itertuples(index=False):
                    p_start = (
                        float(p.start)
                        if p.start is not None and not pd.isna(p.start)
                        else (float(max_start) if not pd.isna(max_start) else 0.0)
                    )
                    dist = abs(p_start - float(v.start))
                    orig_start = (
                        float(p.start)
                        if p.start is not None and not pd.isna(p.start)
                        else math.inf
                    )
                    subj = str(p.canonical or p.entity).strip()
                    cands.append((dist, orig_start, subj))
                cands.sort()
                best = cands[0][2] or None
            rows.append(
                {
                    "subj": best,
                    "pred": "has_value",
                    "obj": str(v.entity).strip() or None,
                    "conv_id": conv_id,
                    "turn_idx": turn_idx,
                }
            )
        if len(values) == 0:
            for p in props.itertuples(index=False):
                rows.append(
                    {
                        "subj": str(p.canonical or p.entity).strip(),
                        "pred": "has_value",
                        "obj": None,
                        "conv_id": conv_id,
                        "turn_idx": turn_idx,
                    }
                )
    return pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx"]
    )


def run_oracle(transcripts: pd.DataFrame) -> dict:
    mentions, abbrevs = oracle_mentions(transcripts)
    canonical_map, groups = oracle_linking(mentions, abbrevs)
    mentions_c = oracle_apply_canonical(mentions, canonical_map)
    triples = oracle_triples(mentions_c)
    return {
        "mentions": mentions_c,
        "abbrevs": abbrevs,
        "canonical_map": canonical_map,
        "alias_groups": groups,
        "triples": triples,
    }
