"""Stage D(ii) — canonical pick and application.

Canonical member per component (app.py:3189-3194): minimum by
(not-an-acronym, -frequency, length, lexicographic). Implemented as a
row_number window over the component — fully deterministic (the reference's
tuple-min is reproduced by the explicit ORDER BY, no first() without order).

Application (app.py:3292-3298 + sanitize app.py:2251-2315):
  canonical  = component canonical (identity for unknown norms)
  Canonical  = pre-existing acronym-merge canonical if set, else
               upper(canonical)   [the masked-overwrite preservation at
               app.py:3293-3297]
  value-type rows (PROP_VALUE / MATERIAL_AMOUNT) bypass linking and fall
  back to their own text (app.py:3252-3255, 3310-3317, 2287-2294)

User-state rewrites:
  * user canonical overrides (J4, app.py:1759-1794): broadcast variant->
    canonical dimension, coalesce
  * canonical merge map with chain resolution (J5, app.py:1797-1848):
    chains resolved driver-side (the map is tiny), then broadcast-joined
"""

from __future__ import annotations

from typing import Dict, Iterable, Mapping, Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dictionaries import ACRONYM_SET, VALUE_TYPES
from ..functions.localrel import local_df
from ..functions.textnorm import normalize_entity_col

#: the reference's apply_canonical_merge_map skip set (app.py:1824) is
#: WIDER than VALUE_TYPES: it also bypasses bare VALUE rows.
#: Currently latent here — the detector clamps entity types to
#: ENTITY_TYPES, which excludes VALUE — but the merge-map/display-rewrite
#: path mirrors the reference's 3-type set so a VALUE-typed row arriving
#: from user input or an external mention table behaves identically.
MERGE_SKIP_TYPES = ("VALUE",) + VALUE_TYPES


def pick_canonicals(components: DataFrame, norms: DataFrame) -> DataFrame:
    """(norm, canonical) for every node.

    Args:
        components: (norm, component) from connected_components.
        norms: (norm, freq, ...) profiles; nodes absent here get freq 0
            (abbreviation/alias endpoints that never occur in the corpus).
    """
    scored = (
        components.join(norms.select("norm", "freq"), "norm", "left")
        .withColumn("freq", F.coalesce(F.col("freq"), F.lit(0)))
        .withColumn(
            "acr_rank",
            F.when(F.col("norm").isin(*sorted(ACRONYM_SET)), F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
    )
    win = Window.partitionBy("component").orderBy(
        F.col("acr_rank").asc(),
        F.col("freq").desc(),
        F.length("norm").asc(),
        F.col("norm").asc(),
    )
    canonicals = (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(F.col("component"), F.col("norm").alias("canonical"))
    )
    return components.join(canonicals, "component").select("norm", "canonical")


def apply_canonical_map(
    mentions: DataFrame, canonical_map: DataFrame
) -> DataFrame:
    """Attach canonical / Canonical columns to the full mention table.

    ``canonical_map`` is small relative to the corpus (one row per unique
    non-value norm) — broadcast it.
    """
    linkable_norm = normalize_entity_col(F.col("entity"))
    is_value = F.upper(F.col("entity_type")).isin(*VALUE_TYPES)

    with_norm = mentions.withColumn("norm", linkable_norm)
    joined = with_norm.join(
        F.broadcast(canonical_map.withColumnRenamed("canonical", "_cc")),
        "norm",
        "left",
    )
    canonical = F.when(is_value, F.col("norm")).otherwise(
        F.coalesce(F.col("_cc"), F.col("norm"))
    )
    return (
        joined.withColumn("canonical", canonical)
        .withColumn(
            "canonical_display",
            F.coalesce(
                F.col("canonical_acr"),
                F.upper(F.col("canonical")),
            ),
        )
        .drop("_cc")
    )


def resolve_merge_chains(merge_map: Mapping[str, str]) -> Dict[str, str]:
    """Path-compress source->target chains exactly like the reference's
    _build_canonical_merge_lookup (app.py:1797-1816), driver-side (the user
    merge map is a tiny dimension). Reference semantics preserved verbatim:

    * source keys are LOWERCASED (matching is case-insensitive); targets
      keep their original case;
    * entries whose source equals their target case-insensitively are
      dropped before resolution;
    * chains are followed case-insensitively and stop when the next hop's
      lowercase key was already seen — so in a cycle each source resolves
      to the LAST target before the walk would revisit a seen key (e.g.
      {a->b, B->c, c->A} resolves a->"A", b->"b", c->"c" — a quirk the
      golden fixture pins, tests/test_golden_linking.py)."""
    cleaned: Dict[str, str] = {}
    for source, target in merge_map.items():
        s = str(source or "").strip()
        t = str(target or "").strip()
        if not s or not t:
            continue
        if s.lower() == t.lower():
            continue
        cleaned[s.lower()] = t
    resolved: Dict[str, str] = {}
    for source_lower, initial_target in cleaned.items():
        current = initial_target
        seen = {source_lower}
        while (
            current
            and current.lower() in cleaned
            and current.lower() not in seen
        ):
            seen.add(current.lower())
            current = cleaned[current.lower()]
        if current:
            resolved[source_lower] = current
    return resolved


def apply_user_overrides(
    mentions: DataFrame,
    user_canonical: Optional[Mapping[str, Iterable[str]]] = None,
    merge_map: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """J4 + J5: user canonical overrides then merge-map rewrite, both as
    broadcast joins against literal dimensions. Value-type rows skip
    overrides (app.py:1769-1771)."""
    spark = mentions.sparkSession
    out = mentions

    if user_canonical:
        rows = [
            (str(variant).strip().lower(), str(canonical).strip())
            for canonical, variants in sorted(user_canonical.items())
            for variant in variants
            if str(variant).strip()
        ]
        if rows:
            dim = local_df(spark, rows, "variant string, user_canonical string")
            is_value = F.upper(F.col("entity_type")).isin(*VALUE_TYPES)
            out = (
                out.withColumn("_k", F.lower(F.trim(F.col("entity"))))
                .join(F.broadcast(dim), F.col("_k") == F.col("variant"), "left")
                .withColumn(
                    "canonical",
                    F.when(
                        F.col("user_canonical").isNotNull() & ~is_value,
                        F.col("user_canonical"),
                    ).otherwise(F.col("canonical")),
                )
                .withColumn(
                    "canonical_display",
                    F.when(
                        F.col("user_canonical").isNotNull() & ~is_value,
                        F.upper(F.col("user_canonical")),
                    ).otherwise(F.col("canonical_display")),
                )
                .drop("_k", "variant", "user_canonical")
            )

    if merge_map:
        resolved = resolve_merge_chains(dict(merge_map))
        # keep s == t.lower() rows: the reference's resolve() still rewrites
        # the CASE of a matching canonical to the stored target
        rows = [(s, t) for s, t in sorted(resolved.items()) if s and t]
        if rows:
            dim = local_df(spark, rows, "m_source string, m_target string")
            out = (
                out.join(
                    F.broadcast(dim),
                    # reference lookup keys are lowercase: match canonical
                    # case-insensitively (app.py:1836-1841)
                    F.lower(F.col("canonical")) == F.col("m_source"),
                    "left",
                )
                .withColumn(
                    "canonical",
                    # value-type rows bypass the merge map exactly like the
                    # reference's skip_types mask — the 3-type set of
                    # apply_canonical_merge_map (app.py:1824), which also
                    # skips bare VALUE rows
                    F.when(
                        F.col("m_target").isNotNull()
                        & ~F.upper(F.col("entity_type")).isin(*MERGE_SKIP_TYPES),
                        F.col("m_target"),
                    ).otherwise(F.col("canonical")),
                )
                .withColumn(
                    "canonical_display",
                    # reference quirk preserved: when a merge map is set,
                    # apply_canonical_merge_map rewrites Canonical =
                    # upper(canonical) for EVERY non-skip row, matched or
                    # not (app.py:1843-1844) — an unmatched row's acronym
                    # display is clobbered too
                    F.when(
                        ~F.upper(F.col("entity_type")).isin(*MERGE_SKIP_TYPES),
                        F.upper(F.col("canonical")),
                    ).otherwise(F.col("canonical_display")),
                )
                .drop("m_source", "m_target")
            )
    return out


def alias_groups(canonical_map: DataFrame) -> DataFrame:
    """canonical -> sorted variant array (linking_context.alias_groups,
    app.py:3214-3228)."""
    return canonical_map.groupBy("canonical").agg(
        F.array_sort(F.collect_set("norm")).alias("variants")
    )
