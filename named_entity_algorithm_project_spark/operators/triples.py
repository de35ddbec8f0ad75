"""Stage B — triple extraction.

The reference's relation table (app.py:2321-2405) pairs each PROP_VALUE /
MATERIAL_AMOUNT mention with the nearest PROP_NAME mention in the same
document by |start_prop - start_value| (a per-document nearest-neighbor /
as-of-style join). Here it is a self-join co-partitioned on the document key
plus a window rank — docs are small (tens of mentions), so the per-key cross
product is bounded and the join never skews beyond a single conversation
turn.

Emitted triple set (pinned in SURVEY.md §7.1):
  (subj = canonical(property), pred = 'has_value', obj = value_text)
  plus unmatched properties as (subj, 'has_value', NULL) when a document has
  properties but no values (reference emits those rows with Value=None).

Tie-breaking is made explicit (the reference relies on pandas stable-sort
row order): min distance, then property start ASC, then property entity ASC.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dictionaries import VALUE_TYPES
from .extract import KEY_COLS

#: link_value_units' gap cutoff in characters (read at call time)
VALUE_UNIT_MAX_DISTANCE = 30


def nearest_property_join(mentions: DataFrame) -> DataFrame:
    """Per-document nearest PROP_NAME for each value mention.

    Returns one row per value mention: KEY_COLS + value columns + the
    matched property (nullable). Unmatched-property fallback rows are added
    by :func:`build_triples`.
    """
    keys = list(KEY_COLS)

    values = mentions.filter(F.col("entity_type").isin(*VALUE_TYPES)).select(
        *keys,
        F.col("entity").alias("value_text"),
        F.col("start").alias("value_start"),
        F.col("confidence").alias("value_confidence"),
    )
    props = mentions.filter(F.col("entity_type") == "PROP_NAME").select(
        *keys,
        F.coalesce(F.col("canonical"), F.col("entity")).alias("property_text"),
        F.col("start").alias("prop_start"),
    )

    # Self-join within the document key. Both sides shuffle on the same key,
    # so AQE plans a co-partitioned sort-merge join; per-key fanout is tiny.
    joined = values.join(props, on=keys, how="left")

    # Reference fills missing prop starts with the per-doc max before the
    # distance sort (app.py:2381-2382).
    doc_window = Window.partitionBy(*keys)
    joined = joined.withColumn(
        "prop_start_filled",
        F.coalesce(
            F.col("prop_start"), F.max("prop_start").over(doc_window)
        ),
    ).withColumn(
        "dist",
        F.when(
            F.col("property_text").isNull() | F.col("value_start").isNull(),
            F.lit(None).cast("long"),
        ).otherwise(
            F.abs(
                F.coalesce(F.col("prop_start_filled"), F.lit(0)).cast("long")
                - F.col("value_start").cast("long")
            )
        ),
    )

    rank_window = Window.partitionBy(
        *keys, "value_text", "value_start"
    ).orderBy(
        F.col("dist").asc_nulls_last(),
        F.col("prop_start").asc_nulls_last(),
        F.col("property_text").asc_nulls_last(),
    )
    nearest = (
        joined.withColumn("rn", F.row_number().over(rank_window))
        .filter(F.col("rn") == 1)
        .drop("rn", "prop_start_filled", "dist", "prop_start")
    )
    # A value row with no usable start keeps no property (reference:
    # v_start None -> best_property stays None, app.py:2373-2377).
    nearest = nearest.withColumn(
        "property_text",
        F.when(F.col("value_start").isNull(), F.lit(None)).otherwise(
            F.col("property_text")
        ),
    )
    return nearest


def build_triples(mentions: DataFrame) -> DataFrame:
    """Emit the ``has_value`` triple table.

    Schema: subj, pred, obj, KEY_COLS..., confidence. ``subj`` is the
    canonical property (trimmed), NULL when a value had no property in its
    document; properties in documents with no values become (subj, pred,
    NULL) rows (app.py:2394-2403).
    """
    keys = list(KEY_COLS)
    nearest = nearest_property_join(mentions)

    value_triples = nearest.select(
        F.trim(F.col("property_text")).alias("subj"),
        F.lit("has_value").alias("pred"),
        F.trim(F.col("value_text")).alias("obj"),
        *keys,
        F.col("value_confidence").alias("confidence"),
    )

    # Documents that have properties but zero values: emit property-only rows.
    docs_with_values = (
        mentions.filter(F.col("entity_type").isin(*VALUE_TYPES))
        .select(*keys)
        .distinct()
    )
    prop_only = (
        mentions.filter(F.col("entity_type") == "PROP_NAME")
        .join(docs_with_values, on=keys, how="left_anti")
        .select(
            F.trim(F.coalesce(F.col("canonical"), F.col("entity"))).alias("subj"),
            F.lit("has_value").alias("pred"),
            F.lit(None).cast("string").alias("obj"),
            *keys,
            F.col("confidence"),
        )
    )
    return value_triples.unionByName(prop_only)


def mention_triples(mentions: DataFrame) -> DataFrame:
    """(doc, 'mentions', canonical) per distinct mention (SURVEY §7.1).

    Dedup is an explicit max-confidence aggregation, not dropDuplicates:
    dropDuplicates keeps an ARBITRARY survivor's confidence (partition-
    order dependent — a determinism hole), and aggregating on the narrow
    (keys, obj) projection shuffles 4 small columns instead of the full
    row."""
    keys = list(KEY_COLS)
    deduped = (
        mentions.select(
            *keys,
            F.coalesce(F.col("canonical"), F.col("entity_norm")).alias("obj"),
            F.col("confidence"),
        )
        .groupBy(*keys, "obj")
        .agg(F.max("confidence").alias("confidence"))
    )
    return deduped.select(
        F.concat_ws("#", *[F.col(k).cast("string") for k in keys]).alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("obj"),
        *keys,
        F.col("confidence"),
    )


def link_value_units(
    mentions: DataFrame, key_cols: Tuple[str, ...] = KEY_COLS
) -> DataFrame:
    """Value↔unit interval join — the reference's "Measurement" semantics
    (app.py:1052-1246, dead code there but the definitive spec):

    candidate ordering per value = (direction, gap, proximity, tie) minimized,
      direction  0 if unit starts at/after value end else 1
      gap        char distance between the non-overlapping edges (0 overlap)
      proximity  |mid(unit) - mid(value)|
      tie        |unit.start - value.end|
    gap > VALUE_UNIT_MAX_DISTANCE disqualifies. Values and units are both
    PROP_VALUE mentions. Unit validity: <=20 chars and unit-shaped
    (UNIT_ONLY_PATTERN / UNIT_TERMS / the legacy charset).

    Returns one row per linked value: key_cols, value_text, value_start,
    linked_unit, measurement. Same co-partitioned self-join + window-rank
    shape as the nearest-property join.
    """
    from ..dictionaries import UNIT_TERMS

    keys = list(key_cols)
    unit_shaped = (
        (F.length(F.trim(F.col("entity"))) <= 20)
        & (F.trim(F.col("entity")) != "")
        & (
            F.trim(F.col("entity")).rlike(r"^[A-Za-z·°Ωµµ/\\-]{1,10}$")
            | F.upper(F.trim(F.col("entity"))).isin(*sorted(UNIT_TERMS))
            | F.trim(F.col("entity")).rlike(r"^[A-Za-z0-9µμ%°·^/\\\-\.\s]+$")
        )
    )
    values = mentions.filter(
        (F.upper(F.col("entity_type")) == "PROP_VALUE")
        & F.col("start").isNotNull()
        & F.col("end").isNotNull()
        & ~F.trim(F.col("entity")).rlike(r"^[A-Za-z·°Ωµµ/\\-]{1,10}$")
    ).select(
        *keys,
        F.trim(F.col("entity")).alias("value_text"),
        F.col("start").alias("v_start"),
        F.col("end").alias("v_end"),
    )
    units = mentions.filter(
        (F.upper(F.col("entity_type")) == "PROP_VALUE")
        & F.col("start").isNotNull()
        & F.col("end").isNotNull()
        & unit_shaped
        & F.trim(F.col("entity")).rlike(r"^[A-Za-z·°Ωµµ/\\-]{1,10}$")
    ).select(
        *keys,
        F.trim(F.col("entity")).alias("unit_text"),
        F.col("start").alias("u_start"),
        F.col("end").alias("u_end"),
    )

    joined = values.join(units, on=keys)
    direction = F.when(F.col("u_start") >= F.col("v_end"), 0).when(
        F.col("u_end") <= F.col("v_start"), 1
    ).otherwise(0)
    gap = (
        F.when(F.col("u_start") >= F.col("v_end"), F.col("u_start") - F.col("v_end"))
        .when(F.col("u_end") <= F.col("v_start"), F.col("v_start") - F.col("u_end"))
        .otherwise(F.lit(0))
    )
    mid_u = ((F.col("u_start") + F.col("u_end")) / 2).cast("int")
    mid_v = ((F.col("v_start") + F.col("v_end")) / 2).cast("int")
    proximity = F.abs(mid_u - mid_v)
    tie = F.abs(F.col("u_start") - F.col("v_end"))

    ranked = (
        joined.withColumn("direction", direction)
        .withColumn("gap", gap)
        .filter(F.col("gap") <= VALUE_UNIT_MAX_DISTANCE)
        .withColumn("proximity", proximity)
        .withColumn("tie", tie)
    )
    win = Window.partitionBy(*keys, "value_text", "v_start").orderBy(
        "direction", "gap", "proximity", "tie", "u_start", "unit_text"
    )
    return (
        ranked.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            *keys,
            "value_text",
            F.col("v_start").alias("value_start"),
            F.col("unit_text").alias("linked_unit"),
            F.concat_ws(" ", "value_text", "unit_text").alias("measurement"),
        )
    )


def same_as_triples(canonical_map: DataFrame) -> DataFrame:
    """(variant, 'same_as', canonical) for every non-identity map entry."""
    return canonical_map.filter(F.col("norm") != F.col("canonical")).select(
        F.col("norm").alias("subj"),
        F.lit("same_as").alias("pred"),
        F.col("canonical").alias("obj"),
    )
