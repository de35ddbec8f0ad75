"""Triple-stage units: nearest-property tie-breaking (J1), value-unit
interval join (J2 / Measurement semantics)."""

from named_entity_algorithm_project_spark.operators import triples as triples_ops
from named_entity_algorithm_project_spark.operators.triples import (
    build_triples,
    link_value_units,
)

MENTION_COLS = (
    "conv_id string, turn_idx int, entity string, entity_type string, "
    "confidence double, start int, end int, canonical string"
)


def _mention(conv, entity, etype, start, end=None, canonical=None):
    return (
        conv, 0, entity, etype, 0.9, start,
        (start + len(entity)) if start is not None and end is None else end,
        canonical or entity,
    )


def test_nearest_property_tiebreak(spark):
    rows = [
        # value at 100; two props equidistant (90 and 110) -> lower start wins
        _mention("c1", "5 V", "PROP_VALUE", 100),
        _mention("c1", "zeta", "PROP_NAME", 90),
        _mention("c1", "alpha", "PROP_NAME", 110),
        # value with no props in doc
        _mention("c2", "7 K", "PROP_VALUE", 10),
        # props-only doc emits (prop, NULL)
        _mention("c3", "mobility", "PROP_NAME", 0),
    ]
    df = spark.createDataFrame(rows, MENTION_COLS)
    triples = {
        (r["conv_id"], r["subj"], r["obj"])
        for r in build_triples(df).collect()
    }
    assert ("c1", "zeta", "5 V") in triples  # dist tie -> start 90 < 110
    assert ("c2", None, "7 K") in triples
    assert ("c3", "mobility", None) in triples


def test_value_unit_follows_preferred(spark):
    rows = [
        # value [10,13); unit before at [5,7) gap 3, unit after at [20,22) gap 7
        _mention("c1", "123", "PROP_VALUE", 10, 13),
        _mention("c1", "nm", "PROP_VALUE", 5, 7),
        _mention("c1", "eV", "PROP_VALUE", 20, 22),
    ]
    df = spark.createDataFrame(rows, MENTION_COLS)
    linked = link_value_units(df).collect()
    assert len(linked) == 1
    # direction beats gap: the following unit wins despite larger gap
    assert linked[0]["linked_unit"] == "eV"
    assert linked[0]["measurement"] == "123 eV"


def test_value_unit_gap_cutoff(spark, monkeypatch):
    rows = [
        _mention("c1", "42", "PROP_VALUE", 0, 2),
        _mention("c1", "Pa", "PROP_VALUE", 50, 52),  # gap 48 > 30
    ]
    df = spark.createDataFrame(rows, MENTION_COLS)
    assert link_value_units(df).count() == 0
    monkeypatch.setattr(triples_ops, "VALUE_UNIT_MAX_DISTANCE", 60)
    assert link_value_units(df).count() == 1
