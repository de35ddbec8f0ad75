"""Multimodal plumbing: schema, Arrow batch shape, deterministic features.
The decode is a deterministic stub (no codec libraries are dependencies);
the Spark side is real."""

import pytest

from named_entity_algorithm_project_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_media_features,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "image", b"\x89PNG fake bytes 0", (64, 64, None, None, "image/png")),
        (1, "image", b"\x89PNG fake bytes 1", (128, 64, None, None, "image/png")),
        (2, "audio", b"RIFF fake wav", (None, None, 16000, 2500, "audio/wav")),
        (3, "video", b"\x00\x00ftyp fake mp4", (640, 480, None, 3500, "video/mp4")),
        (4, "image", None, (None, None, None, None, None)),  # null payload
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_feature_extraction_schema_and_determinism(media):
    feats = extract_media_features(media).collect()
    assert len(feats) == 5
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[0]["features"]) == FEATURE_DIM
    assert all(0.0 <= x < 1.0 for x in by_id[0]["features"])
    assert by_id[4]["n_bytes"] == 0  # null payload handled
    # deterministic: same payload -> same features across runs
    again = {r["media_id"]: r for r in extract_media_features(media).collect()}
    for k in by_id:
        assert by_id[k]["features"] == again[k]["features"]
        assert by_id[k]["content_hash"] == again[k]["content_hash"]
    # different payloads -> different features
    assert by_id[0]["features"] != by_id[1]["features"]
