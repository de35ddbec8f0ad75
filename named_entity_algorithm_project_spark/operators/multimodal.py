"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data pipelines carry images/audio/video as ``binary`` columns with
a metadata struct; the engine's job is the Spark-side plumbing — schema,
Arrow batch shape, UDF signatures. The heavy media libraries
(PIL/torchaudio/ffmpeg) are not package dependencies, so the decode is a
seeded fake (payload bytes → stable pseudo-features) at the one slot where
a real codec plugs in (:func:`_fake_decode`).

Everything around the stub is real: ``mapInPandas`` with Arrow-batched
binary columns, fixed output schemas and per-batch (not per-row)
iteration. ``extract_media_features`` is the module's one Spark operator
(q35 runs it).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("content_hash", T.StringType(), False),
        # nullable, with decode_status saying why: a real codec in
        # _fake_decode's slot reports an undecodable payload per row
        # rather than failing the batch job (the fake always says "ok")
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_status", T.StringType(), False),
    ]
)


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode + feature extraction: md5-seeded
    pseudo-features in [0, 1). Replace with the real codec:

        img = PIL.Image.open(io.BytesIO(payload))      # <- real decode
        feats = model(preprocess(img))                  # <- real features
    """
    digest = hashlib.md5(payload or b"").digest()
    out = []
    for i in range(FEATURE_DIM):
        h = hashlib.md5(digest + i.to_bytes(2, "big")).digest()
        out.append(int.from_bytes(h[:4], "big") / 2**32)
    return out


def extract_media_features(media: DataFrame) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas``.

    The UDF iterates Arrow batches of binary payloads (set
    spark.sql.execution.arrow.maxRecordsPerBatch down for large payloads);
    inside a batch the codec loop is per-payload by necessity, but no
    Spark-level per-row Python exists.
    """

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            feats = [_fake_decode(b) for b in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: len(b or b"")).astype("int32"),
                    "content_hash": payloads.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "features": pd.Series(feats, index=pdf.index),
                    "decode_status": pd.Series(["ok"] * len(feats), index=pdf.index),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _featurize, FEATURES_SCHEMA
    )
