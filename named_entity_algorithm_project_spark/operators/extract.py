"""Stage A — mention extraction over transcripts.

One Arrow-batched pandas UDF runs the deterministic detector
(:mod:`..detector`) per text; the Spark plan around it is pure DataFrame:

    transcripts --(pandas_udf: text -> struct<mentions,abbreviations>)-->
      posexplode(mentions)  -> mentions DF
      posexplode(abbrevs)   -> abbreviation-pairs DF

Scale notes:
* The UDF is the only Python in the stage and is Arrow-batched
  (spark.sql.execution.arrow.maxRecordsPerBatch controls batch size); no
  per-row Python UDFs anywhere (north-rule requirement).
* Extraction is embarrassingly parallel per turn — a narrow map, no shuffle.
  The caller decides partitioning; the pipeline repartitions by conv_id
  beforehand so downstream per-conversation joins reuse the layout.
* User gazetteer terms ship as a plain closure list (small dimension —
  an implicit broadcast); patterns compile once per executor worker.

Reference semantics: app.py:3619-3933 (see detector.py docstring for the
line-by-line mapping).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..detector import DEFAULT_CONFIDENCE_THRESHOLD, compile_user_patterns, extract_turn

MENTION_STRUCT = T.StructType(
    [
        T.StructField("entity", T.StringType(), False),
        T.StructField("entity_norm", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("canonical_acr", T.StringType(), True),
        T.StructField("is_user_entity", T.BooleanType(), False),
    ]
)

ABBREV_STRUCT = T.StructType(
    [
        T.StructField("abbr", T.StringType(), False),
        T.StructField("expansion", T.StringType(), False),
    ]
)

EXTRACTION_STRUCT = T.StructType(
    [
        T.StructField("mentions", T.ArrayType(MENTION_STRUCT), False),
        T.StructField("abbreviations", T.ArrayType(ABBREV_STRUCT), False),
    ]
)


#: the per-turn key of every Stage-A frame
KEY_COLS = ("conv_id", "turn_idx")

TRANSCRIPT_KEY_FIELDS = (
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
)

# Concrete storage schema of the Stage-A checkpoint table (explicit on
# read so empty buckets — zero part files — stay readable).
EXTRACTION_TABLE_SCHEMA = T.StructType(
    list(TRANSCRIPT_KEY_FIELDS) + [T.StructField("ex", EXTRACTION_STRUCT, True)]
)


def pack_results(results) -> pd.DataFrame:
    """ExtractionResults -> the ``EXTRACTION_STRUCT`` frame both Stage-A
    UDFs return: one mention tuple per mention (field order and types of
    ``MENTION_STRUCT``) and the abbreviation pairs, per turn."""
    mentions_out = []
    abbrevs_out = []
    for result in results:
        mentions_out.append(
            [
                (
                    m.entity,
                    m.entity_norm,
                    m.entity_type,
                    float(m.confidence),
                    m.start,
                    m.end,
                    m.canonical_acr,
                    bool(m.is_user_entity),
                )
                for m in result.mentions
            ]
        )
        abbrevs_out.append(list(result.abbreviations))
    return pd.DataFrame({"mentions": mentions_out, "abbreviations": abbrevs_out})


def extraction_udf(
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    user_entities: Optional[List[Tuple[str, str]]] = None,
):
    """Build the Arrow-batched extraction UDF. ``user_entities`` is the
    small (term, type) user-gazetteer dimension, captured in the closure
    (implicit broadcast, app.py:1974-2094)."""
    user_entities = list(user_entities or [])

    @F.pandas_udf(EXTRACTION_STRUCT)
    def _extract(texts: pd.Series) -> pd.DataFrame:
        # compiled once per Arrow batch; cheap relative to batch size, and
        # safe (no cross-batch state)
        patterns = compile_user_patterns(user_entities) if user_entities else None
        return pack_results(
            extract_turn(
                text,
                confidence_threshold=confidence_threshold,
                user_patterns=patterns,
            )
            for text in texts
        )

    return _extract


def extract_combined(
    transcripts: DataFrame,
    key_cols: Tuple[str, ...] = KEY_COLS,
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    user_entities: Optional[List[Tuple[str, str]]] = None,
    detector: str = "deterministic",
    added_tokens: Optional[List[str]] = None,
) -> DataFrame:
    """One row per turn: key_cols + ``ex`` struct<mentions, abbreviations>
    extracted from the ``text`` column.
    This is the Stage-A checkpoint payload — writing it verbatim means the
    detector UDF runs exactly once per turn, ever; mentions/abbrevs explode
    lazily from the stored arrays on read.

    ``detector`` picks the span source behind the SAME UDF interface and
    output schema: "deterministic" (the reference's DummyPipeline path) or
    "neural[:<model>]" (X2/X3 — 512-token chunking, per-worker model
    singleton, batched inference; ":stub" or no suffix uses the
    deterministic fake in model-less environments — operators/neural.py).
    Any other value raises ``ValueError``."""
    keys = [F.col(c) for c in key_cols]
    if detector == "neural" or detector.startswith("neural:"):
        from .neural import neural_extraction_udf

        model_name = detector.split(":", 1)[1] if ":" in detector else "stub"
        udf = neural_extraction_udf(
            model_name,
            confidence_threshold,
            user_entities,
            added_tokens,
        )
    elif detector == "deterministic":
        udf = extraction_udf(confidence_threshold, user_entities)
    else:
        raise ValueError(f"unknown detector {detector!r}")
    return transcripts.select(
        *keys,
        udf(F.col("text")).alias("ex"),
    )


def split_extraction(extracted: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """(mentions, abbreviation_pairs) views over a combined extraction
    frame, keyed by ``KEY_COLS``."""
    mentions = extracted.select(
        *[F.col(c) for c in KEY_COLS],
        F.explode(F.col("ex.mentions")).alias("m"),
    ).select(*KEY_COLS, "m.*")

    abbrevs = (
        extracted.select(
            *[F.col(c) for c in KEY_COLS],
            F.explode(F.col("ex.abbreviations")).alias("a"),
        )
        .select(*KEY_COLS, "a.*")
    )
    return mentions, abbrevs


def extract_mentions(
    transcripts: DataFrame, detector: str = "deterministic"
) -> Tuple[DataFrame, DataFrame]:
    """Run extraction; returns (mentions, abbreviation_pairs).

    Both outputs derive from ONE UDF invocation column, materialized via
    localCheckpoint so the detector runs once per row even though two frames
    consume it (unlike persist(), checkpoint blocks are released by the
    ContextCleaner when the frame goes out of scope — repeated ad-hoc
    invocations in one session don't accumulate cache residency). The
    pipeline uses :func:`extract_combined` + a checkpoint write instead;
    this convenience form serves ad-hoc queries and tests.
    """
    extracted = extract_combined(transcripts, detector=detector).localCheckpoint(
        eager=True
    )
    return split_extraction(extracted)
