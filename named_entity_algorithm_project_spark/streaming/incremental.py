"""Incremental transcript ingestion via Structured Streaming.

The reference is batch-only (SURVEY §2.9); its "cached re-entry" (EP2) is
incremental view maintenance over immutable base results. The streaming
analog: an append-only transcripts directory consumed with a file source,
each micro-batch running the SAME Stage-A extraction transform and
committing it through the SAME protocol as the batch pipeline —
:func:`io_tables.commit_buckets_batch`, with the micro-batch as one bucket
(bucket = batch_id). Spark's checkpoint directory tracks consumed files
(at-least-once batch delivery); end-to-end effectively-exactly-once comes
from the commit protocol: the data write is a dynamic partition overwrite
of ``bucket=K`` (a retried batch replaces, never duplicates, its own
partition), and a batch whose lineage marker already exists is skipped.

The streamed table therefore has the Stage-A layout under
``<output_dir>/stream``: :func:`io_tables.read_stage_a_extracted` reads it
lineage-gated, and the corpus-global downstream stages (linking,
components, triples) rerun over it exactly as they do over batch Stage A —
the way the reference reapplies downstream passes over cached extraction
results.
"""

from __future__ import annotations

import os
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import TRANSCRIPTS_SCHEMA
from ..io_tables import StageAPaths, commit_buckets_batch, dir_has_parquet
from ..operators.extract import extract_combined


def stream_paths(output_dir: str) -> StageAPaths:
    """The Stage-A paths of a stream rooted at ``output_dir`` — a
    subdirectory, so micro-batch buckets never collide with a batch run's
    hash buckets under the same output directory."""
    return StageAPaths(os.path.join(output_dir, "stream"))


def process_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, paths: StageAPaths
) -> bool:
    """Idempotent per-batch commit (the foreachBatch body; exposed for
    direct replay testing). Returns False when the batch was already
    committed and skipped."""
    batch_id = int(batch_id)
    if dir_has_parquet(spark, paths.lineage_bucket(batch_id)):
        return False
    extracted = extract_combined(batch_df).withColumn("bucket", F.lit(batch_id))
    run_id = uuid.uuid4().hex[:12]
    commit_buckets_batch(spark, paths, [batch_id], extracted, run_id)
    return True


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    max_files_per_trigger: Optional[int] = None,
):
    """Stream new transcript parquet files through Stage-A extraction into
    :func:`stream_paths` of ``output_dir``.

    Returns the StreamingQuery. The query drains everything currently
    present and stops (availableNow) — the incremental-batch mode a
    scheduled ingestion job uses.
    """
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    paths = stream_paths(output_dir)
    checkpoint = os.path.join(output_dir, "_stream_checkpoint")

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(spark, batch_df, batch_id, paths)

    return (
        stream.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
