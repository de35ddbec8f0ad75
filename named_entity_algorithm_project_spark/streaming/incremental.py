"""Incremental transcript ingestion via Structured Streaming.

The reference is batch-only (SURVEY §2.9); its "cached re-entry" (EP2) is
incremental view maintenance over immutable base results. The streaming
analog: an append-only transcripts directory consumed with a file source,
each micro-batch running the SAME Stage-A extraction transform and appending
to the extraction table. Spark's checkpoint directory tracks consumed files
(at-least-once batch delivery); end-to-end effectively-exactly-once comes
from making each batch write IDEMPOTENT: extraction rows land in a
``batch_id=K`` partition via dynamic partition overwrite (a retried batch
replaces, never duplicates, its own partition) and the per-batch lineage
marker — written LAST, exactly like the Stage-A lineage markers of
io_tables.commit_buckets_batch — gates replay:
a batch whose marker already exists is skipped entirely.
Downstream stages (linking, components, triples)
are corpus-global — they rerun over the accumulated extraction table per
the batch pipeline, exactly like the reference reapplies downstream passes
over cached extraction results.

``foreachBatch`` is used (not a plain writeStream sink) so each batch write
also appends a lineage/metrics row — the streaming twin of
io_tables.commit_buckets_batch.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import TRANSCRIPTS_SCHEMA
from ..functions.localrel import local_df
from ..operators.extract import extract_combined


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    extraction_path: str,
    lineage_path: str,
    confidence_threshold: float = 0.5,
) -> bool:
    """Idempotent per-batch commit (the foreachBatch body; exposed for
    direct replay testing). Returns False when the batch was already
    committed and skipped."""
    from ..io_tables import dir_has_parquet

    t0 = time.time()
    marker_dir = os.path.join(lineage_path, f"batch_id={int(batch_id)}")
    if dir_has_parquet(spark, marker_dir):
        # replayed batch that already committed — idempotent skip
        # (Hadoop FS check, so the protocol holds on HDFS/S3 paths too)
        return False
    from pyspark.sql import Observation

    obs = Observation(f"stream_batch_{batch_id}_{int(t0 * 1000)}")
    extracted = (
        extract_combined(batch_df, confidence_threshold=confidence_threshold)
        .withColumn("batch_id", F.lit(int(batch_id)))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_turns"),
            F.coalesce(F.sum(F.size("ex.mentions")), F.lit(0)).alias(
                "n_mentions"
            ),
        )
    )
    # dynamic partition overwrite: a retried batch replaces ONLY its own
    # batch_id partition — no duplicate rows on replay
    (
        extracted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(extraction_path)
    )
    stats = obs.get
    lineage = local_df(
        spark,
        [
            (
                int(stats["n_turns"] or 0),
                int(stats["n_mentions"] or 0),
                int((time.time() - t0) * 1000),
            )
        ],
        "n_turns long, n_mentions long, wall_ms long",
    )
    # marker write is the commit point (idempotent: overwrite)
    lineage.coalesce(1).write.mode("overwrite").parquet(marker_dir)
    return True


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    confidence_threshold: float = 0.5,
    trigger_available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """Stream new transcript parquet files through Stage-A extraction.

    Returns the StreamingQuery. With ``trigger_available_now`` the query
    drains everything currently present and stops — the incremental-batch
    mode a scheduled ingestion job uses; otherwise it runs continuously.
    """
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    extraction_path = os.path.join(output_dir, "stage_a", "extraction_stream")
    lineage_path = os.path.join(output_dir, "lineage_stream")
    checkpoint = os.path.join(output_dir, "_stream_checkpoint")

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(
            spark,
            batch_df,
            batch_id,
            extraction_path,
            lineage_path,
            confidence_threshold,
        )

    writer = (
        stream.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
