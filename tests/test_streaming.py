"""Incremental (Structured Streaming) extraction: exactly-once file intake,
each micro-batch committed as one Stage-A bucket with its lineage row."""

import shutil

from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.datagen import (
    TRANSCRIPTS_SCHEMA,
    generate_rows,
)
from named_entity_algorithm_project_spark.io_tables import (
    StageAPaths,
    commit_buckets_batch,
    read_lineage,
    read_stage_a,
    read_stage_a_extracted,
)
from named_entity_algorithm_project_spark.streaming import (
    incremental_extract,
    process_batch,
    stream_paths,
)


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_incremental_extract_drains_and_resumes(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    paths = stream_paths(out_dir)
    rows = generate_rows(n_convs=12, seed=21)
    half = len(rows) // 2

    # batch 1: first half
    _write_batch(spark, rows[:half], input_dir)
    q = incremental_extract(spark, input_dir, out_dir)
    q.awaitTermination(120)

    first_count = read_stage_a_extracted(spark, paths).count()
    assert first_count == half

    # batch 2: second half appended; restart drains ONLY the new file
    _write_batch(spark, rows[half:], input_dir)
    q2 = incremental_extract(spark, input_dir, out_dir)
    q2.awaitTermination(120)

    final = read_stage_a_extracted(spark, paths)
    assert final.count() == len(rows)  # no duplicates: checkpoint tracked files
    # every turn extracted exactly once
    assert final.select("conv_id", "turn_idx").distinct().count() == len(rows)

    rows_l = read_lineage(spark, paths).collect()
    assert len(rows_l) == 2
    assert sum(r["n_turns"] for r in rows_l) == len(rows)


def test_batch_replay_is_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch_id) must not duplicate rows: the
    data write is dynamic-partition-overwrite of bucket=K, and a batch
    whose lineage marker exists is skipped outright."""
    paths = StageAPaths(str(tmp_path / "out_replay"))
    rows = generate_rows(n_convs=6, seed=23)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    def extracted():
        return spark.read.parquet(paths.extraction)

    assert process_batch(spark, df, 0, paths) is True
    n1 = extracted().count()
    assert n1 == len(rows)

    # full replay after commit: skipped, nothing changes
    assert process_batch(spark, df, 0, paths) is False
    assert extracted().count() == n1
    assert read_lineage(spark, paths).count() == 1

    # partial-failure replay: data written but marker missing -> the rerun
    # overwrites the partition in place (still no duplicates)
    shutil.rmtree(paths.lineage_bucket(0))
    assert process_batch(spark, df, 0, paths) is True
    assert extracted().count() == n1
    assert extracted().select("conv_id", "turn_idx").distinct().count() == len(rows)


def test_streaming_output_matches_batch(spark, tmp_path):
    """The drained stream has the Stage-A layout: the lineage-gated batch
    reader reads it, and its mentions equal the batch extraction's and a
    batch Stage-A commit's."""
    input_dir = str(tmp_path / "in2")
    out_dir = str(tmp_path / "out2")
    rows = generate_rows(n_convs=10, seed=22)
    _write_batch(spark, rows, input_dir)

    q = incremental_extract(spark, input_dir, out_dir)
    q.awaitTermination(120)
    stream_mentions, _ = read_stage_a(spark, stream_paths(out_dir))

    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
        extract_mentions,
    )

    batch_paths = StageAPaths(str(tmp_path / "batch"))
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    bucketed = df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int")
    )
    commit_buckets_batch(
        spark,
        batch_paths,
        [0, 1],
        extract_combined(bucketed, key_cols=("conv_id", "turn_idx", "bucket")),
        run_id="batch",
    )
    committed_mentions, _ = read_stage_a(spark, batch_paths)
    batch_mentions, _ = extract_mentions(df)

    def key_set(df):
        return {
            (r["conv_id"], r["turn_idx"], r["entity"], r["entity_type"], r["start"])
            for r in df.collect()
        }

    assert key_set(stream_mentions) == key_set(batch_mentions)
    assert key_set(stream_mentions) == key_set(committed_mentions)
