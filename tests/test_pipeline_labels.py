"""Jobs a pipeline run submits from its thread pools carry the kg:<phase>
job description of the phase that submitted them, like the jobs of the
calling thread do."""

import os
import threading

from named_entity_algorithm_project_spark import pipeline
from named_entity_algorithm_project_spark.datagen import (
    TRANSCRIPTS_SCHEMA,
    generate_rows,
)


def test_pool_thread_jobs_carry_phase_label(spark, tmp_path, monkeypatch):
    df = spark.createDataFrame(generate_rows(n_convs=20, seed=3), TRANSCRIPTS_SCHEMA)
    sc = spark.sparkContext
    pooled = []

    def record(what):
        if threading.current_thread() is not threading.main_thread():
            pooled.append((what, sc.getLocalProperty("spark.job.description")))

    real_checkpoint = type(df).localCheckpoint

    def checkpoint(self, *args, **kwargs):
        record("checkpoint")
        return real_checkpoint(self, *args, **kwargs)

    real_write = pipeline.write_table

    def write_table(frame, path, *args, **kwargs):
        record(os.path.basename(path))
        return real_write(frame, path, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", checkpoint)
    monkeypatch.setattr(pipeline, "write_table", write_table)
    pipeline.run_pipeline(
        spark,
        df,
        str(tmp_path / "out"),
        config=pipeline.PipelineConfig(n_buckets=2),
        resume=False,
    )
    # Stage E's three small writes
    assert sorted(what for what, _ in pooled) == [
        "alias_groups", "canonical_map", "metrics",
    ]
    for what, label in pooled:
        assert label is not None and label.startswith("kg:"), (what, label)
