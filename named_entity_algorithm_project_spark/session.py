"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every setting is chosen for the
1000-executor / 100 TB case: AQE on (runtime re-planning + skew-join
splitting), Arrow on (all Python boundaries are batched), explicit shuffle
partitioning, and broadcast threshold suited to the small dimension tables
this pipeline uses (alias dictionaries, canonical maps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "named_entity_algorithm_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the pipeline's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime coalescing of small shuffle partitions + automatic
        # skew-join splitting; the skew mitigation for joins (hub-keyed
        # aggregations rely on map-side partial aggregation).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables here (alias dicts, canonical maps) are small;
        # 64 MiB keeps them broadcast even at large corpus vocabularies.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 32 MiB scan splits: Stage-A extraction files are ~100-200 MB
        # each, and downstream per-row work (struct explode, parquet
        # encode) must parallelize across cores WITHOUT paying a 13M-row
        # re-shuffle — finer splits give the write stages their
        # parallelism for free (BENCH.md round-2 notes).
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # zstd for shuffle/spill blocks: this box (and any network-rich
        # cluster) is bandwidth-bound on wide stages while CPU scales —
        # trading compression CPU for shuffle bytes raises the N-vs-4N
        # scaling efficiency (BENCH.md).
        .config("spark.io.compression.codec", "zstd")
        # Deterministic timestamps across JVM/Python.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _prewarm_python_workers(spark)
    return spark


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork the reusable Python-worker pool at session creation (analogous
    to eager executor allocation on a cluster): the FIRST Python-touching
    job in a session otherwise absorbs the daemon+worker fork and module
    imports (~1.5-2s for a 1-task stage, ~4.5s for 32 parallel forks,
    measured) inside whatever query happens to run it. One tiny untimed
    mapInPandas here makes that cost a session-setup constant instead of a
    per-workload surprise; workers persist via spark.python.worker.reuse
    (the default)."""
    if getattr(spark, "_kg_python_prewarmed", False):
        return
    try:
        cores = spark.sparkContext.defaultParallelism

        def _noop(batches):
            for b in batches:
                yield b

        (
            spark.range(2 * cores, numPartitions=cores)
            .mapInPandas(_noop, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        spark._kg_python_prewarmed = True
    except Exception:
        # never fail session creation over a warmup nicety
        pass
