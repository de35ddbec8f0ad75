"""End-to-end knowledge-graph construction pipeline.

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      Stage A  extract    — Arrow-UDF mention detection, checkpointed per
                            conv_id hash-bucket with lineage rows (resume
                            skips committed buckets)
      Stage B  link       — TF-IDF inverted-index similarity + abbrev/alias
                            edges
      Stage C  canonical  — connected components (driver union-find, or
                            large/small-star rounds above its bounds) + pick
      Stage D  triples    — nearest-property join -> (subj, pred, obj)
      Stage E  materialize— entities, triples, alias_groups, canonical_map,
                            metrics tables

Partitioning contract: transcripts are repartitioned by conv_id with
sortWithinPartitions(conv_id, turn_idx) before extraction — the stable
ordering invariant the per-turn text-equality check relies on. Buckets are
``pmod(xxhash64(conv_id), n_buckets)`` so a conversation never spans two
checkpoint units.
"""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import List, Mapping, Optional, Tuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .detector import DEFAULT_CONFIDENCE_THRESHOLD
from .functions.localrel import local_df
from .io_tables import (
    StageAPaths,
    commit_buckets_batch,
    committed_buckets,
    read_stage_a_extracted,
    write_table,
)
from .operators.canonical import (
    alias_groups,
    apply_canonical_map,
    apply_user_overrides,
    pick_canonicals,
)
from .operators.components import connected_components
from .operators.extract import extract_combined, split_extraction
from .operators.linking import build_linking_tables
from .operators.triples import build_triples, mention_triples, same_as_triples


@dataclass
class PipelineConfig:
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD
    n_buckets: int = 8
    user_entities: List[Tuple[str, str]] = field(default_factory=list)
    user_canonical: Optional[Mapping[str, List[str]]] = None
    merge_map: Optional[Mapping[str, str]] = None
    # span detector: "deterministic" (reference DummyPipeline path) or
    # "neural[:<hf-model>]" (X2/X3: chunking + per-worker model singleton +
    # batched inference; ":stub" in model-less environments)
    detector: str = "deterministic"
    # X8: harvest corpus abbreviation tokens in a cheap pre-pass and extend
    # the neural tokenizer vocab before inference (app.py:3676-3686);
    # no-op for the deterministic detector
    extend_vocab: bool = False
    # linking candidate scorer: "tfidf" (reference primary path) or
    # "semantic" (L4 embedding cosine). Either is exact at every size and
    # feeds the one driver-side cascade; it scores pairs on the driver up
    # to linking.LOCAL_MAX_VOCAB norms and per block pair above it.
    score_source: str = "tfidf"


@dataclass
class PipelineResult:
    canonical_map: DataFrame
    entities: DataFrame
    triples: DataFrame
    lineage: List[dict]
    metrics: DataFrame


def ordered_transcripts(transcripts: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) layout (north-rule invariant), over
    ``spark.sql.shuffle.partitions`` partitions."""
    parts = transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return transcripts.repartition(int(parts), "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    config: Optional[PipelineConfig] = None,
    resume: bool = True,
) -> PipelineResult:
    """Run (or resume) the full pipeline, materializing under output_dir."""
    config = config or PipelineConfig()
    paths = StageAPaths(output_dir)
    run_id = uuid.uuid4().hex[:12]

    def _phase(name: str) -> None:
        # label every job this phase launches in the Spark UI / REST API —
        # how scripts/skew_bench.py (and a cluster operator) attribute
        # stage-level task-skew to pipeline phases
        try:
            spark.sparkContext.setJobDescription(f"kg:{name}")
        except Exception:
            pass

    _phase("stage_a")

    # ---------------- Stage A: bucketed, checkpointed extraction ----------
    added_tokens = None
    if config.extend_vocab and config.detector.startswith("neural"):
        from .operators.neural import harvest_abbreviation_tokens

        added_tokens = harvest_abbreviation_tokens(transcripts)
    bucketed = ordered_transcripts(transcripts).withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(config.n_buckets)).cast("int"),
    )
    done = set(committed_buckets(spark, paths)) if resume else set()
    lineage_rows: List[dict] = []
    pending = [b for b in range(config.n_buckets) if b not in done]
    if pending:
        subset = (
            bucketed.filter(F.col("bucket").isin(pending)) if done else bucketed
        )
        extracted = extract_combined(
            subset,
            key_cols=("conv_id", "turn_idx", "bucket"),
            confidence_threshold=config.confidence_threshold,
            user_entities=config.user_entities,
            detector=config.detector,
            added_tokens=added_tokens,
        )
        lineage_rows = commit_buckets_batch(
            spark, paths, pending, extracted, run_id
        )

    _phase("stage_b_linking")
    extracted_committed = read_stage_a_extracted(spark, paths)
    mentions_raw, _ = split_extraction(extracted_committed)

    # ---------------- Stage B: linking ------------------------------------
    # the linker reads the combined Stage-A frame in ONE corpus scan (see
    # linking._fused_rows_from_extracted)
    linking = build_linking_tables(
        extracted_committed, score_source=config.score_source
    )

    _phase("stage_c_components")

    # ---------------- Stage C: components + canonical pick ----------------
    components = connected_components(linking.nodes, linking.edges)
    canonical_map = pick_canonicals(components, linking.norms).persist()

    mentions = apply_canonical_map(mentions_raw, canonical_map)
    mentions = apply_user_overrides(
        mentions,
        user_canonical=config.user_canonical,
        merge_map=config.merge_map,
    )

    _phase("stage_e_entities_plan")

    # ---------------- Stage E(i): entities write --------------------------
    # The entities write IS the materialization of the applied-mentions
    # frame: every triple branch (has_value window join, mention facts,
    # unmatched props) reads the written parquet back instead of a
    # localCheckpoint. The canonical joins run exactly once (inside this
    # write job), and — unlike checkpoint blocks, which store full rows —
    # the parquet read-back COLUMN-PRUNES per branch (each triple branch
    # touches 4-7 narrow columns of the 12-column table), so the five
    # downstream passes scan a fraction of the bytes. Reading the written
    # table back also spares the 3-4x re-extraction of the same frame, and
    # the parquet copy is durable on a cluster.
    entities = mentions.select(
        "conv_id",
        "turn_idx",
        "entity",
        "entity_norm",
        "entity_type",
        "confidence",
        "start",
        "end",
        "is_user_entity",
        "norm",
        "canonical",
        "canonical_display",
    )
    _phase("stage_e_entities_write")
    # No repartition: the frame is narrow over the Stage-A scan (canonical
    # joins are broadcast) and 32 MiB scan splits (session.py) already give
    # the parquet encode its parallelism — an exchange here would re-shuffle
    # 13M rows purely to regroup, the exact bandwidth burn the N-vs-4N
    # efficiency metric flags on this box (BENCH.md).
    write_table(entities, os.path.join(output_dir, "entities_canonical"))
    entities_rb = spark.read.schema(entities.schema).parquet(
        os.path.join(output_dir, "entities_canonical")
    )
    _phase("stage_e_triples_write")

    # ---------------- Stage D: triples (over the written entities) --------
    # ONE exchange for every triple branch (guide-§2.4 shape): the
    # nearest-property join, its windows, the docs-with-values anti-join
    # and the mention dedup all cluster by the document key, so the
    # branches derive from a single narrow (8 of 12 columns)
    # hash-repartitioned localCheckpoint — its partitioning survives the
    # checkpoint, so EnsureRequirements plans every downstream join,
    # window and aggregation WITHOUT further mention-scale exchanges, and
    # the five branch re-scans become in-memory block reads. (A bare
    # repartition was not enough: Catalyst pushes each branch's filter
    # below the exchange, so the subtrees stop being identical and
    # ReuseExchange cannot collapse them — measured 5 exchanges + 5
    # parquet re-scans.) Explicit N from the session conf: a column-only
    # repartition is AQE-coalescible, which would serialize the windows
    # at small sizes. The checkpoint is mention-scale but narrow
    # (MEMORY_AND_DISK, spills; released by the ContextCleaner).
    ents_by_doc = (
        entities_rb.select(
            "conv_id",
            "turn_idx",
            "entity",
            "entity_norm",
            "entity_type",
            "confidence",
            "start",
            "canonical",
        )
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            "conv_id",
            "turn_idx",
        )
        .localCheckpoint(eager=True)
    )
    has_value = build_triples(ents_by_doc)
    mention_facts = mention_triples(ents_by_doc)
    same_as = same_as_triples(canonical_map).withColumns(
        {
            "conv_id": F.lit(None).cast("string"),
            "turn_idx": F.lit(None).cast("int"),
            "confidence": F.lit(1.0),
        }
    )
    triples = has_value.unionByName(mention_facts).unionByName(same_as)
    # pipeline-level metrics (the lineage table holds per-bucket Stage-A
    # rows; this table holds the downstream-stage counters the reference
    # surfaced as run stats, app.py:3523-3601). Per-pred counts ride the
    # triples WRITE job via observe — the predicate vocabulary is closed,
    # so no separate groupBy job (and no triples persist) is needed.
    from pyspark.sql import Observation

    obs = Observation("stage_e_triples")
    triples_observed = triples.observe(
        obs,
        *[
            F.coalesce(
                F.sum(F.when(F.col("pred") == p, 1).otherwise(0)), F.lit(0)
            ).alias(f"n_{p}")
            for p in ("has_value", "mentions", "same_as")
        ],
    )
    # partitionBy(pred) with NO pre-repartition: every task writes at most
    # one file per predicate, so the write parallelizes across the union
    # branches' existing partitions (window shuffles + fine scan splits)
    # without another 13M-row exchange. A repartition on pred alone would
    # be a 3-task serial choke, and one on (pred, conv_id) a
    # bandwidth-bound shuffle.
    write_table(
        triples_observed,
        os.path.join(output_dir, "triples"),
        partition_by=["pred"],
    )
    _phase("stage_e_metrics_small_tables")
    pred_counts = obs.get
    # one multi-agg job for both canonical-map counters
    cm_stats = canonical_map.agg(
        F.count(F.lit(1)).alias("n_norms"),
        F.coalesce(
            F.sum(
                F.when(F.col("norm") != F.col("canonical"), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_merged"),
    ).collect()[0]
    metrics_rows = [
        ("base_threshold", float(linking.base_threshold)),
        ("n_canonical_norms", float(cm_stats["n_norms"])),
        ("n_merged_norms", float(cm_stats["n_merged"])),
        ("n_triples_has_value", float(pred_counts["n_has_value"])),
        ("n_triples_mentions", float(pred_counts["n_mentions"])),
        ("n_triples_same_as", float(pred_counts["n_same_as"])),
    ]
    metrics = local_df(spark, metrics_rows, "metric string, value double")
    # three independent small-table writes — overlap them from a thread
    # pool (guide §2.6) so the driver-side commit latency of one doesn't
    # serialize the others; the pool threads inherit the phase label
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(spark)(write_table),
                frame,
                os.path.join(output_dir, name),
            )
            for frame, name in (
                (metrics.coalesce(1), "metrics"),
                (canonical_map, "canonical_map"),
                (alias_groups(canonical_map), "alias_groups"),
            )
        ]
        for f in futs:
            f.result()

    # stop labeling the CALLER's jobs: without this reset every job run
    # after run_pipeline returns (e.g. a bench's result counts) would be
    # attributed to the last phase in the UI/REST API (ADVICE r5)
    try:
        spark.sparkContext.setJobDescription(None)
    except Exception:
        pass
    # read back with explicit schemas: empty tables have no part files to
    # infer from (entities_rb is the schema-explicit read created above)
    triples_rb = spark.read.schema(triples.schema).parquet(
        os.path.join(output_dir, "triples")
    )
    canonical_map.unpersist()
    return PipelineResult(
        canonical_map=spark.read.schema(canonical_map.schema).parquet(
            os.path.join(output_dir, "canonical_map")
        ),
        entities=entities_rb,
        triples=triples_rb,
        lineage=lineage_rows,
        metrics=spark.read.schema(metrics.schema).parquet(
            os.path.join(output_dir, "metrics")
        ),
    )
