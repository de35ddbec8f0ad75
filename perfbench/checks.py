"""Output checks run after the timed window. Each returns a list of failure
messages (empty = passed)."""

from __future__ import annotations

import hashlib
import random
from typing import List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.datagen import conv_rows
from named_entity_algorithm_project_spark.io_tables import StageAPaths, read_stage_a
from named_entity_algorithm_project_spark.oracle import oracle_mentions

PREDICATES = ("has_value", "mentions", "same_as")
MENTION_COLS = [
    "conv_id", "turn_idx", "entity", "entity_norm", "entity_type",
    "confidence", "start", "end", "canonical_acr", "is_user_entity",
]
ORACLE_SAMPLE_CONVS = 12


def _table_digest(df: DataFrame) -> str:
    """Row count plus the sum of per-row hashes: independent of row order
    and of how the table is split into files."""
    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def result_hash(result) -> str:
    """Order-independent hash over the triples and canonical_map tables."""
    text = _table_digest(result.triples) + "|" + _table_digest(result.canonical_map)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def metrics_consistent(result, n_triples: int, n_turns: int) -> List[str]:
    """Metrics-table counts equal the triples counted by pred, and lineage
    n_turns equals the input turns."""
    errors = []
    metrics = {r["metric"]: r["value"] for r in result.metrics.collect()}
    by_pred = {
        r["pred"]: r["count"] for r in result.triples.groupBy("pred").count().collect()
    }
    for pred in PREDICATES:
        if metrics.get(f"n_triples_{pred}") != by_pred.get(pred, 0):
            errors.append(
                f"metrics n_triples_{pred}={metrics.get(f'n_triples_{pred}')} "
                f"but triples table has {by_pred.get(pred, 0)}"
            )
    if sum(by_pred.values()) != n_triples:
        errors.append(f"triples by pred sum {sum(by_pred.values())} != {n_triples}")
    lineage_turns = sum(int(r["n_turns"]) for r in result.lineage)
    if lineage_turns != n_turns:
        errors.append(f"lineage n_turns {lineage_turns} != input turns {n_turns}")
    return errors


def stage_a_matches_oracle(
    spark, output_dir: str, seed: int, n_convs: int, vocab_scale: int
) -> List[str]:
    """Stage-A mentions equal the pandas oracle on a seeded sample of
    conversations."""
    picked = random.Random(seed).sample(range(n_convs), min(ORACLE_SAMPLE_CONVS, n_convs))
    rows = [r for i in sorted(picked) for r in conv_rows(i, seed, vocab_scale=vocab_scale)]
    transcripts = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    expected, _ = oracle_mentions(transcripts)
    conv_ids = sorted(set(transcripts["conv_id"]))
    mentions, _ = read_stage_a(spark, StageAPaths(output_dir))
    got = mentions.filter(F.col("conv_id").isin(conv_ids)).select(*MENTION_COLS).toPandas()

    def as_set(pdf: pd.DataFrame):
        return {
            tuple(None if pd.isna(v) else v for v in rec)
            for rec in pdf[MENTION_COLS].itertuples(index=False)
        }

    exp_set, got_set = as_set(expected), as_set(got)
    if not exp_set:
        return ["oracle sample has no mentions"]
    if exp_set != got_set or len(got) != len(expected):
        return [
            f"Stage-A sample differs from oracle: {len(got)} vs {len(expected)} rows, "
            f"{len(exp_set - got_set)} missing, {len(got_set - exp_set)} extra"
        ]
    return []
