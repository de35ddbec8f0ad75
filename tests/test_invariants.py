"""Per-row invariant (BASELINE.json input_hint): per-turn text equality under
stable (conv_id, turn_idx) ordering after repartition(conv_id) +
sortWithinPartitions."""

from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.datagen import (
    TRANSCRIPTS_SCHEMA,
    generate_rows,
)
from named_entity_algorithm_project_spark.pipeline import ordered_transcripts


def test_per_turn_text_equality_after_repartition(spark):
    rows = generate_rows(n_convs=50, seed=9)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    ordered = ordered_transcripts(df)  # the session's 8 shuffle partitions

    # 1. no row lost/duplicated, text identical per (conv_id, turn_idx)
    original = {(r[0], r[1]): r[3] for r in rows}
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in ordered.collect()
    }
    assert got == original

    # 2. a conversation never spans partitions, and rows are sorted by
    # (conv_id, turn_idx) within each partition
    part_rows = ordered.select(
        F.spark_partition_id().alias("pid"), "conv_id", "turn_idx"
    ).collect()
    by_pid = {}
    conv_to_pid = {}
    for r in part_rows:
        by_pid.setdefault(r["pid"], []).append((r["conv_id"], r["turn_idx"]))
        prev = conv_to_pid.setdefault(r["conv_id"], r["pid"])
        assert prev == r["pid"], f"conversation {r['conv_id']} spans partitions"
    for pid, keys in by_pid.items():
        assert keys == sorted(keys), f"partition {pid} not sorted"


def test_turn_indices_dense_in_generator(spark):
    rows = generate_rows(n_convs=20, seed=10)
    by_conv = {}
    for conv_id, turn_idx, *_ in rows:
        by_conv.setdefault(conv_id, []).append(turn_idx)
    for conv, idxs in by_conv.items():
        assert idxs == list(range(len(idxs))), conv


def test_hub_skew_corpus_end_to_end(spark, tmp_path):
    """The hub-skew tier (datagen.hub_rate): ONE norm planted into ~half of
    all turns must flow through the full pipeline — a power-law key is a
    throughput question for the aggregations, not a correctness one. Asserts the planting actually skews (hub dominates the mention
    frequency table) and the hub norm still resolves to one canonical.
    hub_rate=0 stays bit-identical to the original generator (zero extra
    rng draws), so every pinned fixture is untouched — checked here
    against the unthreaded call."""
    from named_entity_algorithm_project_spark.datagen import (
        HUB_NORM,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    assert generate_rows(n_convs=15, seed=4) == generate_rows(
        n_convs=15, seed=4, hub_rate=0.0
    )

    rows = generate_rows(n_convs=60, seed=4, hub_rate=0.5)
    planted = sum(1 for r in rows if r[3] and HUB_NORM in r[3])
    nonempty = sum(1 for r in rows if r[3])
    assert planted / nonempty > 0.4  # the skew is real

    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    res = run_pipeline(
        spark, df, str(tmp_path / "hub_out"), config=PipelineConfig(),
        resume=False,
    )
    freqs = {
        r["entity"]: r["cnt"]
        for r in res.entities.groupBy("entity")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert freqs, "pipeline extracted nothing"
    top_entity = max(freqs, key=freqs.get)
    assert top_entity == HUB_NORM  # the hub dominates the key distribution
    # each planted sentence rides a turn that also yields ordinary
    # mentions, so the hub's share of TOTAL mentions sits near
    # hub_rate/avg_mentions_per_turn (~0.15 here) — the skew evidence is
    # the hub towering over the runner-up key, which is what a hash
    # partitioner would choke on
    runner_up = max(v for k, v in freqs.items() if k != HUB_NORM)
    assert freqs[HUB_NORM] >= 2 * runner_up
    assert freqs[HUB_NORM] >= 0.1 * sum(freqs.values())
    # the hub norm resolves to exactly one canonical despite its frequency
    canon = (
        res.entities.filter(F.col("entity") == HUB_NORM)
        .select("canonical")
        .distinct()
        .collect()
    )
    assert len(canon) == 1
