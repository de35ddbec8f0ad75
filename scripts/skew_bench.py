"""Hub-skew end-to-end evidence (VERDICT r4 item 7): plant a power-law hub
entity (datagen.HUB_NORM in ~hub_rate of all turns), run the FULL pipeline
at bench scale, and show the pair-sum/components aggregations keep the
task-time distribution bounded — the straggler a naive hash partitioning
would produce shows up as a stage whose p99 task runtime is a large
multiple of its median.

Measurement: the local Spark UI REST API (/api/v1/applications/.../stages +
taskSummary quantiles) — the same numbers the event log carries, without
parsing event logs. For every completed stage with >= min_tasks tasks we
record executorRunTime p50/p99; the headline metric is the MAX p99/p50
ratio over the stages that together account for 90% of total executor
time (tiny stages have noise-dominated medians in the single-ms range).

Run serially (no concurrent Spark jobs). Usage:
  PYTHONPATH=/root/repo python scripts/skew_bench.py [n_convs] [hub_rate]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from named_entity_algorithm_project_spark.datagen import (
    HUB_NORM,
    generate_transcripts,
)
from named_entity_algorithm_project_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from named_entity_algorithm_project_spark.session import get_spark


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read().decode())


def _stage_phases(base: str, app_id: str) -> dict:
    """stage_id -> pipeline-phase label, from each job's description
    (run_pipeline sets ``kg:<phase>`` via setJobDescription)."""
    phases = {}
    # attribute each stage to its FIRST submitter (lowest jobId): a reused/
    # skipped stage can appear in later jobs' stageIds and last-wins would
    # mislabel it with a later phase (ADVICE r5)
    for job in sorted(
        _api(base, f"/api/v1/applications/{app_id}/jobs"),
        key=lambda j: j.get("jobId", 0),
    ):
        desc = job.get("description") or ""
        label = desc[3:] if desc.startswith("kg:") else ""
        for sid in job.get("stageIds", []):
            if label:
                phases.setdefault(sid, label)
    return phases


def stage_skew_table(spark, min_tasks: int = 8, coverage: float = 0.90):
    """[(stage_id, phase, n_tasks, total_s, p50_ms, p99_ms, ratio)] over the
    completed stages covering ``coverage`` of total executor run time.

    The headline skew metric only considers LOADED-median stages (p50 >=
    500ms): a stage whose median task is empty (a groupBy with fewer
    populated keys/partitions than tasks) yields an unbounded p99/p50
    without any straggler — for those, the absolute p99 and the phase
    label are the diagnostic, not the ratio.
    """
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    phases = _stage_phases(base, app_id)
    stages = _api(base, f"/api/v1/applications/{app_id}/stages?status=COMPLETE")
    stages = [s for s in stages if s.get("numCompleteTasks", 0) >= min_tasks]
    stages.sort(key=lambda s: -s.get("executorRunTime", 0))
    total = sum(s.get("executorRunTime", 0) for s in stages) or 1
    out, acc = [], 0
    for s in stages:
        if acc / total >= coverage:
            break
        acc += s.get("executorRunTime", 0)
        sid, att = s["stageId"], s["attemptId"]
        summary = _api(
            base,
            f"/api/v1/applications/{app_id}/stages/{sid}/{att}/taskSummary"
            "?quantiles=0.5,0.99",
        )
        p50, p99 = summary["executorRunTime"]
        out.append(
            (
                sid,
                phases.get(sid, s.get("name", "")[:40]),
                s["numCompleteTasks"],
                round(s["executorRunTime"] / 1000.0, 1),
                round(p50, 1),
                round(p99, 1),
                round(p99 / max(p50, 1.0), 2),
            )
        )
    return out


LOADED_P50_MS = 500.0


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    hub_rate = float(sys.argv[2]) if len(sys.argv) > 2 else 0.3
    out_dir = "/tmp/skew_bench_out"
    shutil.rmtree(out_dir, ignore_errors=True)

    spark = get_spark(
        app_name="skew-bench",
        master="local[8]",
        shuffle_partitions=32,
        # the session default disables the UI; the REST stage/taskSummary
        # API this measurement reads lives on it
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    transcripts = generate_transcripts(
        spark, n_convs=n_convs, seed=42, hub_rate=hub_rate
    )
    t0 = time.time()
    res = run_pipeline(
        spark, transcripts, out_dir, config=PipelineConfig(), resume=False
    )
    n_triples = res.triples.count()
    wall = time.time() - t0

    hub_mentions = res.entities.filter(
        f"entity = '{HUB_NORM}'"
    ).count()
    n_entities = res.entities.count()

    table = stage_skew_table(spark)
    loaded = [r for r in table if r[4] >= LOADED_P50_MS]
    worst = max((r[-1] for r in loaded), default=None)
    print(
        json.dumps(
            {
                "n_convs": n_convs,
                "hub_rate": hub_rate,
                "hub_norm": HUB_NORM,
                "n_entities": n_entities,
                "hub_mentions": hub_mentions,
                "hub_share": round(hub_mentions / max(n_entities, 1), 3),
                "n_triples": n_triples,
                "wall_s": round(wall, 1),
                "worst_loaded_p99_over_p50": worst,
                "n_loaded_stages": len(loaded),
            }
        ),
        flush=True,
    )
    print("stage_id | tasks | total_s | p50_ms | p99_ms | p99/p50 | phase")
    for sid, name, n, tot, p50, p99, ratio in table:
        print(f"{sid:8d} | {n:5d} | {tot:7.1f} | {p50:6.1f} | {p99:7.1f} | "
              f"{ratio:7.2f} | {name}")
    spark.stop()
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
