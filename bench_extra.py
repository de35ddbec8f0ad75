"""Round-6 optimization profiling harness (guide §1.4): NOT the driver bench.

Modes (first CLI arg):
    kg        run ONLY the KG pipeline (same params as bench.py); per-phase
              time comes from `kgjobs` or `perfbench/run.py --trace 1`
    kgjobs    the KG pipeline with the UI on: every Spark job's wall time and
              `kg:<phase>` description, plus the gaps between jobs
    queries   time each headline query with the noop sink, N repeats
    explain   dump .explain("formatted") for the headline queries to
              plans/r06/<query>_<tag>.txt  (second arg = tag, default "before")

Env contract mirrors bench.py (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
KG_BENCH_CONVS).
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from named_entity_algorithm_project_spark.queries import QUERIES
from named_entity_algorithm_project_spark.session import get_spark

HEADLINE_QUERIES = [
    "q01_pricing_summary",
    "q02_topk_parts",
    "q03_filtered_join_agg",
    "q06_nearest_event_join",
    "q09_sessionize",
    "q12_ngram_jaccard_pairs",
    "q13_minhash_bands",
    "q14_cosine_topk",
    "q16_token_stats",
    "q36_lsh_ann_topk",
]


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="kg-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_kg() -> None:
    from named_entity_algorithm_project_spark.datagen import generate_transcripts
    from named_entity_algorithm_project_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    spark = _spark()
    n_convs = int(os.environ.get("KG_BENCH_CONVS", "30000"))
    transcripts = generate_transcripts(spark, n_convs=n_convs, seed=42).persist()
    transcripts.count()
    out_dir = tempfile.mkdtemp(prefix="kg_bench_extra_")
    try:
        t0 = time.time()
        result = run_pipeline(
            spark, transcripts, out_dir, config=PipelineConfig(n_buckets=2),
            resume=False,
        )
        n_triples = result.triples.count()
        wall = time.time() - t0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    print(json.dumps({"kg_pipeline": round(wall, 3), "kg_triples": n_triples}))
    spark.stop()


def run_kg_jobs() -> None:
    """Run the KG pipeline with the UI on and dump every Spark job's wall
    time + description (+ inter-job driver gaps) for phase attribution."""
    import datetime
    import urllib.request

    from named_entity_algorithm_project_spark.datagen import generate_transcripts
    from named_entity_algorithm_project_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="kg-bench-extra-jobs",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_convs = int(os.environ.get("KG_BENCH_CONVS", "30000"))
    transcripts = generate_transcripts(spark, n_convs=n_convs, seed=42).persist()
    transcripts.count()
    gen_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    out_dir = tempfile.mkdtemp(prefix="kg_bench_extra_")
    try:
        t0 = time.time()
        result = run_pipeline(
            spark, transcripts, out_dir, config=PipelineConfig(n_buckets=2),
            resume=False,
        )
        n_triples = result.triples.count()
        wall = time.time() - t0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/jobs?status=succeeded", timeout=30
    ) as r:
        jobs = json.loads(r.read().decode())

    def _ts(s):
        return datetime.datetime.strptime(
            s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
        ).timestamp()

    jobs.sort(key=lambda j: j["jobId"])
    skip = set(gen_jobs or [])
    rows = []
    prev_end = None
    for j in jobs:
        if j["jobId"] in skip:
            prev_end = _ts(j["completionTime"])
            continue
        sub, end = _ts(j["submissionTime"]), _ts(j["completionTime"])
        gap = round(sub - prev_end, 2) if prev_end is not None else 0.0
        rows.append(
            (
                j["jobId"],
                round(end - sub, 2),
                gap,
                (j.get("description") or "")[:40]
                + " :: "
                + (j.get("name", ""))[:70],
            )
        )
        prev_end = end
    # stage detail for slow jobs
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/stages?status=COMPLETE", timeout=30
    ) as r:
        stages = {s["stageId"]: s for s in json.loads(r.read().decode())}
    jobs_by_id = {j["jobId"]: j for j in jobs}
    print(f"kg wall={wall:.1f}s triples={n_triples}")
    print("\nstage detail for jobs > 1s:")
    for j in jobs:
        if j["jobId"] in skip:
            continue
        sub, end = _ts(j["submissionTime"]), _ts(j["completionTime"])
        if end - sub < 1.0:
            continue
        print(f"-- job {j['jobId']} ({end-sub:.2f}s) desc={j.get('description')}")
        for sid in sorted(j.get("stageIds", [])):
            s = stages.get(sid)
            if not s or s.get("numCompleteTasks", 0) == 0:
                continue
            print(
                f"   stage {sid}: tasks={s['numCompleteTasks']} "
                f"runTime={s.get('executorRunTime',0)/1000:.1f}s "
                f"in={s.get('inputBytes',0)>>20}MB "
                f"sr={s.get('shuffleReadBytes',0)>>20}MB "
                f"sw={s.get('shuffleWriteBytes',0)>>20}MB "
                f"out={s.get('outputBytes',0)>>20}MB  {s.get('name','')[:80]}"
            )
    print("jobId | job_s | gap_before_s | description")
    for jid, dur, gap, desc in rows:
        print(f"{jid:5d} | {dur:6.2f} | {gap:6.2f} | {desc}")
    by_desc: dict[str, float] = {}
    for _, dur, gap, desc in rows:
        by_desc[desc] = by_desc.get(desc, 0.0) + dur
    print("\ntotals by description (job time only):")
    for desc, tot in sorted(by_desc.items(), key=lambda kv: -kv[1]):
        print(f"{tot:7.2f}s  {desc}")
    print(f"\nsum job time: {sum(r[1] for r in rows):.1f}s; "
          f"sum gaps: {sum(r[2] for r in rows):.1f}s")
    spark.stop()


def run_queries(repeats: int = 3) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    # warmup like bench.py
    QUERIES["q01_pricing_summary"](spark, sf_dir).collect()
    out: dict[str, list[float]] = {}
    for name in HEADLINE_QUERIES:
        out[name] = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out[name].append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({k: {"min": min(v), "all": v} for k, v in out.items()}))
    spark.stop()


def run_explain(tag: str = "before") -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    os.makedirs("plans/r06", exist_ok=True)
    for name in HEADLINE_QUERIES:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
            f.write(buf.getvalue())
        print(f"wrote plans/r06/{name}_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "kg"
    if mode == "kg":
        run_kg()
    elif mode == "kgjobs":
        run_kg_jobs()
    elif mode == "queries":
        run_queries(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif mode == "explain":
        run_explain(sys.argv[2] if len(sys.argv) > 2 else "before")
    else:
        raise SystemExit(f"unknown mode {mode}")
