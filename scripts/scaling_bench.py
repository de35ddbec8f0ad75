"""Scaling-efficiency evidence (BASELINE.md): the same KG pipeline job on the
same input at two parallelism levels (local[N] vs local[4N]) — the sandbox
proxy for N vs 4N executor clusters. Efficiency = (T_N / T_4N) / 4.

Each level runs in its own subprocess (own JVM) so neither inherits a warm
executor pool. Prints one JSON line; also appends a row to BENCH.md when
--record is passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from named_entity_algorithm_project_spark.datagen import generate_transcripts
from named_entity_algorithm_project_spark.pipeline import PipelineConfig, run_pipeline
from named_entity_algorithm_project_spark.session import get_spark

cpus = int(sys.argv[1])
n_convs = int(sys.argv[2])
spark = get_spark(app_name=f"kg-scale-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=max(cpus, 16))
spark.sparkContext.setLogLevel("ERROR")
transcripts = generate_transcripts(spark, n_convs=n_convs, seed=42).persist()
n_turns = transcripts.count()  # generation excluded from the timed window
out = tempfile.mkdtemp(prefix=f"kg_scale_{{cpus}}_")
try:
    # extraction-stage-only timing: the per-turn compute path (at real
    # production scale the mention detector dominates; this isolates it
    # from the sandbox's JVM memory-bandwidth ceiling, see BENCH.md)
    from named_entity_algorithm_project_spark.operators.extract import extract_combined
    te0 = time.time()
    extract_combined(transcripts).write.mode("overwrite").parquet(out + "/exonly")
    extract_wall = time.time() - te0
    t0 = time.time()
    result = run_pipeline(spark, transcripts, out,
                          config=PipelineConfig(n_buckets=2), resume=False)
    n_triples = result.triples.count()
    wall = time.time() - t0
finally:
    shutil.rmtree(out, ignore_errors=True)
print(json.dumps({{"cpus": cpus, "wall_sec": round(wall, 2),
                  "extract_wall_sec": round(extract_wall, 2),
                  "n_turns": n_turns, "n_triples": n_triples,
                  "triples_per_sec": round(n_triples / wall, 1)}}))
spark.stop()
"""


def run_level(cpus: int, n_convs: int) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(RUNNER.format(repo=REPO))
        path = f.name
    try:
        out = subprocess.run(
            [sys.executable, path, str(cpus), str(n_convs)],
            capture_output=True, text=True, timeout=3600, check=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    finally:
        os.unlink(path)


def main() -> None:
    n_convs = int(os.environ.get("KG_SCALE_CONVS", "3000"))
    n_small = int(os.environ.get("KG_SCALE_N", "2"))
    n_large = 4 * n_small

    # resolve the sibling module whatever the launch form (plain script,
    # -m, embedding caller — ADVICE r5)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from host_health import probe  # noqa: E402 — sibling module

    health_before = probe()
    small = run_level(n_small, n_convs)
    large = run_level(n_large, n_convs)
    health_after = probe()
    efficiency = round((small["wall_sec"] / large["wall_sec"]) / 4, 3)
    extract_eff = round(
        (small["extract_wall_sec"] / large["extract_wall_sec"]) / 4, 3
    )
    report = {
        "n_convs": n_convs,
        "small": small,
        "large": large,
        "scaling_efficiency": efficiency,
        "extract_stage_efficiency": extract_eff,
        "target": 0.8,
        "meets_target": efficiency >= 0.8,
        # DRAM-bandwidth state brackets the pair (scripts/host_health.py):
        # a pair measured in a low-bandwidth window indicts the HOST, not
        # the code — see BENCH.md round-5 host-state section
        "health_before": health_before,
        "health_after": health_after,
    }
    print(json.dumps(report))

    if "--record" in sys.argv:
        line = (
            f"| {n_convs} convs ({small['n_turns']} turns) "
            f"| local[{n_small}]: {small['wall_sec']}s "
            f"({small['triples_per_sec']} triples/s) "
            f"| local[{n_large}]: {large['wall_sec']}s "
            f"({large['triples_per_sec']} triples/s) "
            f"| {efficiency} |\n"
        )
        with open(os.path.join(REPO, "BENCH.md"), "a") as f:
            f.write(line)


if __name__ == "__main__":
    main()
