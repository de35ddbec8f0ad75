"""End-to-end and per-layer benchmark of the KG-construction pipeline
(Stage A extract -> B link -> C components -> D triples -> E materialize).

    python3 perfbench/run.py --workload kg_extract_heavy --seed 42 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` sets the session up three
times (``setup_s`` = median), generates the seeded transcripts (untimed),
times the session's first ``run_pipeline`` until ``result.triples.count()``
returns (``kg_wall_s``; repeats only while ``--seconds`` is still open),
then checks the outputs. ``--trace 1`` times one untraced and one traced
run, each in a fresh JVM, and prints the per-layer metrics. The last stdout
line is the result JSON. Workloads, metrics and checks: README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")

WORKLOADS = {
    # Input size is fixed in characters of turn text: the seed picks the
    # conversations, whose turn counts (zipfian) and turn lengths (1% are
    # 40x long) vary, so seeds vary content but not volume. n_norms bounds
    # are the shape guard: the measured vocabulary (rows of the
    # canonical_map output) must stay inside them for the run to be valid.
    "kg_extract_heavy": {"chars": 8_000_000, "vocab_scale": 1, "norms": (1, 1_000)},
    "kg_link_heavy": {"chars": 1_080_000, "vocab_scale": 20000, "norms": (6_000, 10**9)},
}
TINY_CHARS = {"kg_extract_heavy": 200_000, "kg_link_heavy": 430_000}
SHUFFLE_PARTITIONS = 8
SETUPS = 3


def _prepare_environment(work: str) -> None:
    """Pin everything the program reads from the environment, and keep all
    files the run writes inside the checkout. Must run before the JVM
    starts."""
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "KG_")):
            del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the run starts (spark-submit's launcher too): temp files in
    # the checkout, and no hsperfdata file, which the JVM always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="small inputs, for perfbench/selfcheck.py"
    )
    return ap.parse_args(argv)


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total / 1e6


class Bench:
    def __init__(self, args, work: str):
        # imported here: the package is only importable once ROOT is on the
        # path, and a checkout without it must fail before printing a result
        from named_entity_algorithm_project_spark import pipeline
        from named_entity_algorithm_project_spark.session import get_spark

        import checks
        import procfs

        self.args = args
        self.work = work
        self.pipeline = pipeline
        self.get_spark = get_spark
        self.checks = checks
        self.procfs = procfs
        self.spec = dict(WORKLOADS[args.workload])
        if args.tiny:
            self.spec["chars"] = TINY_CHARS[args.workload]
        self.n_convs = self._convs_for_volume()
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.transcripts = None
        self.n_turns = 0
        self.runs = []  # one dict per pipeline run
        self.failures = []
        self.peak_rss = 0.0
        self._linking_tables = None
        self._n_out = 0
        self._capture_linking()

    # --- session / inputs -------------------------------------------------
    def session(self, event_log: str | None = None) -> float:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = self.get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop(self) -> None:
        self.transcripts = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the Spark JVM, and wait until every
        process this run started (JVM, Python worker daemon) has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while self.procfs.descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in self.procfs.descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while self.procfs.descendants() and time.time() < deadline + 10:
            time.sleep(0.2)

    def _convs_for_volume(self) -> int:
        """Conversations needed to reach the workload's text volume."""
        from named_entity_algorithm_project_spark.datagen import conv_rows

        chars = 0
        for n in itertools.count(1):
            rows = conv_rows(n - 1, self.args.seed, vocab_scale=self.spec["vocab_scale"])
            chars += sum(len(row[3]) for row in rows)
            if chars >= self.spec["chars"]:
                return n

    def generate(self) -> None:
        from named_entity_algorithm_project_spark.datagen import generate_transcripts

        self.transcripts = generate_transcripts(
            self.spark,
            n_convs=self.n_convs,
            seed=self.args.seed,
            vocab_scale=self.spec["vocab_scale"],
        ).persist()
        self.n_turns = self.transcripts.count()

    def _capture_linking(self) -> None:
        """Keep the LinkingTables each run builds, for the shape report
        (n_norms, df-cap, local vs distributed). Adds no Spark work."""
        original = self.pipeline.build_linking_tables

        def capturing(*args, **kwargs):
            self._linking_tables = original(*args, **kwargs)
            return self._linking_tables

        self.pipeline.build_linking_tables = capturing

    # --- one pipeline run ---------------------------------------------------
    def run_pipeline(self, label: str) -> dict:
        out = os.path.join(self.work, f"out{self._n_out}")
        self._n_out += 1
        rec = {"label": label}
        try:
            t0 = time.perf_counter()
            rec["start"] = time.time()
            result = self.pipeline.run_pipeline(
                self.spark, self.transcripts, out, resume=False
            )
            n_triples = result.triples.count()
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["n_triples"] = n_triples
            rec["output_mb"] = _dir_mb(out)
            self.peak_rss = max(
                self.peak_rss, self.procfs.peak_rss_mb(self.procfs.descendants())
            )
            rec["result"] = result
            rec["out"] = out
            rec["linking"], self._linking_tables = self._linking_tables, None
        except Exception:
            traceback.print_exc()
            self.failures.append(f"{label}: pipeline raised")
            rec["failed"] = True
        self.runs.append(rec)
        return rec

    def check_run(self, rec: dict, deep: bool) -> None:
        """Output checks for one run; ``deep`` adds the oracle sample and
        the shape guard."""
        if rec.get("failed"):
            return
        result = rec["result"]
        errors = self.checks.metrics_consistent(result, rec["n_triples"], self.n_turns)
        rec["hash"] = self.checks.result_hash(result)
        tables = rec.get("linking")
        rec["n_norms"] = result.canonical_map.count()
        rec["df_cap"] = getattr(tables, "candidate_max_df", None) or 0
        rec["linking_local"] = bool(tables is not None and tables.edges.isLocal())
        rec["n_edges"] = tables.edges.count() if tables is not None else 0
        rec["n_components"] = (
            result.canonical_map.select("canonical").distinct().count()
        )
        if deep:
            errors += self.checks.stage_a_matches_oracle(
                self.spark,
                rec["out"],
                self.args.seed,
                self.n_convs,
                self.spec["vocab_scale"],
            )
            lo, hi = self.spec["norms"]
            if not self.args.tiny and not lo <= rec["n_norms"] <= hi:
                errors.append(
                    f"workload shape: n_norms={rec['n_norms']} outside [{lo}, {hi}]"
                )
        if errors:
            rec["failed"] = True
            self.failures.extend(f"{rec['label']}: {e}" for e in errors)

    def finish_checks(self) -> None:
        """Cross-run hash checks, then free the outputs."""
        hashes = {r["hash"] for r in self.runs if "hash" in r}
        if len(hashes) > 1:
            self.failures.append(f"result hash differs across repeats: {sorted(hashes)}")
            for r in self.runs:
                r["failed"] = True
        with open(os.path.join(BENCH_DIR, "expected.json")) as fh:
            expected = json.load(fh)
        want = expected.get(self.args.workload, {}).get(str(self.args.seed))
        if want and not self.args.tiny and hashes and hashes != {want}:
            self.failures.append(f"result hash {sorted(hashes)} != recorded {want}")
            for r in self.runs:
                r["failed"] = True
        for r in self.runs:
            r.pop("result", None)
            r.pop("linking", None)
            if "out" in r:
                shutil.rmtree(r["out"], ignore_errors=True)

    def shape(self) -> dict:
        last = next((r for r in reversed(self.runs) if "n_norms" in r), {})
        return {k: last.get(k) for k in ("n_norms", "df_cap", "linking_local", "hash")}

    # --- the two modes --------------------------------------------------------
    def measure(self):
        phases = {}
        mark = time.perf_counter()

        def phase(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = round(now - mark, 2)
            mark = now

        setups = []
        for i in range(SETUPS):
            if i:
                self.stop()
            setups.append(self.session())
        phase("setup")
        self.generate()
        phase("generate")
        t0 = time.perf_counter()
        while not self.runs or time.perf_counter() - t0 < self.args.seconds:
            self.run_pipeline(f"run{len(self.runs)}")
        phase("runs")
        for i, rec in enumerate(self.runs):
            self.check_run(rec, deep=i == 0)
        self.finish_checks()
        phase("checks")
        first = self.runs[0]
        if "wall_s" not in first:
            raise RuntimeError("the pipeline run failed; nothing to report")
        return {
            "setup_s": (statistics.median(setups), "s"),
            "kg_wall_s": (first["wall_s"], "s"),
            "triples_per_s": (first["n_triples"] / first["wall_s"], "1/s"),
            "output_mb": (first["output_mb"], "MB"),
        }, {
            "setup_all_s": [round(s, 3) for s in setups],
            "peak_rss_mb": round(self.peak_rss, 1),
            "n_triples": first["n_triples"],
            "phases_s": phases,
        }

    def measure_traced(self):
        import tracing

        # both runs are the first pipeline run of a fresh JVM, like kg_wall_s
        self.session()
        self.generate()
        untraced = self.run_pipeline("untraced")
        self.check_run(untraced, deep=False)
        self.shutdown()

        events = os.path.join(self.work, "events")
        self.session(event_log=events)
        self.generate()
        tracer = tracing.Tracer(self.spark.sparkContext)
        self._wrap_layers(tracer)
        try:
            traced = self.run_pipeline("traced")
        finally:
            tracer.unwrap()
        extract = self._extract_pass()
        self.check_run(traced, deep=True)
        lineage = traced["result"].lineage if "result" in traced else []
        self.finish_checks()
        self.stop()
        if "wall_s" not in untraced or "wall_s" not in traced:
            raise RuntimeError("a pipeline run failed; nothing to report")

        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        jobs, stages = tracing.read_event_log(log)
        spans = tracer.take()
        counters = tracing.attribute(jobs, stages, spans, (traced["start"], traced["end"]))
        metrics = {}
        for name in tracing.SPANS:
            intervals = [(s.start, s.end) for s in spans if s.name == name]
            metrics[f"{name}.wall_s"] = (tracing.union_seconds(intervals), "s")
            for key in tracing.counter_names(name):
                metrics[f"{name}.{key}"] = (
                    counters.get(name, {}).get(key, 0.0),
                    tracing.COUNTER_UNITS[key],
                )
        wall = traced["wall_s"]
        covered = tracing.union_seconds([(s.start, s.end) for s in spans])
        shape = self.shape()
        metrics.update(
            {
                "extract.wall_s": (extract["wall_s"], "s"),
                "extract.cpu_us_per_turn": (extract["cpu_us_per_turn"], "us"),
                "extract.mentions_per_turn": (
                    sum(int(b["n_mentions"]) for b in lineage) / max(self.n_turns, 1),
                    "count",
                ),
                "io_tables.commit.overhead_s": (
                    metrics["io_tables.commit.wall_s"][0] - extract["wall_s"],
                    "s",
                ),
                "linking.n_norms": (shape["n_norms"], "count"),
                "linking.df_cap": (shape["df_cap"], "count"),
                "linking.local": (int(shape["linking_local"]), "count"),
                "linking.n_edges": (traced["n_edges"], "count"),
                "components.n_components": (traced["n_components"], "count"),
                "pipeline.kg_wall_s": (wall, "s"),
                "pipeline.peak_rss_mb": (self.peak_rss, "MB"),
                "pipeline.unattributed_s": (wall - covered, "s"),
                "pipeline.unattributed_jobs": (
                    counters.get(tracing.UNATTRIBUTED, {}).get("jobs", 0),
                    "count",
                ),
                "pipeline.span_coverage": (covered / wall, "frac"),
                "pipeline.trace_overhead_frac": (
                    (wall - untraced["wall_s"]) / untraced["wall_s"],
                    "frac",
                ),
            }
        )
        return metrics, {"untraced_wall_s": round(untraced["wall_s"], 3)}

    def _wrap_layers(self, tracer) -> None:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        p = self.pipeline
        small = {"entities_canonical": "entities", "triples": "triples"}
        for attr in ("extract_combined", "split_extraction"):
            tracer.wrap(p, attr, lambda *a, **k: "extract.plan")
        for attr in ("pick_canonicals", "apply_canonical_map", "apply_user_overrides", "alias_groups"):
            tracer.wrap(p, attr, lambda *a, **k: "canonical.plan")
        for attr in ("build_triples", "mention_triples", "same_as_triples"):
            tracer.wrap(p, attr, lambda *a, **k: "triples.plan")
        tracer.wrap(p, "commit_buckets_batch", lambda *a, **k: "io_tables.commit")
        tracer.wrap(p, "read_stage_a_extracted", lambda *a, **k: "io_tables.read_stage_a")
        tracer.wrap(p, "build_linking_tables", lambda *a, **k: "linking")
        tracer.wrap(p, "connected_components", lambda *a, **k: "components")
        tracer.wrap(
            p,
            "write_table",
            lambda df, path, *a, **k: "io_tables.write_table."
            + small.get(os.path.basename(path.rstrip("/")), "small"),
        )
        # Stage D's mention-scale checkpoint runs between the entities and
        # triples writes, outside any layer call
        tracer.wrap(
            ClassicDataFrame, "localCheckpoint", lambda *a, **k: "pipeline.checkpoint", solo=True
        )

    def _extract_pass(self) -> dict:
        """Noop-sink pass of extract_combined over the pipeline's input
        layout: the extraction layer alone (detector UDF + Arrow)."""
        from named_entity_algorithm_project_spark.operators.extract import extract_combined

        frame = extract_combined(self.pipeline.ordered_transcripts(self.transcripts))
        before = {pid: self.procfs.cpu_seconds([pid]) for pid in self.procfs.descendants()}
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        cpu = sum(
            self.procfs.cpu_seconds([pid]) - before.get(pid, 0.0)
            for pid in self.procfs.descendants()
        )
        return {"wall_s": wall, "cpu_us_per_turn": cpu * 1e6 / max(self.n_turns, 1)}


def main(argv=None) -> int:
    args = _parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_environment(work)
    sys.path[:0] = [BENCH_DIR, ROOT, os.path.join(ROOT, "scripts")]
    bench = None
    try:
        import host_health
        import procfs

        competing_before = procfs.competing_processes()
        health_before = host_health.probe()
        bench = Bench(args, work)
        metrics, extra = (bench.measure_traced if args.trace else bench.measure)()
        health_after = host_health.probe()
        competing = sorted(set(competing_before) | set(procfs.competing_processes()))
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    finally:
        if bench is not None:
            bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": bench.cpus,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "n_convs": bench.n_convs,
        "vocab_scale": bench.spec["vocab_scale"],
        "n_turns": bench.n_turns,
        **bench.shape(),
        "wall_s": [round(r.get("wall_s", 0), 3) for r in bench.runs],
        **extra,
        "host_before": health_before,
        "host_after": health_after,
        "competing_load": competing,
        "failures": bench.failures,
    }
    print("perfbench-info " + json.dumps(info), flush=True)
    failed = sum(1 for r in bench.runs if r.get("failed"))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not bench.failures,
                "attempted": len(bench.runs),
                "failed": failed,
                "metrics": {
                    name: {"value": float(value), "unit": unit}
                    for name, (value, unit) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
