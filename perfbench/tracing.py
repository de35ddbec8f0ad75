"""Spans around the pipeline's layer entry points, plus the Spark counters
of the jobs each span ran, read back from the Spark event log.

No program code is edited: the wrappers replace the names that
``named_entity_algorithm_project_spark.pipeline`` imported, for the
duration of a traced run only.

Job attribution, in order:
1. the span label, a Spark local property set in the thread that calls the
   layer (jobs submitted from that thread carry it in their properties);
2. the submission time, for jobs with no label (the layers submit some jobs
   from their own thread pools, whose threads do not inherit the label):
   the top-level span whose time window holds the submission;
3. otherwise ``pipeline.unattributed``.

Lazy calls (``extract_combined``, ``pick_canonicals``, the triple
functions) only build plans; their compute lands in the write span that consumes
them, so ``io_tables.commit`` holds the extraction UDF and
``io_tables.write_table.{entities,triples}`` hold the canonical joins and
the triple derivations.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Tuple

SPAN_PROPERTY = "perfbench.span"

#: top-level spans, in pipeline order
SPANS = (
    "extract.plan",
    "io_tables.commit",
    "io_tables.read_stage_a",
    "linking",
    "components",
    "canonical.plan",
    "io_tables.write_table.entities",
    "pipeline.checkpoint",
    "triples.plan",
    "io_tables.write_table.triples",
    "io_tables.write_table.small",
)
#: lazy calls: their spans hold planning time only, and run no jobs
PLAN_SPANS = ("extract.plan", "canonical.plan", "triples.plan")
#: spans that run Spark jobs (reading Stage A only lists committed buckets)
JOB_SPANS = tuple(
    s for s in SPANS if s not in PLAN_SPANS and s != "io_tables.read_stage_a"
)
#: counters reported per job span; ``output_mb`` only for the spans that
#: write tables, and no spill counter: it read zero on every workload
COUNTER_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "output_mb": "MB",
}
WRITE_SPANS = (
    "io_tables.commit",
    "io_tables.write_table.entities",
    "io_tables.write_table.triples",
    "io_tables.write_table.small",
)


def counter_names(span: str):
    if span not in JOB_SPANS:
        return ()
    return tuple(k for k in COUNTER_UNITS if k != "output_mb" or span in WRITE_SPANS)
UNATTRIBUTED = "pipeline.unattributed"


@dataclass
class Span:
    name: str
    start: float
    end: float


class Tracer:
    """Records top-level spans (one per layer call) and labels the Spark
    jobs each one submits. Nested calls, and calls made from a thread while
    another span is open anywhere, are passed through unrecorded."""

    def __init__(self, spark_context):
        self._sc = spark_context
        self._lock = threading.Lock()
        self._open = 0
        self._tls = threading.local()
        self._patches: List[Tuple[object, str, object]] = []
        self.spans: List[Span] = []

    def wrap(self, owner, attr: str, name: Callable[..., str], solo: bool = False):
        """Replace ``owner.attr`` by a spanned call. ``name`` maps the call's
        arguments to a span name. ``solo`` spans (generic Spark methods) are
        recorded only while no other span is open in any thread."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self._lock:
                top = self._open == 0 if solo else not self._in_span()
                if top:
                    self._open += 1
            if not top:
                return original(*args, **kwargs)
            label = name(*args, **kwargs)
            self._tls.depth = 1
            self._sc.setLocalProperty(SPAN_PROPERTY, label)
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                t1 = time.time()
                self._sc.setLocalProperty(SPAN_PROPERTY, None)
                self._tls.depth = 0
                with self._lock:
                    self._open -= 1
                    self.spans.append(Span(label, t0, t1))

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, original))

    def _in_span(self) -> bool:
        return getattr(self._tls, "depth", 0) > 0

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def take(self) -> List[Span]:
        with self._lock:
            out, self.spans = self.spans, []
        return out


def union_seconds(intervals: List[Tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    job_id: int
    submitted: float
    label: Optional[str]
    stage_ids: List[int]


def read_event_log(path: str) -> Tuple[List[Job], Dict[int, Dict[str, float]]]:
    """(jobs, per-stage task counters) from a Spark JSON event log."""
    jobs: List[Job] = []
    stages: Dict[int, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        props.get(SPAN_PROPERTY),
                        list(ev.get("Stage IDs") or []),
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = stages[ev["Stage ID"]]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                acc["tasks"] += 1
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                acc["output_mb"] += out.get("Bytes Written", 0) / 1e6
    return jobs, stages


def attribute(
    jobs: List[Job],
    stages: Dict[int, Dict[str, float]],
    spans: List[Span],
    window: Tuple[float, float],
) -> Dict[str, Dict[str, float]]:
    """Counters per span name for the jobs submitted inside ``window``."""
    owner: Dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j.job_id):
        for sid in job.stage_ids:
            owner.setdefault(sid, job.job_id)  # a skipped stage ran earlier
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    lo, hi = window
    for job in jobs:
        if not lo <= job.submitted <= hi:
            continue
        name = job.label
        if name is None:
            hits = [s for s in spans if s.start <= job.submitted <= s.end]
            name = hits[0].name if hits else UNATTRIBUTED
        acc = out[name]
        acc["jobs"] += 1
        for sid in job.stage_ids:
            if owner.get(sid) == job.job_id:
                for key, val in stages.get(sid, {}).items():
                    acc[key] += val
    return out
