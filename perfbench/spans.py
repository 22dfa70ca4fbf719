"""Layer calls, spans and the traced run's event-log reader.

``Calls.call`` wraps every call the benchmark makes into a ``dbqt_spark``
module: it times the call, checks its output against the planted truth
and counts the operation. With tracing on it also tags the call's Spark
jobs with a job group, records a span, and probes what the call left
behind (persistent RDDs, active streams). Spans live in memory; after the
traced session stops, ``attribute`` reads its event log once, as a
stream, and charges every job, task and Python-worker metric to the span
that caused it. No span is recorded inside the program itself.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

_GROUP = "perfbench:"


@dataclass
class Span:
    layer: str
    unit: object  # spans of one layer in one unit of work add up
    start: float  # epoch seconds, the clock the event log uses
    end: float
    pinned_rdds: int = 0  # persistent RDDs the call added
    streams_active: int = 0
    files_written: float = 0.0
    jobs: list = field(default_factory=list)  # (submit_ms, end_ms)
    tasks: int = 0
    run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    arrow_mb: float = 0.0
    bytes_written_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_s(self) -> float:
        """Wall time not covered by any of the span's Spark jobs."""
        lo, hi = self.start * 1000, self.end * 1000
        covered, reach = 0.0, lo
        for s, e in sorted(self.jobs):
            s, e = max(s, reach), min(e, hi)
            if e > s:
                covered += e - s
                reach = e
        return max(0.0, self.wall_s - covered / 1000)


class Calls:
    """Counts, times and (optionally) traces layer calls."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.busy_s = 0.0  # summed wall of all calls, checks excluded
        self.unit = 0  # the runner's current unit of work
        self.spans: list[Span] = []
        self.batch_s: list[float] = []  # micro-batch latencies

    def _pinned(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def call(self, layer: str, fn, check=None):
        """Run ``fn()`` (a layer call plus the action that materializes
        its result), then ``check(result)``, a list of failure messages.
        The call is one operation; a raise or a failed check fails it."""
        sc = self.spark.sparkContext
        self.attempted += 1
        if self.traced:
            sc.setJobGroup(f"{_GROUP}{len(self.spans)}", layer)
            before = self._pinned()
        start = time.time()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            raise
        finally:
            end = time.time()
            self.busy_s += end - start
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.append(Span(
                    layer, self.unit, start, end,
                    pinned_rdds=self._pinned() - before,
                    streams_active=len(self.spark.streams.active),
                ))
        problems = check(out) if check else []
        if problems:
            self.failed += 1
            for p in problems[:5]:
                print(f"CHECK FAILED [{layer}] {p}", file=sys.stderr)
        return out

    def batches(self, layer: str, batches, files_written: float) -> None:
        """Record micro-batches a streaming call ran, as (trigger start,
        seconds) pairs: their latencies and, traced, one span each."""
        for k, (start, secs) in enumerate(batches):
            self.batch_s.append(secs)
            if self.traced:
                self.spans.append(Span(
                    layer, (self.unit, k), start, start + secs,
                    files_written=files_written,
                ))


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_MB = 1 << 20


def _events(path: str):
    """Yield the job and task events of a plain JSON-lines event log,
    skipping (without parsing) the large plan and SQL events."""
    wanted = (
        '{"Event":"SparkListenerJobStart"',
        '{"Event":"SparkListenerJobEnd"',
        '{"Event":"SparkListenerTaskEnd"',
    )
    with open(path) as f:
        for line in f:
            if line.startswith(wanted):
                yield json.loads(line)


def attribute(log_dir: str, spans: list[Span]) -> bool:
    """Charge every job and task in the event log under ``log_dir`` to a
    span: by job group when the job carries one of ours, else to the
    innermost span whose window holds the job's submission (jobs that
    streaming and thread-pool threads submit carry no group of ours).
    Deletes the log. Returns whether Python-worker time reconciles with
    task run time in every span."""
    (name,) = os.listdir(log_dir)
    path = os.path.join(log_dir, name)
    innermost_first = sorted(spans, key=lambda s: s.wall_s)
    job_span: dict[int, Span] = {}
    stage_span: dict[int, Span] = {}
    submitted: dict[int, float] = {}
    try:
        for ev in _events(path):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                span = (
                    spans[int(group[len(_GROUP):])]
                    if group.startswith(_GROUP) else None
                )
                inner = next(
                    (s for s in innermost_first
                     if s.start * 1000 <= t <= s.end * 1000),
                    None,
                )
                # a span nested in the group's call (a micro-batch) wins
                if inner is not None and (span is None or inner.wall_s < span.wall_s):
                    span = inner
                if span is not None:
                    job_span[ev["Job ID"]] = span
                    submitted[ev["Job ID"]] = t
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = span
            elif kind == "SparkListenerJobEnd":
                span = job_span.get(ev["Job ID"])
                if span is not None:
                    span.jobs.append(
                        (submitted[ev["Job ID"]], ev["Completion Time"])
                    )
            else:
                span = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if span is None or not m:
                    continue
                span.tasks += 1
                span.run_s += m["Executor Run Time"] / 1000
                span.exec_cpu_s += m["Executor CPU Time"] / 1e9
                span.gc_s += m["JVM GC Time"] / 1000
                rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                span.shuffle_mb += (
                    rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                    + wr["Shuffle Bytes Written"]
                ) / _MB
                span.spill_mb += (
                    m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                ) / _MB
                span.bytes_written_mb += m["Output Metrics"]["Bytes Written"] / _MB
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == _PY_TIME:
                        span.python_s += int(acc["Update"]) / 1000
                    elif acc.get("Name") in _PY_BYTES:
                        span.arrow_mb += int(acc["Update"]) / _MB
    finally:
        os.remove(path)
    # Python-worker time runs inside tasks, so it cannot exceed their run
    # time (1 ms of rounding per task allowed)
    return all(s.python_s <= s.run_s + s.tasks / 1000 for s in spans)


def unit_profile(spans: list[Span]) -> dict[str, float]:
    """Where a traced unit of work spends its time, as medians over units:
    the summed wall time of its layer calls, the share of that time no
    Spark job covers (driver), its jobs, and executor JVM CPU and
    Python-worker time as the average number of cores they kept busy.
    Micro-batch spans lie inside the streaming call that ran them, so they
    add jobs and work, not wall time."""
    units: dict[object, list[Span]] = {}
    for s in spans:
        u = s.unit[0] if isinstance(s.unit, tuple) else s.unit
        units.setdefault(u, []).append(s)
    rows = []
    for group in units.values():
        jobs = [j for s in group for j in s.jobs]
        top = [s for s in group if not isinstance(s.unit, tuple)]
        wall = sum(s.wall_s for s in top)
        driver = sum(
            Span(s.layer, s.unit, s.start, s.end, jobs=jobs).driver_s for s in top
        )
        rows.append({
            "wall_s": wall,
            "driver_share": driver / wall,
            "jobs": len(jobs),
            "exec_cores": sum(s.exec_cpu_s for s in group) / wall,
            "python_cores": sum(s.python_s for s in group) / wall,
        })
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


MEASURES = {
    "wall_s": lambda s: s.wall_s,
    "driver_s": lambda s: s.driver_s,
    "jobs": lambda s: len(s.jobs),
    "tasks": lambda s: s.tasks,
    "exec_cpu_s": lambda s: s.exec_cpu_s,
    "gc_s": lambda s: s.gc_s,
    "shuffle_mb": lambda s: s.shuffle_mb,
    "spill_mb": lambda s: s.spill_mb,
    "python_s": lambda s: s.python_s,
    "arrow_mb": lambda s: s.arrow_mb,
    "pinned_rdds": lambda s: s.pinned_rdds,
    "bytes_written_mb": lambda s: s.bytes_written_mb,
    "files_written": lambda s: s.files_written,
}


def layer_medians(spans: list[Span], layer: str) -> dict[str, float]:
    """Per unit of work, the sum of every measure over the layer's spans;
    then the median over units (0 for a layer the workload never calls)."""
    per_unit: dict[object, dict[str, float]] = {}
    for s in spans:
        if s.layer == layer:
            acc = per_unit.setdefault(s.unit, dict.fromkeys(MEASURES, 0))
            for k, f in MEASURES.items():
                acc[k] += f(s)
    return {
        k: statistics.median(u[k] for u in per_unit.values()) if per_unit else 0
        for k in MEASURES
    }
