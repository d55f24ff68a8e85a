"""Spans around calls into the engine's layers, timed from the benchmark.

A ``Tracer`` wraps public functions of the engine's modules at run time
(nothing in the engine's files changes) so each call records a span: its
name, start, end and parent. While a span is open its id is the Spark
local property ``perfbench.span``, so every Spark job carries the id of
the span that launched it; ``EventLog`` reads those jobs back from the
event log (job, stage and task metrics) and ``CatalystListener`` reads
each action's QueryExecution planning phases.

A span's self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _set_property(self, value: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_property(str(span.sid))
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._set_property(str(self._stack[-1].sid) if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, owner, attr: str, name: str, count=None,
             only_under: str | None = None) -> None:
        """Replace ``owner.attr`` with a version that records a span.

        ``count(span, args, result)`` may add counts to the span. With
        ``only_under``, the span opens only when the innermost open span
        has that name (calls made from deeper inside a layer stay part of
        that layer's time).
        """
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if only_under is not None and (
                    not tracer._stack or tracer._stack[-1].name != only_under):
                return original(*args, **kwargs)
            span = tracer.open(name)
            try:
                result = original(*args, **kwargs)
                if count is not None:
                    count(span, args, result)
                return result
            finally:
                tracer.close(span)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span opened inside it."""
        inside = {root.sid}
        out = [root]
        for s in self.spans[root.sid + 1:]:
            if s.parent in inside:
                inside.add(s.sid)
                out.append(s)
        return out

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one span never overlap: the program is sequential)."""
        child = collections.defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in spans}


OP = "op"  # name of the root span of one timed op


def instrument_engine(tracer: Tracer) -> None:
    """Wrap the public entry points of each nightly-batch layer.

    ``run_daily_batch`` calls loaders, SCD2 and fraud builders through
    names bound in the runner module, so those are wrapped there; catalog,
    inbox and watermark calls go through their classes. DataFrame actions
    become ``spark.action`` spans only when the runner itself issues them.
    """
    from pyspark.sql.classic.dataframe import DataFrame

    from etl_process_spark.pipeline import expectations, runner
    from etl_process_spark.sources.inbox import DatedInbox
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.sources.watermark import WatermarkStore

    def files(span, args, result):
        span.counts["files"] = len(result)

    def dirs(span, args, result):
        catalog, name = args[0], args[1]
        span.counts["dirs"] = len(catalog._current_dirs(name))

    tracer.wrap(DatedInbox, "discover", "sources.inbox", count=files)
    tracer.wrap(TableCatalog, "read", "sources.tables.read", count=dirs)
    tracer.wrap(TableCatalog, "overwrite", "sources.tables.write")
    tracer.wrap(TableCatalog, "append", "sources.tables.write")
    tracer.wrap(WatermarkStore, "advance_from", "sources.watermark")
    for fn in ("stage_transactions", "quarantine_transactions",
               "load_blacklist_file"):
        tracer.wrap(runner, fn, "pipeline.loaders")
    for fn in ("scd2_init", "scd2_merge"):
        tracer.wrap(runner, fn, "operators.scd2")
    for fn in ("enrich_transactions", "build_fraud_report",
               "build_fraud_report_incremental"):
        tracer.wrap(runner, fn, "pipeline.fraud")
    tracer.wrap(expectations, "check_expectations", "pipeline.expectations")
    for fn in ("count", "collect", "first"):
        tracer.wrap(DataFrame, fn, "spark.action", only_under=OP)


class CatalystListener:
    """Planning phases (analysis, optimization, planning) of every
    QueryExecution that finishes, read from its own tracker.

    Registered through py4j's callback server as a
    ``QueryExecutionListener``; callbacks arrive on Spark's listener bus
    thread, so ``take`` first waits for the bus to drain.
    """

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._lock = threading.Lock()
        self.events: list[tuple[str, dict[str, int]]] = []
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._jmanager = spark._jsparkSession.listenerManager()
        self._jmanager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        with self._lock:
            self.events.append((func_name, phases))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        with self._lock:
            self.events.append((func_name, {}))

    def take(self) -> list[tuple[str, dict[str, int]]]:
        """Wait until Spark's listener bus has delivered every event posted
        so far, then return and clear the recorded phases."""
        self._bus.waitUntilEmpty()
        with self._lock:
            out, self.events = self.events, []
        return out

    def close(self) -> None:
        self._jmanager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class JobRecord:
    job_id: int
    span: int | None
    start_ms: int
    end_ms: int = 0


class EventLog:
    """Parse one application's Spark event log into jobs, stages and
    task metrics, attributing each job to the span that launched it."""

    def __init__(self, path: str):
        self.jobs: dict[int, JobRecord] = {}
        # a stage belongs to the span that submitted it; a later job that
        # reuses its output lists it again but does not run it
        self.stage_span: dict[int, int | None] = {}
        # stage id -> one row of metrics per finished task
        self.tasks: dict[int, list[dict]] = collections.defaultdict(list)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    @staticmethod
    def find(log_dir: str) -> str:
        """The event log file Spark wrote into ``log_dir`` (one app)."""
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}: {names}")
        return os.path.join(log_dir, names[0])

    @staticmethod
    def _span_of(ev: dict) -> int | None:
        span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
        return int(span) if span else None

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = JobRecord(ev["Job ID"], self._span_of(ev), ev["Submission Time"])
            self.jobs[job.job_id] = job
        elif kind == "SparkListenerStageSubmitted":
            self.stage_span.setdefault(ev["Stage Info"]["Stage ID"], self._span_of(ev))
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            shuffle_r = metrics.get("Shuffle Read Metrics") or {}
            shuffle_w = metrics.get("Shuffle Write Metrics") or {}
            self.tasks[ev["Stage ID"]].append({
                "failed": bool(info.get("Failed")) or info.get("Killed", False),
                "run_ms": metrics.get("Executor Run Time", 0),
                "cpu_ns": metrics.get("Executor CPU Time", 0),
                "duration_ms": info["Finish Time"] - info["Launch Time"],
                "input_bytes": (metrics.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_read": shuffle_r.get("Remote Bytes Read", 0)
                + shuffle_r.get("Local Bytes Read", 0),
                "shuffle_write": shuffle_w.get("Shuffle Bytes Written", 0),
                "spill": metrics.get("Memory Bytes Spilled", 0)
                + metrics.get("Disk Bytes Spilled", 0),
            })

    def summarize(self, span_ids: set[int]) -> dict[str, float]:
        """Job, stage and task totals over the jobs launched by ``span_ids``."""
        jobs = [j for j in self.jobs.values() if j.span in span_ids]
        stages = [s for s, span in self.stage_span.items()
                  if span in span_ids and s in self.tasks]
        tasks = [t for s in stages for t in self.tasks[s]]
        skew = 1.0
        for s in stages:
            times = sorted(t["duration_ms"] for t in self.tasks[s])
            median = times[len(times) // 2]
            if median > 0:
                skew = max(skew, times[-1] / median)
        return {
            "jobs": len(jobs),
            "job_s": sum(max(0, j.end_ms - j.start_ms) for j in jobs) / 1000,
            "stages": len(stages),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "input_bytes": sum(t["input_bytes"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "task_skew": skew,
        }
