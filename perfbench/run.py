"""The repository's benchmark: the nightly fraud batch and the query corpus.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 24 --trace 0

Run from the repository root (any checkout of it). Each run generates its
inputs from ``--seed`` inside ``.bench_work/`` under the root, sets up
(Spark session, warm-up, data generation, backfill), then runs passes over
the workload's fixed op set. The number of passes is fixed by ``--seconds``
and the workload's nominal pass time (``PASS_S``), never by times measured
in the run, so every run of a workload takes the same number of samples.
It then checks every output against an independent expected result, and
prints every metric by name and unit. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that wraps each engine layer's entry points in spans, enables Spark's
event log and a QueryExecution listener, and reports per-layer metrics
(each the mean per op); the difference between the traced run's
``trace.op_p50_s`` and the untraced ``op_p50_s`` is the tracing overhead.
``--size smoke`` shrinks both workloads for ``perfbench/smoke.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Driver heap pinned so runs compare across hosts with different memory
# (the engine's default is ~40% of RAM); 3g still allows 6 concurrent
# 512 MB tasks, above the 4 cores this benchmark was sized on.
DRIVER_MEM = "3g"
# The nightly history is sized so that history-proportional work (the
# dedup anti-join against the whole fact, advance_from, the enrichment)
# is a visible share of a night: on 4 idle cores a night took 10.7 s after
# 20k history rows, 11.9 s after 100k and 14.1 s after 200k, so at 200k
# rows about a quarter of a night scales with history. Larger histories
# lengthen the backfill in set-up past the run time budget.
SIZES = {
    "full": {"tx_per_night": 2000, "history_nights": 100, "sf": 0.01},
    "smoke": {"tx_per_night": 200, "history_nights": 3, "sf": 0.001},
}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "total_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.inbox.discover_s": "s", "sources.inbox.files": "count",
    "sources.tables.read_s": "s", "sources.tables.read_dirs": "count",
    "sources.tables.write_s": "s", "sources.tables.write_amp": "ratio",
    "sources.tables.space_amp": "ratio",
    "sources.watermark.advance_s": "s",
    "pipeline.loaders.build_s": "s", "pipeline.loaders.rows_in": "count",
    "pipeline.loaders.quarantined": "count",
    "operators.scd2.merge_build_s": "s", "operators.scd2.history_rows": "count",
    "pipeline.fraud.build_s": "s", "pipeline.fraud.report_rows": "count",
    "pipeline.expectations.check_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_job_s": "s", "queries.leaked_blocks": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.action_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.input_bytes": "bytes", "spark.read_amp": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "trace.op_p50_s": "s", "trace.coverage": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["nightly", "corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def pin_environment(work: Path) -> None:
    """Fix what the engine reads from the environment at import and
    session start, and keep every file Spark writes inside ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,  # session.py reads it at import time
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
    })
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_REPLICAS", None)


class RssSampler(threading.Thread):
    """Peak resident memory of the Spark JVM this process started plus its
    Python workers, sampled while ``active`` is set.

    Each process counts its proportional set size (``Pss``), so pages a
    Python worker still shares with the daemon it forked from count once.
    Other processes are left out: a child the JVM is spawning shares the
    JVM's whole address space until it execs.
    """

    INTERVAL_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.active = threading.Event()
        self.stopped = threading.Event()
        self.peak_bytes = 0

    @staticmethod
    def _measured_pids() -> set[int]:
        proc: dict[int, tuple[int, str]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                comm = stat[stat.index("(") + 1:stat.rindex(")")]
                proc[int(entry)] = (int(stat[stat.rindex(")") + 2:].split()[1]), comm)
        me = os.getpid()
        tree, frontier = set(), {me}
        while frontier:
            frontier = {p for p, (pp, _) in proc.items() if pp in frontier} - tree
            tree |= frontier
        return {p for p in tree
                if (proc[p] == (me, "java")) or proc[p][1].startswith("python")}

    def _pss(self) -> int:
        total = 0
        for pid in self._measured_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self.stopped.is_set():
            if self.active.wait(self.INTERVAL_S):
                self.peak_bytes = max(self.peak_bytes, self._pss())
                time.sleep(self.INTERVAL_S)


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat;
    steal is time this machine's virtual CPUs waited for the hypervisor."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def run_workload(args, work: Path, t_start: float) -> tuple[dict, list[str]]:
    """Set up, run the timed passes, check; returns (result, report lines)."""
    import pyspark

    from etl_process_spark.session import get_spark
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -Xms = -Xmx, as Spark launches executors: with a growable heap the
        # JVM's resident size at the end of a run varied by ~40% run to run
        "spark.driver.extraJavaOptions":
            f"-Xlog:disable -Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if args.trace:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    sampler = RssSampler()
    sampler.start()
    tracer = listener = None
    try:
        workload = WORKLOADS[args.workload](spark, str(work), args.seed,
                                            SIZES[args.size])
        workload.setup()
        if args.trace:
            tracer = trace.Tracer(spark)
            trace.instrument_engine(tracer)
            listener = trace.CatalystListener(spark)
            workload.tracer = tracer
        rng = random.Random(args.seed)
        samples, pass_times, ops, catalyst = [], [], [], {}
        failed = 0
        setup_s = None
        n_passes = max(1, round(args.seconds / workload.PASS_S))
        for _ in range(n_passes):
            workload.begin_pass()
            pass_s = 0.0
            for op in workload.pass_ops(rng):
                if op.before:
                    op.before()
                if setup_s is None:
                    setup_s = time.perf_counter() - t_start
                    steal0 = cpu_steal_jiffies()
                sampler.active.set()
                root = tracer.open(trace.OP) if tracer else None
                start = time.perf_counter()
                try:
                    ok = op.run()
                except Exception as exc:  # an op failure is a result, not a crash
                    print(f"# {op.label} raised {exc!r}"[:500], file=sys.stderr)
                    ok = False
                elapsed = time.perf_counter() - start
                if root:
                    tracer.close(root)
                sampler.active.clear()
                failed += not ok
                samples.append(elapsed)
                pass_s += elapsed
                workload.after_op(op)
                if listener:
                    catalyst[id(op)] = listener.take()
                ops.append((op, root))
            pass_times.append(pass_s)
        steal1 = cpu_steal_jiffies()
        steal_pct = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        problems = workload.finish()
        for line in problems:
            print(f"# check failed: {line}", file=sys.stderr)
        failed = min(len(samples), failed + len(problems))
        java = spark._jvm.System.getProperty("java.version")
        if listener:
            listener.close()
        if tracer:
            tracer.unwrap_all()
    finally:
        sampler.stopped.set()
        sampler.active.set()
        sampler.join()
        stop_spark(spark)

    if args.trace:
        log = trace.EventLog(trace.EventLog.find(str(work / "eventlog")))
        metrics = layer_metrics(tracer, log, ops, catalyst, session_s)
        metrics["trace.op_p50_s"] = statistics.median(samples)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(samples),
            "total_s": sum(samples),
            "peak_rss_mb": sampler.peak_bytes / 2**20,
        }
        units = END_TO_END
    report = [
        f"# env: nproc={os.environ['SPARK_GRAFT_CPUS']} heap={DRIVER_MEM} "
        f"pyspark={pyspark.__version__} java={java} "
        f"python={sys.version.split()[0]}",
        f"# workload={args.workload} seed={args.seed} size={args.size} "
        f"trace={args.trace} ops={len(samples)} "
        f"passes_s={','.join(f'{p:.3f}' for p in pass_times)} "
        f"cpu_steal_during_ops={steal_pct:.1f}%",
    ]
    report += [f"{name:34s} {metrics[name]:14.6g} {unit}" for name, unit in units.items()]
    report.append(f"{'error_rate':34s} {failed / len(samples):14.6g} ratio")
    if args.workload == "nightly" and not args.trace:
        committed = sum(op.extra["committed"] for op, _ in ops)
        report.append(f"{'tx_per_s':34s} {committed / sum(samples):14.6g} rows/s")
    result = {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }
    return result, report


def layer_metrics(tracer, log, ops, catalyst, session_s) -> dict[str, float]:
    """Per-op layer numbers from spans, the event log and the Catalyst
    listener; each metric is the mean over the run's ops."""
    per_op = []
    for op, root in ops:
        spans = tracer.descendants(root)
        self_s = tracer.self_times(spans)
        by_layer: dict[str, float] = {}
        counts: dict[str, float] = {}
        for s in spans:
            by_layer[s.name] = by_layer.get(s.name, 0.0) + self_s[s.sid]
            for k, v in s.counts.items():
                counts[f"{s.name}.{k}"] = counts.get(f"{s.name}.{k}", 0) + v
        wall = root.end - root.start
        jobs = log.summarize({s.sid for s in spans})
        build_spans = {s.sid for b in spans if b.name == "queries.build"
                       for s in tracer.descendants(b)}
        build = log.summarize(build_spans)
        build_wall = sum(s.end - s.start for s in spans if s.name == "queries.build")
        x = op.extra
        phases = [p for _, p in catalyst[id(op)]]
        inbox = x.get("inbox_bytes")
        m = {
            "session.start_s": session_s,
            "sources.inbox.discover_s": by_layer.get("sources.inbox", 0.0),
            "sources.inbox.files": counts.get("sources.inbox.files", 0),
            "sources.tables.read_s": by_layer.get("sources.tables.read", 0.0),
            "sources.tables.read_dirs": counts.get("sources.tables.read.dirs", 0),
            "sources.tables.write_s": by_layer.get("sources.tables.write", 0.0),
            "sources.tables.write_amp": x.get("write_amp", 0.0),
            "sources.tables.space_amp": x.get("space_amp", 0.0),
            "sources.watermark.advance_s": by_layer.get("sources.watermark", 0.0),
            "pipeline.loaders.build_s": by_layer.get("pipeline.loaders", 0.0),
            "pipeline.loaders.rows_in": x.get("rows_in", 0),
            "pipeline.loaders.quarantined": x.get("quarantined", 0),
            "operators.scd2.merge_build_s": by_layer.get("operators.scd2", 0.0),
            "operators.scd2.history_rows": x.get("history_rows", 0),
            "pipeline.fraud.build_s": by_layer.get("pipeline.fraud", 0.0),
            "pipeline.fraud.report_rows": x.get("report_rows", 0),
            "pipeline.expectations.check_s": by_layer.get("pipeline.expectations", 0.0),
            "queries.build_s": max(0.0, build_wall - build["job_s"]),
            "queries.build_jobs": build["jobs"],
            "queries.build_job_s": build["job_s"],
            "queries.leaked_blocks": x.get("leaked_blocks", 0),
            "catalyst.analysis_ms": sum(p.get("analysis", 0) for p in phases),
            "catalyst.optimization_ms": sum(p.get("optimization", 0) for p in phases),
            "catalyst.planning_ms": sum(p.get("planning", 0) for p in phases),
            "spark.action_s": by_layer.get("spark.action", 0.0),
            "spark.read_amp": jobs["input_bytes"] / inbox if inbox else 0.0,
            "trace.coverage": 1 - self_s[root.sid] / wall,
        }
        for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                  "executor_cpu_s", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "task_skew"):
            m[f"spark.{k}"] = jobs[k]
        per_op.append(m)
    out = {k: statistics.fmean(m[k] for m in per_op) for k in per_op[0]}
    out["trace.coverage"] = min(m["trace.coverage"] for m in per_op)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    try:
        pin_environment(work)
        sys.path.insert(0, str(ROOT))
        try:
            import etl_process_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
                  file=sys.stderr)
            return 2
        os.chdir(work)
        result, report = run_workload(args, work, t_start)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            (ROOT / ".bench_work").rmdir()
    print("\n".join(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
