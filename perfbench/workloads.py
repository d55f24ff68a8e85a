"""The benchmark's workloads.

Each workload is a closed loop with one client: an op starts when the
previous one returns. ``setup`` does everything before the first timed op;
``pass_ops`` returns one pass over the workload's fixed op set, and a run
makes ``--seconds / PASS_S`` passes (at least one), ``PASS_S`` being the
nominal time of a pass on 4 idle cores; ``finish`` checks the end state
against an independent expected result. Ops return whether their own
output checked out.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench.datagen import NightlyPlan, write_corpus, write_dimensions


@dataclass
class Op:
    """One timed operation; ``extra`` collects per-op counts a traced run
    reports (rows in, bytes written, ...)."""

    label: str
    run: Callable[[], bool] | None  # the op; returns its own output check
    before: Callable[[], None] | None = None  # untimed preparation
    extra: dict[str, float] = field(default_factory=dict)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Nightly:
    """``run_daily_batch`` over consecutive nights after a backfill."""

    name = "nightly"
    NIGHTS_PER_PASS = 2
    PASS_S = 30.0

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.inbox = os.path.join(work, "inbox")
        self.warehouse = os.path.join(work, "warehouse")
        self.snapshot = os.path.join(work, "warehouse_backfilled")
        self.tracer = None  # a Tracer in traced runs

    def setup(self) -> None:
        from etl_process_spark.pipeline.runner import run_daily_batch

        self.run_daily_batch = run_daily_batch
        self.plan = NightlyPlan(
            seed=self.seed, tx_per_night=self.size["tx_per_night"],
            history_nights=self.size["history_nights"],
            n_nights=self.NIGHTS_PER_PASS)
        self.plan.write(os.path.join(self.work, "staging"))
        paths = write_dimensions(os.path.join(self.work, "dims"),
                                 self.plan.dimension_rows())
        self.dims = {name: self.spark.read.parquet(path)
                     for name, path in paths.items()}
        os.makedirs(self.inbox)
        backfill = self._op(self.plan.backfill)
        backfill.before()
        if not backfill.run():
            raise RuntimeError(f"backfill did not commit as generated: {backfill.extra}")
        shutil.copytree(self.warehouse, self.snapshot)

    def begin_pass(self) -> None:
        """Restore the backfilled warehouse to the same absolute path (the
        catalog's pointers store absolute directories) and empty the inbox."""
        shutil.rmtree(self.warehouse)
        shutil.copytree(self.snapshot, self.warehouse)
        shutil.rmtree(self.inbox)
        os.makedirs(self.inbox)

    def pass_ops(self, rng: random.Random) -> list[Op]:
        return [self._op(night) for night in self.plan.nights]

    def _op(self, night) -> Op:
        op = Op(f"night {night.date}", run=None)

        def before():
            for path in night.files:
                shutil.copy(path, self.inbox)
            if self.tracer:
                op.extra["warehouse_bytes_before"] = _tree_bytes(self.warehouse)

        def run():
            res = self.run_daily_batch(
                self.spark, inbox_dir=self.inbox, warehouse_dir=self.warehouse,
                dims=self.dims,
                clock=dt.datetime.combine(night.date, dt.time(1, 17)))
            op.extra.update(inbox_bytes=night.inbox_bytes, rows_in=night.tx_rows,
                            quarantined=res.transactions_quarantined,
                            report_rows=res.report_rows,
                            committed=res.transactions_appended)
            return (res.transactions_files == 1
                    and res.transactions_appended == night.new_fact_rows
                    and res.transactions_quarantined == night.quarantined
                    and res.terminal_snapshots == 1)

        op.before, op.run = before, run
        return op

    def after_op(self, op: Op) -> None:
        """Traced runs: storage counts of the warehouse after a night."""
        if not self.tracer:
            return
        added = _tree_bytes(self.warehouse) - op.extra.pop("warehouse_bytes_before")
        op.extra["write_amp"] = added / op.extra["inbox_bytes"]
        op.extra["space_amp"] = _tree_bytes(self.warehouse) / self._referenced_bytes()
        op.extra["history_rows"] = self._footer_rows("dim_terminals_hist")

    def _pointer_dirs(self):
        for name in os.listdir(self.warehouse):
            if name.endswith(".version.json"):
                with open(os.path.join(self.warehouse, name)) as fh:
                    ptr = json.load(fh)
                yield name[: -len(".version.json")], ptr.get("dirs") or [ptr["dir"]]

    def _referenced_bytes(self) -> int:
        return sum(_tree_bytes(d) for _, dirs in self._pointer_dirs() for d in dirs)

    def _footer_rows(self, table: str) -> int:
        import pyarrow.parquet as pq

        dirs = dict(self._pointer_dirs())[table]
        return sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                   for d in dirs for root, _, files in os.walk(d)
                   for f in files if f.endswith(".parquet"))

    def finish(self) -> list[str]:
        """End-state checks after the last pass; returns the mismatches.

        Fact rows, quarantined rows and terminal history versions are known
        exactly from the generator; the report must equal a from-scratch
        ``build_fraud_report`` over the final fact."""
        from etl_process_spark.pipeline.fraud import build_fraud_report, enrich_transactions
        from etl_process_spark.sources.tables import TableCatalog

        cat = TableCatalog(self.spark, self.warehouse)
        plan = self.plan
        expected = {
            "fact_transactions": plan.backfill.new_fact_rows
            + sum(n.new_fact_rows for n in plan.nights),
            "quarantine_transactions": sum(n.quarantined for n in plan.nights),
            "dim_terminals_hist": plan.n_terminals
            + sum(n.terminal_changes for n in plan.nights),
        }
        problems = []
        for table, want in expected.items():
            got = cat.read(table).count()
            if got != want:
                problems.append(f"{table}: {got} rows, expected {want}")
        clock = dt.datetime.combine(plan.nights[-1].date, dt.time(1, 17))
        cl = enrich_transactions(
            cat.read("fact_transactions"), cat.read("dim_terminals_hist"),
            self.dims["cards"], self.dims["accounts"], self.dims["clients"],
            cat.read("fact_blacklist"))
        want = {tuple(r) for r in build_fraud_report(cl, clock, include_trans_id=True)
                .select("trans_id", "event_type").collect()}
        got = [tuple(r) for r in cat.read("rep_fraud").select("trans_id", "event_type").collect()]
        if len(got) != len(set(got)) or set(got) != want:
            problems.append(
                f"rep_fraud: {len(got)} rows ({len(set(got))} distinct), "
                f"from-scratch report {len(want)}, "
                f"missing {len(want - set(got))}, extra {len(set(got) - want)}")
        return problems


# A fixed, family-stratified slice of the registered corpus, small enough
# that one pass fits a run: parity, LLM-data (dedup, LSH, vector search),
# streams, media, analytics (including a graph operator that persists its
# edge list), behaviour.
CORPUS_QUERIES = [
    "pricing_summary", "fraud_rules_union", "events_asof_join",
    "dedup_exact", "lsh_candidate_pairs", "embedding_topk_cosine",
    "session_windows",
    "image_phash_dup_pairs",
    "approx_price_quantiles", "copurchase_communities", "cube_order_counts",
    "funnel_conversion",
]


class Corpus:
    """Registered ``QUERIES`` builders, each action a noop-sink write."""

    name = "corpus"
    PASS_S = 8.0

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.data = os.path.join(work, "corpus")
        self.tracer = None  # a Tracer in traced runs
        self.rows: dict[str, list[int]] = {}

    def setup(self) -> None:
        from etl_process_spark.queries import QUERIES
        from etl_process_spark.queries.differential import compare

        self.queries = QUERIES
        write_corpus(self.data, self.seed, self.size["sf"])
        # Value check and warm-up: every query once, untimed, through the
        # engine's differential ``compare``, which collects the Spark result
        # and checks its canonicalised values against the DuckDB oracle
        # over the same tables. Without it the first queries of the timed
        # passes pay JIT compilation and Python worker start.
        self.checked = {}
        for name in CORPUS_QUERIES:
            self.checked[name] = compare(self.spark, self.data, QUERIES[name])
            self.after_op(Op(name, run=None))

    def begin_pass(self) -> None:
        pass

    def pass_ops(self, rng: random.Random) -> list[Op]:
        """Every query once, in seed-shuffled order."""
        names = list(CORPUS_QUERIES)
        rng.shuffle(names)
        return [self._op(name) for name in names]

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _op(self, name: str) -> Op:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        op = Op(name, run=None)

        def run():
            obs = Observation("rows")
            with self._span("queries.build"):
                df = self.queries[name].builder(self.spark, self.data)
            # the row count rides along the timed action as an observed
            # metric, so checking it costs no second job
            with self._span("spark.action"):
                df.observe(obs, F.count(F.lit(1)).alias("n")) \
                  .write.format("noop").mode("overwrite").save()
            self.rows.setdefault(name, []).append(obs.get["n"])
            return True

        op.run = run
        return op

    def after_op(self, op: Op) -> None:
        """Record what the query left cached, then free it (blocking), so
        one query's cache never serves the next."""
        sc = self.spark.sparkContext
        persistent = sc._jsc.getPersistentRDDs()
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        op.extra["leaked_blocks"] = persistent.size() + cache.numCachedEntries()
        self.spark.catalog.clearCache()
        for jrdd in persistent.values():
            jrdd.unpersist(True)

    def finish(self) -> list[str]:
        """Queries whose values the warm-up found to differ from their
        DuckDB oracle, and timed actions whose row count differs from the
        oracle's."""
        problems = [f"{name}: differs from its DuckDB oracle: "
                    f"{res.get('detail', res)}"[:500]
                    for name, res in self.checked.items() if not res["ok"]]
        for name, seen in sorted(self.rows.items()):
            want = self.checked[name]["rows_duckdb"]
            problems += [f"{name}: timed action saw {got} rows, DuckDB oracle {want}"
                         for got in seen if got != want]
        return problems


WORKLOADS = {w.name: w for w in (Nightly, Corpus)}
