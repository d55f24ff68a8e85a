"""Daily-batch orchestrator — the engine analog of the reference's
``main.py:47-50`` (connect → transaction → black_list → terminals → dims →
report, run nightly by cron).

Where the reference runs 8 scripts as subprocesses, each opening its own DB
connections, this is ONE driver function over ONE SparkSession: every stage
is a function call sharing DataFrames and a ``TableCatalog`` warehouse.
Every write, appends included, is one atomic catalog commit (a new version
directory plus one pointer swap), the analog of each script's
``conn.commit()``: a stage that fails mid-write leaves the table as the
previous commit left it. Ordering is load-bearing exactly as in the
reference: facts and dimensions must be current before the report joins them.

Idempotency comes from the same three mechanisms the reference uses:
filename-date watermarks (files at or below are never re-read), anti-join
dedup-on-insert for facts, and the SCD2 merge's no-op on unchanged state —
so re-running the batch with no new inputs appends nothing.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_process_spark.operators.scd2 import scd2_init, scd2_merge
from etl_process_spark.pipeline.fraud import (
    build_fraud_report,
    build_fraud_report_incremental,
    enrich_transactions,
)
from etl_process_spark.pipeline.loaders import (
    load_blacklist_file,
    load_transactions_file,
    quarantine_transactions,
    stage_transactions,
)
from etl_process_spark.sources.inbox import DatedInbox
from etl_process_spark.sources.tables import TableCatalog
from etl_process_spark.sources.watermark import WatermarkStore

TERMINAL_TRACKED = ["terminal_type", "terminal_city", "terminal_address"]


@dataclass
class BatchResult:
    """What each nightly run did — the engine's answer to the reference's
    row-count prints (transaction.py:62)."""

    transactions_files: int = 0
    transactions_appended: int = 0
    transactions_quarantined: int = 0
    blacklist_files: int = 0
    blacklist_appended: int = 0
    terminal_snapshots: int = 0
    report_rows: int = 0
    details: dict[str, Any] = field(default_factory=dict)


def _append_observed(
    cat: TableCatalog, name: str, df: DataFrame, metric: Column
) -> tuple[int, Any]:
    """Append ``df`` to table ``name`` and return the rows committed and
    ``metric``, an aggregate over the written rows, both observed on the
    write itself, so the plan runs once instead of once more for them."""
    obs = Observation()
    rows = cat.append(name, df.observe(obs, metric.alias("metric")))
    return rows, obs.get["metric"]


def run_daily_batch(
    spark: SparkSession,
    *,
    inbox_dir: str,
    warehouse_dir: str,
    dims: dict[str, DataFrame],
    clock: dt.datetime,
    archive: bool = True,
) -> BatchResult:
    """One nightly run: ingest every pending dated file, evolve the
    terminals SCD2 dimension, rebuild enrichment, append the fraud report.

    Parameters
    ----------
    dims : the DB-sourced dimension frames (``cards``, ``accounts``,
        ``clients``, ``blacklist`` current/history tables) — in the
        reference these come from the OLTP Postgres (cards.py:50-56); the
        offline engine takes them as inputs (parquet/JDBC upstream).
    clock : the injectable ``now()`` (F7) — report_dt and tombstone
        timestamps; pinned for reproducibility.
    """
    cat = TableCatalog(spark, warehouse_dir)
    wm = WatermarkStore(f"{warehouse_dir}/watermarks.json")
    res = BatchResult()

    # --- transactions: dated inbox -> quarantine split -> dedup append ----
    tx_inbox = DatedInbox(inbox_dir, "transactions_*.txt")
    last = wm.get("transactions", "1900-01-01")
    min_new_ts: dt.datetime | None = None  # earliest newly-appended trans_date
    for fdate, path in tx_inbox.discover(after=dt.date.fromisoformat(last[:10])):
        fact = cat.read("fact_transactions") if cat.exists("fact_transactions") else None
        clean, rejects = quarantine_transactions(stage_transactions(spark, path))
        new_rows = clean if fact is None else clean.join(
            fact.select("trans_id"), on="trans_id", how="left_anti"
        )
        n_new, batch_min = _append_observed(
            cat, "fact_transactions", new_rows, F.min("trans_date")
        )
        if batch_min is not None and (min_new_ts is None or batch_min < min_new_ts):
            min_new_ts = batch_min
        n_rej = rejects.count()
        if n_rej:
            cat.append(
                "quarantine_transactions",
                rejects.withColumn("load_date", F.lit(str(fdate))),
            )
        res.transactions_files += 1
        res.transactions_appended += n_new
        res.transactions_quarantined += n_rej
        wm.set("transactions", str(fdate))
        if archive:
            tx_inbox.archive(path)

    # --- blacklist: same protocol ----------------------------------------
    bl_inbox = DatedInbox(inbox_dir, "passport_blacklist_*.xlsx.csv")
    last = wm.get("blacklist", "1899-01-01")
    for fdate, path in bl_inbox.discover(after=dt.date.fromisoformat(last[:10])):
        bl = cat.read("fact_blacklist") if cat.exists("fact_blacklist") else None
        res.blacklist_appended += cat.append(
            "fact_blacklist", load_blacklist_file(spark, path, bl)
        )
        res.blacklist_files += 1
        wm.set("blacklist", str(fdate))
        if archive:
            bl_inbox.archive(path)

    # --- terminals: full-snapshot SCD2, one merge per file date -----------
    term_inbox = DatedInbox(inbox_dir, "terminals_*.csv")
    last = wm.get("terminals", "1899-01-01")
    for fdate, path in term_inbox.discover(after=dt.date.fromisoformat(last[:10])):
        snap = (
            spark.read.option("header", "true").csv(path)
            .select("terminal_id", *TERMINAL_TRACKED)
        )
        file_ts = F.lit(f"{fdate} 00:00:00")
        if cat.exists("dim_terminals_hist"):
            merged = scd2_merge(
                cat.read("dim_terminals_hist"), snap, "terminal_id",
                TERMINAL_TRACKED,
                new_effective_from=file_ts,
                changed_effective_from=file_ts,
                source_keys=snap,
                clock=clock,
            )
        else:
            merged = scd2_init(snap, "terminal_id", TERMINAL_TRACKED, file_ts)
        cat.overwrite("dim_terminals_hist", merged)
        res.terminal_snapshots += 1
        wm.set("terminals", str(fdate))
        if archive:
            term_inbox.archive(path)

    # --- data-quality gate: declarative expectations on the fact ----------
    # The reference's only check is a row-count print; the engine writes a
    # per-run violations report (one scan + one key shuffle, expectations.py);
    # this run's violations are observed on its write, not read back.
    fact = cat.read("fact_transactions") if cat.exists("fact_transactions") else None
    if fact is not None:
        from etl_process_spark.pipeline import expectations as ex

        dq = ex.check_expectations(
            fact,
            [
                ex.not_null("trans_id"),
                ex.not_null("trans_date"),
                ex.expect_expr("non_negative_amount", "amt IS NULL OR amt >= 0"),
                ex.unique("trans_id"),
            ],
        ).withColumn("run_clock", F.lit(str(clock)))
        _, res.details["dq_violations"] = _append_observed(
            cat, "dq_report", dq,
            F.map_from_entries(F.collect_list(F.struct("rule", "n_violations"))),
        )

    # --- report: enrichment join chain + 4 rules, append-only -------------
    # Incremental contract: after the first full build, each run derives
    # events only for trans_date beyond the report watermark (new rows ∪
    # 3-row per-card tails — build_fraud_report_incremental, all four
    # rules in one pass), so nightly cost tracks NEW data, not all-time
    # history. Late-arriving facts below the watermark pull the effective
    # watermark back to just before the earliest new row, so their events
    # are still derived; the dedup anti-join (bounded to the same lookback
    # window — rep_fraud is never scanned past it) absorbs the overlap.
    # The dedup key is (trans_id, event_type): NULL-free (passport can be
    # NULL through the LEFT-join chain and a NULL key never matches an
    # anti-join) and collision-free for same-second events. A retroactive
    # dimension rewrite that changes OLD transactions' enrichment needs an
    # explicit rebuild (clear the 'report' watermark + rep_fraud) — same as
    # any watermark-incremental pipeline.
    #
    # The report plan runs exactly once: report_rows is what the rep_fraud
    # append committed, observed on the write; an empty append commits
    # nothing. Once rep_fraud exists, a run that appended no facts and has
    # none past the report watermark skips the build altogether; facts
    # past it with none appended this run are left by a run that failed
    # before rep_fraud committed, which is why the watermark advances only
    # after the write.
    if fact is not None and cat.exists("dim_terminals_hist"):
        stored_wm = wm.get("report", "")
        pending = res.transactions_appended > 0 or not cat.exists("rep_fraud")
        if not pending:
            fact_max = fact.agg(F.max("trans_date")).first()[0]
            pending = fact_max is not None and str(fact_max) > stored_wm
        if pending:
            blacklist = (
                cat.read("fact_blacklist")
                if cat.exists("fact_blacklist")
                else dims["blacklist"]
            )
            cl = enrich_transactions(
                fact,
                cat.read("dim_terminals_hist"),
                dims["cards"], dims["accounts"], dims["clients"],
                blacklist,
            )
            if not stored_wm:
                report = build_fraud_report(cl, clock, include_trans_id=True)
                eff_wm = None
            else:
                eff_wm = stored_wm
                if min_new_ts is not None and str(min_new_ts) <= stored_wm:
                    eff_wm = str(min_new_ts - dt.timedelta(seconds=1))
                report = build_fraud_report_incremental(
                    cl, eff_wm, clock, include_trans_id=True
                )
            if cat.exists("rep_fraud"):
                prior = cat.read("rep_fraud")
                if eff_wm is not None:
                    prior = prior.filter(
                        F.col("event_dt") > F.to_timestamp(F.lit(eff_wm))
                    )
                report = report.join(
                    prior.select("trans_id", "event_type"),
                    on=["trans_id", "event_type"], how="left_anti",
                )
            res.report_rows = cat.append("rep_fraud", report)
            wm.advance_from("report", fact, "trans_date")

    return res
