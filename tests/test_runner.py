"""Daily-batch orchestrator e2e: two days through run_daily_batch, then a
no-new-input re-run that must be a complete no-op (watermarks + dedup +
SCD2 no-op — the reference's idempotency mechanisms, composed)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_process_spark.pipeline.runner import run_daily_batch
from etl_process_spark.sources.tables import TableCatalog

CLOCK = dt.datetime(2024, 3, 3, 1, 17, 0)  # the reference's cron hour

TX_HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"


@pytest.fixture()
def dims(spark):
    inf = dt.date(9999, 12, 31)
    eff = dt.datetime(2020, 1, 1)
    inf_ts = dt.datetime(9999, 12, 31)
    cards = spark.createDataFrame(
        [("CARD1               ", "ACC1", eff, inf_ts, "N"),
         ("CARD2               ", "ACC2", eff, inf_ts, "N")],
        "card_num string, account_num string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg string",
    )
    accounts = spark.createDataFrame(
        [("ACC1", inf, "C1", eff, inf_ts, "N"), ("ACC2", inf, "C2", eff, inf_ts, "N")],
        "account_num string, valid_to date, client string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg string",
    )
    clients = spark.createDataFrame(
        [("C1", "Ivanov", "Ivan", None, "P111", inf, "+7-1", eff, inf_ts, "N"),
         ("C2", "Petrov", "Petr", "P.", "P222", dt.date(2024, 1, 1), "+7-2", eff, inf_ts, "N")],
        "client_id string, last_name string, first_name string, patronymic string, "
        "passport_num string, passport_valid_to date, phone string, "
        "effective_from timestamp, effective_to timestamp, deleted_flg string",
    )
    blacklist = spark.createDataFrame(
        [], "entry_dt date, passport_num string"
    )
    return {"cards": cards, "accounts": accounts, "clients": clients,
            "blacklist": blacklist}


def _write_day1(inbox):
    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T001;2024-03-01 10:00:00;1.234,56;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T002;2024-03-01 11:00:00;10,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
        + "T003;BROKEN-DATE;10,00;CARD2               ;PAYMENT;SUCCESS;A1\n"
    )
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Kazan,addr2\n"
    )
    (inbox / "passport_blacklist_01032024.xlsx.csv").write_text(
        "date;passport\n2024-02-01;P999\n"
    )


def _write_day2(inbox):
    (inbox / "transactions_02032024.txt").write_text(
        TX_HEADER
        + "T004;2024-03-02 09:00:00;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T005;2024-03-02 09:30:00;20,00;CARD1               ;PAYMENT;SUCCESS;A2\n"
    )
    (inbox / "terminals_02032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\n"
    )


def _table_files(wh, table):
    """Every file of ``table`` under warehouse ``wh``: its pointer and the
    contents of each of its version directories."""
    paths = (
        os.path.relpath(os.path.join(d, f), wh)
        for d, _, files in os.walk(wh) for f in files
    )
    return sorted(p for p in paths if p.startswith((f"{table}_", f"{table}.version.json")))


def test_two_day_run_then_idempotent_rerun(spark, dims, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    _write_day1(inbox)
    r1 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=dt.datetime(2024, 3, 2, 1, 17), archive=False,
    )
    assert r1.transactions_files == 1
    assert r1.transactions_appended == 2      # T003 quarantined
    assert r1.transactions_quarantined == 1
    assert r1.blacklist_appended == 1
    assert r1.terminal_snapshots == 1

    cat = TableCatalog(spark, wh)
    fact = cat.read("fact_transactions")
    assert fact.count() == 2
    amt = {r["trans_id"]: str(r["amt"]) for r in fact.collect()}
    assert amt["T001"] == "1234.56"           # euro decimal parsed
    q = cat.read("quarantine_transactions").collect()
    assert [r["reject_reasons"] for r in q] == [["unparseable_transaction_date"]]

    _write_day2(inbox)
    r2 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    assert r2.transactions_appended == 2
    assert r2.terminal_snapshots == 1
    # A2's SCD2 history has two versions after the city change
    hist = cat.read("dim_terminals_hist").filter(F.col("terminal_id") == "A2")
    cities = [r["terminal_city"] for r in hist.orderBy("effective_from").collect()]
    assert cities == ["Kazan", "Samara"]
    # rule 3 fired for the T005 city hop (30 min apart, Moscow -> Samara)
    rep = cat.read("rep_fraud")
    assert rep.filter(
        (F.col("event_type") == 3)
        & (F.col("event_dt") == dt.datetime(2024, 3, 2, 9, 30))
    ).count() == 1

    # --- re-run with no new inputs: everything is a no-op -----------------
    before = sorted(map(tuple, rep.collect()))
    # dq_report is appended on every run by design
    tables = ["rep_fraud", "fact_transactions", "quarantine_transactions"]
    files_before = {t: _table_files(wh, t) for t in tables}
    r3 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    assert r3.transactions_files == 0
    assert r3.transactions_appended == 0
    assert r3.terminal_snapshots == 0
    assert r3.report_rows == 0
    assert sorted(map(tuple, cat.read("rep_fraud").collect())) == before
    assert cat.read("fact_transactions").count() == 4
    # not even an empty part file was written
    assert {t: _table_files(wh, t) for t in tables} == files_before
    assert all(files_before.values())

    # the DQ gate ran each time over the clean fact: zero violations,
    # 4 rows checked (the quarantined row never reached the warehouse)
    assert r3.details["dq_violations"] == {
        "not_null_trans_id": 0,
        "not_null_trans_date": 0,
        "non_negative_amount": 0,
        "unique_trans_id": 0,
    }
    last_dq = cat.read("dq_report").filter(
        F.col("run_clock") == str(CLOCK + dt.timedelta(days=1))
    )
    assert {r["n_checked"] for r in last_dq.collect()} == {4}


def test_null_passport_event_rerun_is_idempotent(spark, dims, tmp_path):
    """A rule-3 event on a card missing from the dims chain has NULL
    passport; the (trans_id, event_type) dedup key must keep re-runs
    no-ops anyway (a NULL key never matches a left_anti join, which made
    the old passport-keyed dedup re-append such events every night)."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    # CARD9 is not in dims["cards"] -> passport NULL; city hop within 1h
    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T101;2024-03-01 10:00:00;10,00;CARD9               ;PAYMENT;SUCCESS;A1\n"
        + "T102;2024-03-01 10:30:00;20,00;CARD9               ;PAYMENT;SUCCESS;A2\n"
    )
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\n"
    )
    r1 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    cat = TableCatalog(spark, wh)
    rep = cat.read("rep_fraud")
    hop = rep.filter(F.col("event_type") == 3).collect()
    assert len(hop) == 1 and hop[0]["passport"] is None
    assert r1.report_rows == rep.count()

    before = sorted(map(tuple, rep.collect()))
    r2 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    assert r2.report_rows == 0
    assert sorted(map(tuple, cat.read("rep_fraud").collect())) == before


def test_late_arriving_fact_still_reported(spark, dims, tmp_path):
    """A day-2 file carrying a transaction OLDER than the report
    watermark must still produce its events: the effective watermark is
    pulled back to just before the earliest new row, and the bounded
    dedup lookback absorbs the overlap without duplicating day-1 rows."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER
        + "T201;2024-03-01 10:00:00;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
        + "T202;2024-03-01 10:30:00;20,00;CARD1               ;PAYMENT;SUCCESS;A2\n"
    )
    # A3 must be live from day 1: the late fact below joins terminals
    # point-in-time, and a terminal first seen on day 2 is not valid for
    # a day-1 timestamp
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\nA3,POS,Kazan,addr3\n"
    )
    run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    cat = TableCatalog(spark, wh)
    day1 = sorted(map(tuple, cat.read("rep_fraud").collect()))
    assert len(day1) == 1  # the T202 city hop

    # day-2 file: one late fact (03-01 10:20, BETWEEN the day-1 rows —
    # before the watermark) and one new fact. The late Kazan stop at
    # 10:20 changes the hop structure: Moscow@10:00 -> Kazan@10:20 and
    # Kazan@10:20 -> Samara@10:30 are both hops; the old Moscow->Samara
    # event stays (already appended, event row itself unchanged).
    (inbox / "transactions_02032024.txt").write_text(
        TX_HEADER
        + "T203;2024-03-01 10:20:00;15,00;CARD1               ;PAYMENT;SUCCESS;A3\n"
        + "T204;2024-03-02 09:00:00;30,00;CARD1               ;PAYMENT;SUCCESS;A2\n"
    )
    (inbox / "terminals_02032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\n"
        "A1,POS,Moscow,addr1\nA2,POS,Samara,addr2\nA3,POS,Kazan,addr3\n"
    )
    r2 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    rep = cat.read("rep_fraud")
    # late T203 (Moscow->Kazan hop) got its event; T202's Kazan->Samara
    # re-derivation deduped against the already-stored T202 row
    t203 = rep.filter(F.col("trans_id") == "T203").collect()
    assert len(t203) == 1 and t203[0]["event_type"] == 3
    assert rep.filter(F.col("trans_id") == "T202").count() == 1
    assert r2.report_rows == 1  # only the late hop is new

    # third run, nothing new: full no-op
    r3 = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=2), archive=False,
    )
    assert r3.report_rows == 0


def test_blacklist_appended_counts_the_written_rows(spark, dims, tmp_path):
    """blacklist_appended is the number of rows the append wrote: a
    day-2 file with one known and one new passport appends 1, and the
    same file re-sent under a later date appends 0."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")

    def run(day):
        return run_daily_batch(
            spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
            clock=dt.datetime(2024, 3, day, 1, 17), archive=False,
        )

    (inbox / "passport_blacklist_01032024.xlsx.csv").write_text(
        "date;passport\n2024-02-01;P999\n"
    )
    assert run(2).blacklist_appended == 1
    day2 = "date;passport\n2024-02-01;P999\n2024-03-01;P111\n"
    (inbox / "passport_blacklist_02032024.xlsx.csv").write_text(day2)
    r2 = run(3)
    assert (r2.blacklist_files, r2.blacklist_appended) == (1, 1)
    (inbox / "passport_blacklist_03032024.xlsx.csv").write_text(day2)
    r3 = run(4)
    assert (r3.blacklist_files, r3.blacklist_appended) == (1, 0)
    bl = TableCatalog(spark, wh).read("fact_blacklist")
    assert sorted(r["passport_num"] for r in bl.collect()) == ["P111", "P999"]


def test_report_catches_up_after_a_failed_report_stage(spark, dims, tmp_path, monkeypatch):
    """A run that commits facts but fails before rep_fraud commits leaves
    the report watermark behind; the next run, with no new input, must
    still derive those facts' events (the skip rule for no-input runs
    looks at the fact, not only at this run's appends)."""
    from etl_process_spark.pipeline import runner

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    _write_day1(inbox)
    run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=dt.datetime(2024, 3, 2, 1, 17), archive=False,
    )
    _write_day2(inbox)

    def crash(*args, **kwargs):
        raise RuntimeError("report stage down")

    with monkeypatch.context() as m:
        m.setattr(runner, "build_fraud_report_incremental", crash)
        with pytest.raises(RuntimeError, match="report stage down"):
            run_daily_batch(
                spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
                clock=CLOCK, archive=False,
            )
    r = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK + dt.timedelta(days=1), archive=False,
    )
    assert r.transactions_appended == 0
    assert r.report_rows == 1  # the T005 city hop
    rep = TableCatalog(spark, wh).read("rep_fraud")
    assert sorted((x["trans_id"], x["event_type"]) for x in rep.collect()) == [
        ("T002", 1),  # day 1: expired passport
        ("T005", 3),
    ]


def test_empty_fact_rerun_writes_no_report_files(spark, dims, tmp_path):
    """A first night whose every row is quarantined leaves an empty fact
    and no report watermark; a no-input re-run must not append an empty
    part file to rep_fraud."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    (inbox / "transactions_01032024.txt").write_text(
        TX_HEADER + "T301;BROKEN-DATE;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
    )
    (inbox / "terminals_01032024.csv").write_text(
        "terminal_id,terminal_type,terminal_city,terminal_address\nA1,POS,Moscow,addr1\n"
    )

    def run(day):
        return run_daily_batch(
            spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
            clock=dt.datetime(2024, 3, day, 1, 17), archive=False,
        )

    assert run(2).report_rows == 0
    files = _table_files(wh, "rep_fraud")
    assert run(3).report_rows == 0
    assert files and _table_files(wh, "rep_fraud") == files


def test_night_without_new_events_leaves_report_files_unchanged(spark, dims, tmp_path):
    """A night that appends facts but derives no new fraud events commits
    nothing to rep_fraud: an empty append writes no file."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    wh = str(tmp_path / "wh")
    _write_day1(inbox)
    run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=dt.datetime(2024, 3, 2, 1, 17), archive=False,
    )
    files = _table_files(wh, "rep_fraud")
    (inbox / "transactions_02032024.txt").write_text(
        TX_HEADER
        + "T010;2024-03-02 12:00:00;10,00;CARD1               ;PAYMENT;SUCCESS;A1\n"
    )
    r = run_daily_batch(
        spark, inbox_dir=str(inbox), warehouse_dir=wh, dims=dims,
        clock=CLOCK, archive=False,
    )
    assert r.transactions_appended == 1
    assert r.report_rows == 0
    assert files and _table_files(wh, "rep_fraud") == files
