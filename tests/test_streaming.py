"""Structured Streaming: stream runs must agree with their batch twins.

Strategy: split the sf0.001 events table into time-ordered parquet files
in a temp inbox, stream them with maxFilesPerTrigger=1 (multiple
microbatches → real incremental state), collect into a memory sink with
Trigger.AvailableNow, and compare against the identical batch computation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_process_spark.queries.registry import tbl
from etl_process_spark.streaming import (
    read_event_stream,
    sessionize_batch,
    sessionize_stream,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_inbox(spark, tmp_path_factory):
    """Events split into 3 time-ordered files (arrival order = event time)."""
    base = tmp_path_factory.mktemp("event_inbox")
    ev = tbl(spark, SF_DIR, "events").orderBy("ts")
    bounds = ev.select(
        F.percentile_approx("ts", [1 / 3, 2 / 3], 10000).alias("q")
    ).first()["q"]
    parts = [
        ev.filter(F.col("ts") <= bounds[0]),
        ev.filter((F.col("ts") > bounds[0]) & (F.col("ts") <= bounds[1])),
        ev.filter(F.col("ts") > bounds[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(str(base / f"chunk_{i}"))
    # one flat dir of parquet files, lexicographic order = time order
    import shutil

    inbox = base / "inbox"
    inbox.mkdir()
    import os
    import time

    now = time.time()
    for i in range(3):
        src = next((base / f"chunk_{i}").glob("part-*.parquet"))
        dst = inbox / f"events_{i}.parquet"
        shutil.copy(src, dst)
        # the file source orders by modification time: pin strictly
        # increasing mtimes so arrival order is deterministically = event
        # time order (identical mtimes would randomize watermark behavior)
        os.utime(dst, (now + 10 * i, now + 10 * i))
        shutil.rmtree(base / f"chunk_{i}")
    return str(inbox)


def _run_stream(spark, df, tmpdir, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _canon(df, cols):
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_tumbling_stream_matches_batch(spark, event_inbox, tmp_path):
    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    got = _run_stream(
        spark, tumbling_counts(stream, watermark="0 seconds"), tmp_path, "tumbling"
    )
    batch = tumbling_counts(tbl(spark, SF_DIR, "events"), watermark=None)
    # append mode only emits windows the final watermark has passed
    max_ts = tbl(spark, SF_DIR, "events").agg(F.max("ts")).first()[0]
    expected = batch.filter(F.col("window_end") <= F.lit(max_ts))
    cols = ["window_start", "window_end", "event_type", "n_events", "total_value_e4"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert got.count() > 0


def test_stateful_sessionizer_matches_batch(spark, event_inbox, tmp_path):
    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    got = _run_stream(
        spark, sessionize_stream(stream, gap_seconds=1800), tmp_path, "sessions"
    )
    batch = sessionize_batch(tbl(spark, SF_DIR, "events"), gap_seconds=1800)
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value_e4"]
    got_rows = _canon(got, cols)
    batch_rows = _canon(batch, cols)
    # every emitted session is exactly a batch session (no corruption)
    assert set(got_rows) <= set(batch_rows)
    # completeness: at most the still-open last session per user is withheld
    missing = set(batch_rows) - set(got_rows)
    n_users = tbl(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert len(missing) <= n_users
    # the stream must have closed the overwhelming majority
    assert len(got_rows) >= len(batch_rows) - n_users
    assert len(got_rows) > 0


def test_pattern_detector_stream_matches_batch(spark, event_inbox, tmp_path):
    """The decreasing-run detector must agree with its lag-window batch
    twin EXACTLY: alerts are emitted on arrival (not watermark-gated), so
    in-order input gives identical output across microbatch boundaries."""
    from etl_process_spark.streaming.patterns import (
        decreasing_run_batch,
        decreasing_run_stream,
    )

    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    got = _run_stream(
        spark, decreasing_run_stream(stream, k=3, window_seconds=6 * 3600), tmp_path, "runs"
    )
    batch = decreasing_run_batch(tbl(spark, SF_DIR, "events"), k=3, window_seconds=6 * 3600)
    cols = ["user_id", "event_id", "ts", "run_start"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert got.count() > 0


def test_sessionizer_gap_boundary(spark, tmp_path):
    """An event exactly `gap` after the last one starts a NEW session (the
    strict >= split that session_window also uses)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 30, 0), 7, "click", 2.0, "{}"),  # == gap
        (3, dt.datetime(2024, 1, 1, 0, 40, 0), 7, "click", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = sessionize_batch(df, gap_seconds=1800).orderBy("session_start").collect()
    assert [r["n_events"] for r in out] == [1, 2]
    assert out[0]["session_end"] == dt.datetime(2024, 1, 1, 0, 30, 0)


def test_stream_stream_join_matches_batch(spark, event_inbox, tmp_path):
    """Watermarked stream-stream time-bounded join ≡ its batch twin.

    Inner time-bound joins emit matches on arrival; the watermark only
    bounds state. With time-ordered arrival and a 48 h watermark over a
    24 h bound, no state is evicted before its last possible match — so
    the stream result must equal the batch join exactly.
    """
    from etl_process_spark.streaming.joins import (
        time_bounded_join_batch,
        time_bounded_join_stream,
    )

    def split(df, kind, idc, tsc):
        return df.filter(F.col("event_type") == kind).select(
            "user_id",
            F.col("event_id").alias(idc),
            F.col("ts").alias(tsc),
        )

    l_stream = split(read_event_stream(spark, event_inbox, max_files_per_trigger=1),
                     "click", "click_id", "c_ts")
    r_stream = split(read_event_stream(spark, event_inbox, max_files_per_trigger=1),
                     "view", "view_id", "v_ts")
    got = _run_stream(
        spark,
        time_bounded_join_stream(
            l_stream, r_stream, key="user_id", left_ts="c_ts", right_ts="v_ts",
            watermark="48 hours", within="24 hours",
        ),
        tmp_path,
        "ss_join",
    )
    ev = tbl(spark, SF_DIR, "events")
    expected = time_bounded_join_batch(
        split(ev, "click", "click_id", "c_ts"),
        split(ev, "view", "view_id", "v_ts"),
        key="user_id", left_ts="c_ts", right_ts="v_ts", within="24 hours",
    )
    cols = ["user_id", "click_id", "c_ts", "view_id", "v_ts"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert got.count() > 0


def test_stream_stream_left_outer_join_matches_batch(spark, event_inbox, tmp_path):
    """Left-outer stream-stream join ≡ batch left join, split by row kind:

    - matched rows emit on arrival → must equal the batch join's matched
      rows exactly;
    - null-extended rows emit only once the watermark proves no match can
      arrive → every emitted null row must be a batch null row, and every
      batch null row whose emission point (c_ts + within) lies strictly
      inside the final watermark must have been emitted.
    """
    from etl_process_spark.streaming.joins import (
        time_bounded_join_batch,
        time_bounded_join_stream,
    )

    def split(df, kind, idc, tsc):
        return df.filter(F.col("event_type") == kind).select(
            "user_id",
            F.col("event_id").alias(idc),
            F.col("ts").alias(tsc),
        )

    # Outer results flush only when a LATER batch carries the advanced
    # watermark — the last real chunk's horizon would stay open forever.
    # Standard production fix: a punctuation (sentinel) event far in the
    # future arrives last and pushes the watermark past all real data.
    import datetime as dt
    import os
    import shutil
    import time

    inbox = tmp_path / "inbox_outer"
    inbox.mkdir()
    for f in sorted(os.listdir(event_inbox)):
        shutil.copy(os.path.join(event_inbox, f), inbox / f)
        os.utime(inbox / f, (os.path.getmtime(os.path.join(event_inbox, f)),) * 2)
    far = dt.datetime(2024, 6, 1)
    sentinel = spark.createDataFrame(
        [(-1, far, -999, "click", 0.0, "{}"), (-2, far, -999, "view", 0.0, "{}")],
        schema=__import__(
            "etl_process_spark.streaming.sources", fromlist=["events_schema"]
        ).events_schema(),
    )
    sentinel.coalesce(1).write.parquet(str(tmp_path / "sentinel"))
    src = next((tmp_path / "sentinel").glob("part-*.parquet"))
    dst = inbox / "events_9_sentinel.parquet"
    shutil.copy(src, dst)
    os.utime(dst, (time.time() + 3600,) * 2)

    l_stream = split(read_event_stream(spark, str(inbox), max_files_per_trigger=1),
                     "click", "click_id", "c_ts")
    r_stream = split(read_event_stream(spark, str(inbox), max_files_per_trigger=1),
                     "view", "view_id", "v_ts")
    got = _run_stream(
        spark,
        time_bounded_join_stream(
            l_stream, r_stream, key="user_id", left_ts="c_ts", right_ts="v_ts",
            watermark="0 seconds", within="6 hours", how="left_outer",
        ),
        tmp_path,
        "ss_outer_join",
    ).filter(F.col("user_id") != -999)
    ev = tbl(spark, SF_DIR, "events")
    expected = time_bounded_join_batch(
        split(ev, "click", "click_id", "c_ts"),
        split(ev, "view", "view_id", "v_ts"),
        key="user_id", left_ts="c_ts", right_ts="v_ts",
        within="6 hours", how="left_outer",
    )
    cols = ["user_id", "click_id", "c_ts", "view_id", "v_ts"]

    got_matched = _canon(got.filter(F.col("view_id").isNotNull()), cols)
    exp_matched = _canon(expected.filter(F.col("view_id").isNotNull()), cols)
    assert got_matched == exp_matched
    assert len(got_matched) > 0

    got_nulls = set(_canon(got.filter(F.col("view_id").isNull()), cols))
    exp_nulls = set(_canon(expected.filter(F.col("view_id").isNull()), cols))
    assert got_nulls <= exp_nulls
    # final watermark = max event ts (delay 0); strict margin dodges the
    # eviction boundary
    max_ts = ev.agg(F.max("ts")).first()[0]
    must_emit = set(
        _canon(
            expected.filter(
                F.col("view_id").isNull()
                & (F.col("c_ts") + F.expr("INTERVAL 6 HOURS") < F.lit(max_ts))
            ),
            cols,
        )
    )
    assert must_emit <= got_nulls
    assert len(got_nulls) > 0


def test_stream_dedup_matches_batch_distinct(spark, event_inbox, tmp_path):
    """dropDuplicatesWithinWatermark over an at-least-once inbox (every
    chunk re-delivered) must yield exactly one row per event_id — the
    same key set as batch dropDuplicates — when re-deliveries arrive
    inside the watermark horizon."""
    import os
    import shutil
    import time

    from etl_process_spark.streaming.sources import dedup_stream, read_event_stream

    inbox = tmp_path / "dup_inbox"
    inbox.mkdir()
    now = time.time()
    # chunk_i then its duplicate re-delivery, interleaved in arrival order
    for i, f in enumerate(sorted(os.listdir(event_inbox))):
        for j, name in enumerate([f, f.replace(".parquet", "_redelivered.parquet")]):
            dst = inbox / name
            shutil.copy(os.path.join(event_inbox, f), dst)
            os.utime(dst, (now + 10 * (2 * i + j),) * 2)

    stream = read_event_stream(spark, str(inbox), max_files_per_trigger=1)
    # 60-day watermark > the events table's full span: no state expires,
    # so every re-delivery is inside the horizon -> exact global dedup
    got = _run_stream(
        spark,
        dedup_stream(stream, ["event_id"], watermark="60 days"),
        tmp_path,
        "dedup",
    )
    ev = tbl(spark, SF_DIR, "events")
    assert got.count() == got.select("event_id").distinct().count()
    got_keys = {r[0] for r in got.select("event_id").collect()}
    exp_keys = {r[0] for r in ev.select("event_id").distinct().collect()}
    assert got_keys == exp_keys


def test_streaming_scd2_matches_sequential_batch(spark, event_inbox, tmp_path):
    """foreachBatch SCD2 over 3 microbatches ≡ applying the same 3
    batches sequentially with the batch merge: identical version
    history, plus SCD2 invariants on the result."""
    import os

    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.scd2_stream import run_scd2_stream, scd2_sink
    from etl_process_spark.streaming.sources import read_event_stream

    tracked = ["event_type", "value"]

    stream_cat = TableCatalog(spark, str(tmp_path / "wh_stream"))
    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    q = run_scd2_stream(
        stream, stream_cat, "user_profile", "user_id", tracked, "ts",
        checkpoint=str(tmp_path / "ckpt_scd2"),
    )
    q.awaitTermination(300)

    batch_cat = TableCatalog(spark, str(tmp_path / "wh_batch"))
    apply_batch = scd2_sink(batch_cat, "user_profile", "user_id", tracked, "ts")
    for i, f in enumerate(sorted(os.listdir(event_inbox))):
        apply_batch(spark.read.parquet(os.path.join(event_inbox, f)), i)

    cols = ["user_id", "event_type", "value", "effective_from", "effective_to", "deleted_flg"]
    got = _canon(stream_cat.read("user_profile"), cols)
    exp = _canon(batch_cat.read("user_profile"), cols)
    assert got == exp
    assert len(got) > 0

    # invariants: exactly one open version per key; histories may have
    # multiple versions for users whose latest event changed across chunks
    dim = stream_cat.read("user_profile")
    n_users = dim.select("user_id").distinct().count()
    open_versions = dim.filter(F.col("effective_to") == "9999-12-31 00:00:00")
    assert open_versions.count() == n_users
    assert dim.count() > n_users  # at least one user evolved


def test_checkpoint_restart_is_exactly_once(spark, event_inbox, tmp_path):
    """Source offsets in the checkpoint are the engine-grade form of the
    reference's watermark table (vean_meta_date): after a restart with
    the SAME checkpoint, already-processed files are never re-read, and
    newly arrived files are picked up incrementally — rows land exactly
    once."""
    import os
    import shutil
    import time

    from etl_process_spark.streaming.sources import read_event_stream

    inbox = tmp_path / "restart_inbox"
    inbox.mkdir()
    files = sorted(os.listdir(event_inbox))
    now = time.time()
    # phase 1: only the first two chunks exist
    for i, f in enumerate(files[:2]):
        shutil.copy(os.path.join(event_inbox, f), inbox / f)
        os.utime(inbox / f, (now + 10 * i,) * 2)

    out_dir = str(tmp_path / "restart_out")

    def run():
        stream = read_event_stream(spark, str(inbox), max_files_per_trigger=1)
        q = (
            stream.select("event_id").writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt_restart"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out_dir)

    got1 = run()
    counts = {f: spark.read.parquet(os.path.join(event_inbox, f)).count() for f in files}
    assert got1.count() == counts[files[0]] + counts[files[1]]

    # phase 2: third chunk arrives; restart from the same checkpoint
    shutil.copy(os.path.join(event_inbox, files[2]), inbox / files[2])
    os.utime(inbox / files[2], (now + 100,) * 2)
    got2 = run()
    # exactly-once across the restart: every row lands once, none twice
    assert got2.count() == sum(counts.values())
    assert got2.select("event_id").distinct().count() == got2.count()


def test_stateful_query_on_rocksdb_state_store(spark, event_inbox, tmp_path):
    """The same stateful query (streaming dedup) on the RocksDB state
    store provider — the production configuration when state exceeds
    executor heap (state lives off-heap/on-disk with incremental
    checkpoints). Results must be identical to the default provider."""
    from etl_process_spark.streaming.sources import dedup_stream, read_event_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
        got = _run_stream(
            spark,
            dedup_stream(stream, ["event_id"], watermark="60 days"),
            tmp_path,
            "dedup_rocks",
        )
        ev = tbl(spark, SF_DIR, "events")
        assert got.count() == ev.select("event_id").distinct().count()
        assert got.count() == got.select("event_id").distinct().count()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_stream_static_enrichment_matches_batch(spark, event_inbox, tmp_path):
    """Stream-static join: every micro-batch enriched against the same
    static dim must equal the one-shot batch join — stateless, so append
    mode emits every row immediately (no watermark holdback)."""
    from etl_process_spark.streaming.joins import enrich_stream

    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive"), ("purchase", "revenue")],
        "event_type string, label string",
    )
    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    got = _run_stream(
        spark,
        enrich_stream(stream, dim, "event_type").select(
            "event_id", "event_type", "label"
        ),
        tmp_path,
        "enriched",
    )
    batch = (
        tbl(spark, SF_DIR, "events")
        .join(dim, "event_type", "left")
        .select("event_id", "event_type", "label")
    )
    cols = ["event_id", "event_type", "label"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert got.count() == tbl(spark, SF_DIR, "events").count()


def test_stream_stream_full_outer_join_matches_batch(spark, event_inbox, tmp_path):
    """Full-outer stream-stream join ≡ batch full join, split three ways:
    matched rows exact; each side's null-extended rows a subset of the
    batch ones, and complete for rows whose flush point lies strictly
    inside the final watermark (left flushes at c_ts + within, right at
    v_ts)."""
    import datetime as dt
    import os
    import shutil
    import time

    from etl_process_spark.streaming.joins import (
        time_bounded_join_batch,
        time_bounded_join_stream,
    )

    def split(df, kind, idc, tsc):
        return df.filter(F.col("event_type") == kind).select(
            "user_id",
            F.col("event_id").alias(idc),
            F.col("ts").alias(tsc),
        )

    inbox = tmp_path / "inbox_full"
    inbox.mkdir()
    for f in sorted(os.listdir(event_inbox)):
        shutil.copy(os.path.join(event_inbox, f), inbox / f)
        os.utime(inbox / f, (os.path.getmtime(os.path.join(event_inbox, f)),) * 2)
    far = dt.datetime(2024, 6, 1)
    sentinel = spark.createDataFrame(
        [(-1, far, -999, "click", 0.0, "{}"), (-2, far, -999, "view", 0.0, "{}")],
        schema=__import__(
            "etl_process_spark.streaming.sources", fromlist=["events_schema"]
        ).events_schema(),
    )
    sentinel.coalesce(1).write.parquet(str(tmp_path / "sentinel_full"))
    src = next((tmp_path / "sentinel_full").glob("part-*.parquet"))
    dst = inbox / "events_9_sentinel.parquet"
    shutil.copy(src, dst)
    os.utime(dst, (time.time() + 3600,) * 2)

    l_stream = split(read_event_stream(spark, str(inbox), max_files_per_trigger=1),
                     "click", "click_id", "c_ts")
    r_stream = split(read_event_stream(spark, str(inbox), max_files_per_trigger=1),
                     "view", "view_id", "v_ts")
    got = _run_stream(
        spark,
        time_bounded_join_stream(
            l_stream, r_stream, key="user_id", left_ts="c_ts", right_ts="v_ts",
            watermark="0 seconds", within="6 hours", how="full_outer",
        ),
        tmp_path,
        "ss_full_join",
    ).filter(F.col("user_id") != -999)
    ev = tbl(spark, SF_DIR, "events")
    expected = time_bounded_join_batch(
        split(ev, "click", "click_id", "c_ts"),
        split(ev, "view", "view_id", "v_ts"),
        key="user_id", left_ts="c_ts", right_ts="v_ts",
        within="6 hours", how="full_outer",
    )
    cols = ["user_id", "click_id", "c_ts", "view_id", "v_ts"]
    max_ts = ev.agg(F.max("ts")).first()[0]

    matched = F.col("click_id").isNotNull() & F.col("view_id").isNotNull()
    assert _canon(got.filter(matched), cols) == _canon(expected.filter(matched), cols)
    assert len(_canon(got.filter(matched), cols)) > 0

    for null_side, flush_before in (
        (F.col("view_id").isNull() & F.col("click_id").isNotNull(),
         F.col("c_ts") + F.expr("INTERVAL 6 HOURS") < F.lit(max_ts)),
        (F.col("click_id").isNull() & F.col("view_id").isNotNull(),
         F.col("v_ts") < F.lit(max_ts)),
    ):
        got_nulls = set(_canon(got.filter(null_side), cols))
        exp_nulls = set(_canon(expected.filter(null_side), cols))
        assert got_nulls <= exp_nulls
        must_emit = set(_canon(expected.filter(null_side & flush_before), cols))
        assert must_emit <= got_nulls
        assert len(got_nulls) > 0


def test_tws_sessionizer_matches_batch_and_legacy_stream(spark, event_inbox, tmp_path):
    """transformWithStateInPandas sessionizer: same contract as the
    applyInPandasWithState one — every emitted session is a batch
    session, at most one (still-open) session per user withheld.

    Spark's transformWithState Python worker protocol is protobuf-based
    (StateMessage_pb2); this container ships no google.protobuf, so the
    engine activates the vendored pure-Python mini-runtime
    (etl_process_spark/vendor — wire-format tests in
    test_protobuf_shim.py). A failure here is a real failure, no longer
    an environment skip."""
    from etl_process_spark.vendor import ensure_protobuf

    assert ensure_protobuf(), "vendored protobuf failed to activate"
    from etl_process_spark.streaming.sources import read_event_stream
    from etl_process_spark.streaming.stateful import (
        sessionize_batch,
        sessionize_stream_tws,
    )

    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    # transformWithState needs a state store with column families:
    # RocksDB (ships with Spark 4), not the HDFS-backed default
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = _run_stream(
            spark, sessionize_stream_tws(stream, gap_seconds=1800),
            tmp_path, "tws_sessions",
        )
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    batch = sessionize_batch(tbl(spark, SF_DIR, "events"), gap_seconds=1800)
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value_e4"]
    got_rows = _canon(got, cols)
    batch_rows = _canon(batch, cols)
    assert set(got_rows) <= set(batch_rows)
    n_users = tbl(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert len(set(batch_rows) - set(got_rows)) <= n_users
    assert len(got_rows) >= len(batch_rows) - n_users
    assert len(got_rows) > 0


def test_funnel_stream_matches_batch(spark, event_inbox, tmp_path):
    """The streaming funnel state machine must agree with the window-min
    batch twin exactly: completions are emitted on arrival and completed
    users freeze, so in-order input gives identical completion rows."""
    from etl_process_spark.streaming.patterns import funnel_batch, funnel_stream

    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    got = _run_stream(spark, funnel_stream(stream), tmp_path, "funnel")
    batch = funnel_batch(tbl(spark, SF_DIR, "events"))
    cols = ["user_id", "t1", "t2", "t3", "t4"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert got.count() > 0


def test_trending_stream_matches_batch_topk(spark, event_inbox, tmp_path):
    """Streaming trending top-k (rank OVER a streaming aggregate — only
    expressible via the finalized-window foreachBatch composition) must
    equal the batch topk_per_window over batch tumbling_counts, for
    every window the final watermark passed."""
    from etl_process_spark.streaming.sources import read_event_stream
    from etl_process_spark.streaming.windows import (
        topk_per_window,
        trending_stream,
        tumbling_counts,
    )

    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    sink = str(tmp_path / "trending_sink")
    q = trending_stream(
        stream, sink, str(tmp_path / "trending_ckpt"), k=2,
        window_duration="6 hours", watermark="0 seconds",
    )
    q.awaitTermination(300)
    got = spark.read.parquet(sink)

    ev = tbl(spark, SF_DIR, "events")
    batch = topk_per_window(
        tumbling_counts(ev, window_duration="6 hours", watermark=None), k=2
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    expected = batch.filter(F.col("window_end") <= F.lit(max_ts))
    cols = ["window_start", "window_end", "event_type", "n_events", "rnk"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert got.count() > 0


def test_streaming_neardup_matches_full_lsh(spark, tmp_path):
    """Streaming near-dup detection (probe the stored LSH index per
    micro-batch, extend it, append pairs) must surface EXACTLY the
    full-corpus lsh_candidate_pairs — bucket collision is pairwise, so
    batch-at-a-time probing loses nothing; the stream is just the batch
    incremental theorem applied per trigger."""
    import os
    import time as _time

    from pyspark.sql import types as T

    from etl_process_spark.operators.dedup import lsh_candidate_pairs
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.dedup_stream import (
        PAIRS_TABLE,
        run_neardup_stream,
    )
    from etl_process_spark.streaming.sources import read_event_stream

    docs = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    # plant cross-chunk clones so the probe path is exercised
    clones = docs.filter(F.col("doc_id") < 4).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(clones).cache()

    inbox = tmp_path / "doc_inbox"
    inbox.mkdir()
    now = _time.time()
    chunks = [
        all_docs.filter(F.col("doc_id") % 3 == i).coalesce(1) for i in range(3)
    ]
    for i, ch in enumerate(chunks):
        d = tmp_path / f"doc_chunk_{i}"
        ch.write.parquet(str(d))
        src = next(d.glob("part-*.parquet"))
        dst = inbox / f"docs_{i}.parquet"
        src.rename(dst)
        os.utime(dst, (now + 10 * i,) * 2)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = read_event_stream(
        spark, str(inbox), max_files_per_trigger=1, schema=schema
    )
    cat = TableCatalog(spark, str(tmp_path / "neardup_cat"))
    q = run_neardup_stream(
        stream, cat, "text", "doc_id", str(tmp_path / "neardup_ckpt")
    )
    q.awaitTermination(300)

    got = {
        (r["doc_a"], r["doc_b"])
        for r in cat.read(PAIRS_TABLE).collect()
    }
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(all_docs, "text", "doc_id").collect()
    }
    assert got == expected
    assert any(b >= 10_000 for _, b in got)  # cross-chunk clones found


def test_windowed_lane_sketch_stream_matches_batch(spark, event_inbox, tmp_path):
    """The streaming lane-min sketch must equal its batch twin register
    for register on every closed window — and the estimates derived
    from the emitted registers are therefore identical too."""
    from etl_process_spark.operators.sketch import lane_min_estimate
    from etl_process_spark.streaming.windows import windowed_lane_sketch

    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    got = _run_stream(
        spark,
        windowed_lane_sketch(stream, watermark="0 seconds"),
        tmp_path,
        "lanesketch",
    )
    batch = windowed_lane_sketch(tbl(spark, SF_DIR, "events"), watermark=None)
    max_ts = tbl(spark, SF_DIR, "events").agg(F.max("ts")).first()[0]
    expected = batch.filter(
        F.col("window_start") + F.expr("INTERVAL 6 HOURS") <= F.lit(max_ts)
    )
    cols = ["window_start", "set", "lane", "m"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert got.count() > 0
    # estimates from the emitted registers: one per (window, set)
    est = lane_min_estimate(
        got.withColumn("set", F.concat_ws("|", "window_start", "set"))
    )
    assert est.count() > 0 and est.where(F.col("est") <= 0).count() == 0


def test_tws_type_profile_matches_batch(spark, event_inbox, tmp_path):
    """MapState-based session TYPE PROFILE on transformWithStateInPandas
    (distinct-type counts + modal type per gap-session) vs the
    gaps-and-islands batch twin: every emitted profile is a batch
    profile; at most one still-open session per user withheld. Exercises
    the MapState worker protocol (containsKey/getValue/updateValue +
    the repeated-kvPair iterator responses) over the vendored protobuf
    runtime."""
    from etl_process_spark.streaming.sources import read_event_stream
    from etl_process_spark.streaming.stateful import (
        session_type_profile_batch,
        session_type_profile_stream_tws,
    )
    from etl_process_spark.vendor import ensure_protobuf

    assert ensure_protobuf(), "vendored protobuf failed to activate"
    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = _run_stream(
            spark, session_type_profile_stream_tws(stream, gap_seconds=1800),
            tmp_path, "tws_type_profile",
        )
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    batch = session_type_profile_batch(
        tbl(spark, SF_DIR, "events"), gap_seconds=1800
    )
    cols = ["user_id", "session_start", "session_end", "n_events",
            "n_types", "top_type", "top_type_n"]
    got_rows = _canon(got, cols)
    batch_rows = _canon(batch, cols)
    assert set(got_rows) <= set(batch_rows)
    n_users = tbl(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert len(set(batch_rows) - set(got_rows)) <= n_users
    assert len(got_rows) >= len(batch_rows) - n_users
    assert len(got_rows) > 0
    # the profile is non-trivial on this corpus: multi-type sessions exist
    assert any(int(r[4]) > 1 for r in got_rows)


def test_tws_session_trace_matches_batch(spark, event_inbox, tmp_path):
    """ListState-based session EVENT TRACE on transformWithStateInPandas
    (the third named-state leg after ValueState and MapState) vs its
    batch twin: every emitted trace is a batch trace; at most one
    still-open session per user withheld. Live-exercises the ListState
    worker protocol (appendList + the paginated list-get responses) over
    the vendored protobuf runtime."""
    from etl_process_spark.streaming.stateful import (
        session_trace_batch,
        session_trace_stream_tws,
    )
    from etl_process_spark.vendor import ensure_protobuf

    assert ensure_protobuf(), "vendored protobuf failed to activate"
    stream = read_event_stream(spark, event_inbox, max_files_per_trigger=1)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = _run_stream(
            spark, session_trace_stream_tws(stream, gap_seconds=1800),
            tmp_path, "tws_session_trace",
        )
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    batch = session_trace_batch(tbl(spark, SF_DIR, "events"), gap_seconds=1800)
    cols = ["user_id", "session_start", "n_events", "first_event_id",
            "last_event_id", "id_checksum"]
    got_rows = _canon(got, cols)
    batch_rows = _canon(batch, cols)
    assert set(got_rows) <= set(batch_rows)
    n_users = tbl(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert len(set(batch_rows) - set(got_rows)) <= n_users
    assert len(got_rows) >= len(batch_rows) - n_users
    assert len(got_rows) > 0
    assert any(int(r[2]) > 2 for r in got_rows)  # multi-event traces exist


def test_tws_warm_start_from_backfilled_state(spark, tmp_path):
    """Warm-start cutover: bootstrap the TWS sessionizer's state from a
    batch backfill (open_sessions_state over history), then stream ONLY
    the live half. Contract vs the all-data batch run:

    * nothing history-internal is re-emitted (those sessions closed
      before the cutover and the stream never saw them),
    * every emitted session is a true session of the FULL timeline —
      including bridge sessions that START in history and end in live,
      which are only correct if the initial state actually took,
    * at most one still-open session per user is withheld.
    """
    import os
    import time as _time

    from etl_process_spark.streaming.stateful import (
        open_sessions_state,
        sessionize_batch,
        sessionize_stream_tws,
    )
    from etl_process_spark.vendor import ensure_protobuf

    assert ensure_protobuf(), "vendored protobuf failed to activate"
    ev = tbl(spark, SF_DIR, "events")
    cutoff = ev.select(
        F.percentile_approx("ts", 0.4, 10000).alias("c")
    ).first()["c"]
    history = ev.filter(F.col("ts") <= F.lit(cutoff))
    live = ev.filter(F.col("ts") > F.lit(cutoff))

    # live half as a 2-file time-ordered inbox
    inbox = tmp_path / "live_inbox"
    inbox.mkdir()
    mid = live.select(
        F.percentile_approx("ts", 0.5, 10000).alias("m")
    ).first()["m"]
    parts = [
        live.filter(F.col("ts") <= F.lit(mid)),
        live.filter(F.col("ts") > F.lit(mid)),
    ]
    now = _time.time()
    for i, p in enumerate(parts):
        d = tmp_path / f"live_{i}"
        p.coalesce(1).write.parquet(str(d))
        src = next(d.glob("part-*.parquet"))
        dst = inbox / f"events_{i}.parquet"
        src.rename(dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))

    init = open_sessions_state(history, gap_seconds=1800)
    stream = read_event_stream(spark, str(inbox), max_files_per_trigger=1)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = _run_stream(
            spark,
            sessionize_stream_tws(
                stream, gap_seconds=1800,
                initial_state=init.groupBy("user_id"),
            ),
            tmp_path, "tws_warm",
        )
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)

    cols = ["user_id", "session_start", "session_end", "n_events", "total_value_e4"]
    full_rows = set(_canon(sessionize_batch(ev, gap_seconds=1800), cols))
    hist = sessionize_batch(history, gap_seconds=1800)
    hist_rows = set(_canon(hist, cols))
    # history sessions other than each user's LAST are closed pre-cutover
    from pyspark.sql import Window

    lastw = Window.partitionBy("user_id").orderBy(F.desc("session_start"))
    hist_last = set(_canon(
        hist.withColumn("rn", F.row_number().over(lastw)).filter("rn = 1"),
        cols,
    ))
    history_only = hist_rows - hist_last
    got_rows = set(_canon(got, cols))

    assert got_rows & history_only == set(), "re-emitted pre-cutover sessions"
    expected = full_rows - history_only
    assert got_rows <= expected
    n_users = ev.select("user_id").distinct().count()
    assert len(expected - got_rows) <= n_users
    assert len(got_rows) > 0
    # the warm state did real work: at least one emitted BRIDGE session
    # starts at/before the cutover and was closed by live-time progress
    cutoff_s = str(cutoff)
    bridges = [r for r in got_rows if r[1] <= cutoff_s]
    assert bridges, "no bridge session crossed the cutover"


# ---------------------------------------------------------------------------
# TWS fault recovery: kill/restart from checkpoint mid-stream. RocksDB named
# state (ValueState / MapState / ListState) AND registered timers must
# recover, and the resumed stream must still match the batch twin.
# ---------------------------------------------------------------------------

_TWS_GAP = 43200  # 12h: wide enough that sessions span the restart boundary


@pytest.fixture(scope="module")
def tws_restart_corpus(spark, tmp_path_factory):
    """Two time-ordered phase files engineered so the restart is load-
    bearing:

    * phase 1 = events with ts <= B (the median event time);
    * phase 2 = events with ts > B, EXCLUDING one 'timer user' — a user
      whose phase-1 session is still open at the phase-1 watermark and
      who gets no phase-2 input, so their session can ONLY be emitted by
      a phase-1-registered timer firing after the restart;
    * at least one 'bridge user' keeps events on both sides of B within
      the gap, so their session is only correct if the named state
      recovered.

    Returns (phase1_file, phase2_file, streamed_parquet_dir, B,
    timer_user, max_ts).
    """
    base = tmp_path_factory.mktemp("tws_restart")
    ev = tbl(spark, SF_DIR, "events")
    B = ev.select(
        F.percentile_approx("ts", 0.5, 10000).alias("b")
    ).first()["b"]

    pre = ev.filter(F.col("ts") <= F.lit(B))
    post = ev.filter(F.col("ts") > F.lit(B))
    wm1 = pre.agg(F.max("ts")).first()[0]

    # per-user last pre-B / first post-B event times
    last_pre = {r["user_id"]: r["m"] for r in
                pre.groupBy("user_id").agg(F.max("ts").alias("m")).collect()}
    first_post = {r["user_id"]: r["m"] for r in
                  post.groupBy("user_id").agg(F.min("ts").alias("m")).collect()}

    def _sec(dt):
        import datetime
        return dt.replace(tzinfo=datetime.timezone.utc).timestamp()

    open_users = {u for u, m in last_pre.items()
                  if _sec(m) + _TWS_GAP > _sec(wm1)}
    bridge_users = {u for u, m in last_pre.items()
                    if u in first_post
                    and _sec(first_post[u]) - _sec(m) < _TWS_GAP}
    timer_candidates = sorted(
        u for u in open_users - bridge_users
        if u not in first_post
        or _sec(first_post[u]) - _sec(last_pre[u]) >= _TWS_GAP
    )
    assert bridge_users, "corpus must yield a session spanning the restart"
    assert timer_candidates, "corpus must yield a pure-timer user"
    timer_user = timer_candidates[0]

    streamed = pre.unionByName(
        post.filter(F.col("user_id") != F.lit(timer_user))
    )
    streamed_dir = base / "streamed"
    streamed.write.parquet(str(streamed_dir))

    import os
    import time as _time

    now = _time.time()
    files = []
    for i, part in enumerate(
        [pre, post.filter(F.col("user_id") != F.lit(timer_user))]
    ):
        d = base / f"phase_{i}"
        part.coalesce(1).write.parquet(str(d))
        src = next(d.glob("part-*.parquet"))
        dst = base / f"events_{i}.parquet"
        src.rename(dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
        files.append(str(dst))

    max_ts = streamed.agg(F.max("ts")).first()[0]
    return files[0], files[1], str(streamed_dir), B, timer_user, max_ts


def _tws_leg(leg):
    """(stream builder, batch twin, output cols) for one named-state leg."""
    from etl_process_spark.streaming.stateful import (
        session_trace_batch,
        session_trace_stream_tws,
        session_type_profile_batch,
        session_type_profile_stream_tws,
        sessionize_batch,
        sessionize_stream,
        sessionize_stream_tws,
    )

    return {
        "value_state": (
            sessionize_stream_tws, sessionize_batch,
            ["user_id", "session_start", "session_end", "n_events",
             "total_value_e4"],
        ),
        # the LEGACY applyInPandasWithState sessionizer: same semantics
        # as value_state, but a different operator, state encoding (one
        # tuple + a single timeout slot instead of named RocksDB state +
        # registered timers) and state-store recovery path (HDFS-backed
        # provider, pinned in the test)
        "legacy_value_state": (
            sessionize_stream, sessionize_batch,
            ["user_id", "session_start", "session_end", "n_events",
             "total_value_e4"],
        ),
        "map_state": (
            session_type_profile_stream_tws, session_type_profile_batch,
            ["user_id", "session_start", "session_end", "n_events",
             "n_types", "top_type", "top_type_n"],
        ),
        "list_state": (
            session_trace_stream_tws, session_trace_batch,
            ["user_id", "session_start", "n_events", "first_event_id",
             "last_event_id", "id_checksum"],
        ),
    }[leg]


@pytest.mark.parametrize(
    "leg", ["value_state", "map_state", "list_state", "legacy_value_state"]
)
def test_tws_restart_recovers_state_and_timers(
    spark, tws_restart_corpus, tmp_path, leg
):
    """Kill/restart each stateful query from its checkpoint mid-stream.
    Phase 1 streams the first half and terminates (availableNow);
    phase 2 adds the second half and restarts the SAME query
    (checkpoint + sink). The resumed run must:

    * re-emit nothing (exactly-once across the restart),
    * stay a subset of the batch twin over the streamed corpus,
    * emit the BRIDGE sessions that start before the restart boundary
      and end after it — only possible if the state recovered (RocksDB
      named ValueState / MapState / ListState for the TWS legs; the
      HDFS-backed store's single state tuple for the legacy
      applyInPandasWithState leg), and
    * emit the TIMER USER's session, for which phase 2 carries ZERO
      input rows — only possible if the phase-1-registered event-time
      timer (TWS) / timeout timestamp (legacy) survived the restart and
      fired on watermark advance.
    """
    import os
    import shutil

    from etl_process_spark.vendor import ensure_protobuf

    assert ensure_protobuf(), "vendored protobuf failed to activate"
    f1, f2, streamed_dir, B, timer_user, max_ts = tws_restart_corpus
    stream_fn, batch_fn, cols = _tws_leg(leg)

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    shutil.copy2(f1, inbox / os.path.basename(f1))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    # the legacy leg pins the DEFAULT HDFS-backed provider explicitly —
    # its snapshot+delta recovery path is different code from RocksDB's
    # checkpoint load, and is exactly what that leg exists to prove
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        + ("HDFSBackedStateStoreProvider" if leg == "legacy_value_state"
           else "RocksDBStateStoreProvider"),
    )

    def run_phase():
        stream = read_event_stream(spark, str(inbox), max_files_per_trigger=1)
        q = (
            stream_fn(stream, gap_seconds=_TWS_GAP)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out_dir)

    try:
        phase1_rows = set(_canon(run_phase(), cols))
        # phase 2: second half arrives; restart from the same checkpoint
        shutil.copy2(f2, inbox / os.path.basename(f2))
        final = run_phase()
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)

    got_rows = set(_canon(final, cols))
    # exactly-once across the restart: no row lands twice
    assert final.count() == len(got_rows)
    assert phase1_rows <= got_rows, "restart lost phase-1 emissions"

    streamed = spark.read.parquet(streamed_dir)
    batch = batch_fn(streamed, gap_seconds=_TWS_GAP)
    batch_rows = set(_canon(batch, cols))
    assert got_rows <= batch_rows, "stream emitted a non-batch session"
    n_users = streamed.select("user_id").distinct().count()
    assert len(batch_rows - got_rows) <= n_users
    assert len(got_rows) >= len(batch_rows) - n_users

    # identify sessions by (user_id, session_start) — present in every leg
    from etl_process_spark.streaming.stateful import sessionize_batch

    sess = sessionize_batch(streamed, gap_seconds=_TWS_GAP)
    got_keys = {(r[0], r[1]) for r in got_rows}
    phase1_keys = {(r[0], r[1]) for r in phase1_rows}

    # bridge sessions: start at/before B, last event strictly after B,
    # strictly closable before the final watermark
    spanning = sess.filter(
        (F.col("session_start") <= F.lit(B))
        & (F.col("session_end") - F.expr(f"INTERVAL {_TWS_GAP} SECOND")
           > F.lit(B))
        & (F.col("session_end") < F.lit(max_ts))
    )
    span_keys = {(str(r["user_id"]), str(r["session_start"]))
                 for r in spanning.collect()}
    assert span_keys, "no bridge session spans the restart boundary"
    assert span_keys <= got_keys, (
        f"{leg}: bridge sessions lost across restart — named state did "
        f"not recover: {sorted(span_keys - got_keys)}"
    )
    assert not span_keys & phase1_keys, "bridge emitted before restart?"

    # the timer user's session: zero phase-2 input rows for the key, so
    # emission after the restart proves the registered timer recovered
    timer_sess = sess.filter(
        (F.col("user_id") == F.lit(timer_user))
        & (F.col("session_end") - F.expr(f"INTERVAL {_TWS_GAP} SECOND")
           > F.lit(B) - F.expr(f"INTERVAL {_TWS_GAP} SECOND"))
    )
    lastw = __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy(F.desc("session_start"))
    timer_last = (
        sess.filter(F.col("user_id") == F.lit(timer_user))
        .withColumn("rn", F.row_number().over(lastw))
        .filter("rn = 1")
    )
    [trow] = timer_last.collect()
    tkey = (str(trow["user_id"]), str(trow["session_start"]))
    assert tkey not in phase1_keys, (
        "timer session closed before the restart — fixture invariant broken"
    )
    assert tkey in got_keys, (
        f"{leg}: timer user's session never emitted — registered timer "
        "did not survive the restart"
    )


# ---------------------------------------------------------------------------
# foreachBatch family: kill/restart + FORCED EPOCH REPLAY from checkpoint
# ---------------------------------------------------------------------------
# The TWS trio's restart proof (above) covers the state-store path; the
# foreachBatch family (streaming SCD2, streaming LSH dedup, trending
# top-k) rides on sink idempotence instead — set-semantics appends and
# atomic catalog pointer swaps. These tests make the crash window REAL:
# after phase 1, the checkpoint's LAST COMMIT MARKER is deleted, which is
# exactly the on-disk state after a crash between the foreachBatch sink
# write and the offset commit. The restart then (a) replays that epoch
# with the same data and (b) continues into newly arrived files; the
# final sink must equal the sequential-batch reference — no double-apply,
# no duplicate rows, no lost data.


def _delete_last_commit(ckpt_dir) -> int:
    """Simulate a crash after sink write, before checkpoint commit."""
    from pathlib import Path

    commits = sorted(
        (p for p in (Path(ckpt_dir) / "commits").iterdir()
         if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    assert commits, "no commits recorded in phase 1"
    last = int(commits[-1].name)
    commits[-1].unlink()
    # the local ChecksumFs keeps a .<name>.crc sidecar; left behind it
    # blocks the replayed commit's rename-into-place
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    return last


def _staged_inbox(tmp_path, frames, name):
    """Write each frame as one parquet file; return (dir, [file paths])
    with mtimes in arrival order. Files are staged OUTSIDE the inbox and
    moved in per phase by the caller."""
    import os
    import time as _time

    staging = tmp_path / f"{name}_staging"
    staging.mkdir()
    now = _time.time()
    files = []
    for i, frame in enumerate(frames):
        d = tmp_path / f"{name}_chunk_{i}"
        frame.coalesce(1).write.parquet(str(d))
        src = next(d.glob("part-*.parquet"))
        dst = staging / f"{name}_{i}.parquet"
        src.rename(dst)
        os.utime(dst, (now + 10 * i,) * 2)
        files.append(dst)
    inbox = tmp_path / f"{name}_inbox"
    inbox.mkdir()
    return inbox, files


def _query_id(ckpt) -> str:
    """The streaming query's persistent id, as its checkpoint stores it."""
    import json
    import os

    with open(os.path.join(ckpt, "metadata")) as fh:
        return json.load(fh)["id"]


def _txns(cat, table) -> dict:
    """Writer id -> last committed sequence number, from the live manifest."""
    return cat._read_pointer(table)["txns"]


def test_scd2_stream_replayed_epoch_is_idempotent(spark, event_inbox, tmp_path):
    """Streaming SCD2 across a kill + forced replay of the last epoch:
    the replayed micro-batch re-merges rows whose versions already
    exist; null-safe change detection must no-op, so the final history
    equals the sequential batch application of all chunks."""
    import os
    import shutil

    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.scd2_stream import run_scd2_stream, scd2_sink
    from etl_process_spark.streaming.sources import read_event_stream

    tracked = ["event_type", "value"]
    files = sorted(os.listdir(event_inbox))
    inbox = tmp_path / "scd2_inbox"
    inbox.mkdir()
    for f in files[:2]:
        shutil.copy2(os.path.join(event_inbox, f), inbox / f)

    cat = TableCatalog(spark, str(tmp_path / "wh_replay"))
    ckpt = str(tmp_path / "ckpt_scd2_replay")

    def run():
        stream = read_event_stream(spark, str(inbox), max_files_per_trigger=1)
        q = run_scd2_stream(
            stream, cat, "user_profile", "user_id", tracked, "ts",
            checkpoint=ckpt,
        )
        q.awaitTermination(300)

    run()  # phase 1: chunks 0,1 -> epochs 0,1
    v_after_phase1 = len(cat.versions("user_profile"))
    _delete_last_commit(ckpt)  # crash window: epoch 1 sink applied, commit lost
    shutil.copy2(os.path.join(event_inbox, files[2]), inbox / files[2])
    run()  # phase 2: REPLAYS epoch 1, then processes chunk 2

    batch_cat = TableCatalog(spark, str(tmp_path / "wh_replay_batch"))
    apply_batch = scd2_sink(batch_cat, "user_profile", "user_id", tracked, "ts")
    for i, f in enumerate(files):
        apply_batch(spark.read.parquet(os.path.join(event_inbox, f)), i)

    cols = ["user_id", "event_type", "value", "effective_from",
            "effective_to", "deleted_flg"]
    got = _canon(cat.read("user_profile"), cols)
    exp = _canon(batch_cat.read("user_profile"), cols)
    assert got == exp, "replayed SCD2 epoch double-applied a merge"
    assert len(got) > 0
    assert v_after_phase1 >= 2  # sanity: phase 1 really ran >1 epoch


def test_neardup_stream_replayed_epoch_is_idempotent(spark, tmp_path):
    """Streaming LSH dedup across a kill + forced replay: the replayed
    epoch's docs are already indexed, so the band index must not grow
    (no duplicate band rows — doubled bands double every future bucket
    probe) and the pairs table must stay the exact full-corpus pair
    set."""
    import shutil

    from pyspark.sql import types as T

    from etl_process_spark.operators.dedup import lsh_candidate_pairs
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.dedup_stream import (
        INDEX_TABLE,
        PAIRS_TABLE,
        run_neardup_stream,
    )
    from etl_process_spark.streaming.sources import read_event_stream

    docs = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") < 4).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(clones).cache()
    chunks = [all_docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    inbox, files = _staged_inbox(tmp_path, chunks, "docs")
    for f in files[:2]:
        shutil.copy2(f, inbox / f.name)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    cat = TableCatalog(spark, str(tmp_path / "neardup_replay_cat"))
    ckpt = str(tmp_path / "neardup_replay_ckpt")

    def run():
        stream = read_event_stream(
            spark, str(inbox), max_files_per_trigger=1, schema=schema
        )
        q = run_neardup_stream(stream, cat, "text", "doc_id", ckpt)
        q.awaitTermination(300)

    run()  # phase 1: chunks 0,1
    index_rows_phase1 = cat.read(INDEX_TABLE).count()
    _delete_last_commit(ckpt)
    shutil.copy2(files[2], inbox / files[2].name)
    run()  # phase 2: replays epoch 1, then chunk 2

    index = cat.read(INDEX_TABLE)
    # no duplicate band rows anywhere (the replay would have doubled
    # chunk 1's bands before the idempotence guard)
    assert index.count() == index.distinct().count()
    # index = exactly one row set per doc: equals a fresh full banding
    from etl_process_spark.operators.dedup import lsh_bands

    expected_index = lsh_bands(all_docs, "text", "doc_id")
    assert _canon(index, ["doc", "band", "bucket"]) == _canon(
        expected_index, ["doc", "band", "bucket"]
    )
    assert index_rows_phase1 < index.count()  # chunk 2 extended it

    got = {(r["doc_a"], r["doc_b"]) for r in cat.read(PAIRS_TABLE).collect()}
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(all_docs, "text", "doc_id").collect()
    }
    assert got == expected, "replayed epoch duplicated or lost pairs"
    assert any(b >= 10_000 for _, b in got)


def test_neardup_stream_fresh_checkpoint_lands_every_batch(spark, tmp_path):
    """Wipe the near-dup stream's checkpoint and stream new files under a
    fresh one at the same path: the new query is a new writer whose epoch
    ids restart at 0, and every one of its batches must land (a replay
    guard keyed by bare epoch id drops them as already committed)."""
    import shutil

    from pyspark.sql import types as T

    from etl_process_spark.operators.dedup import lsh_bands, lsh_candidate_pairs
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.dedup_stream import (
        INDEX_TABLE,
        PAIRS_TABLE,
        run_neardup_stream,
    )
    from etl_process_spark.streaming.sources import read_event_stream

    docs = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") < 4).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(clones).cache()
    chunks = [all_docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    inbox, files = _staged_inbox(tmp_path, chunks, "freshdocs")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    cat = TableCatalog(spark, str(tmp_path / "fresh_cat"))
    ckpt = str(tmp_path / "fresh_ckpt")

    def run(batch_files):
        for f in inbox.iterdir():
            f.unlink()
        for f in batch_files:
            shutil.copy2(f, inbox / f.name)
        stream = read_event_stream(
            spark, str(inbox), max_files_per_trigger=1, schema=schema
        )
        run_neardup_stream(stream, cat, "text", "doc_id", ckpt).awaitTermination(300)
        return _query_id(ckpt)

    first = run(files[:2])  # epochs 0, 1
    shutil.rmtree(ckpt)
    second = run(files[2:])  # epoch 0 again, of a new query
    assert second != first

    index = cat.read(INDEX_TABLE)
    assert index.count() == index.distinct().count()
    assert _canon(index, ["doc", "band", "bucket"]) == _canon(
        lsh_bands(all_docs, "text", "doc_id"), ["doc", "band", "bucket"]
    )
    got = {(r["doc_a"], r["doc_b"]) for r in cat.read(PAIRS_TABLE).collect()}
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(all_docs, "text", "doc_id").collect()
    }
    assert got == expected
    assert _txns(cat, INDEX_TABLE) == {first: 1, second: 0}


def test_trending_stream_replayed_epoch_is_idempotent(spark, event_inbox, tmp_path):
    """Trending top-k across a kill + forced replay: the per-epoch
    OVERWRITE sink rewrites the replayed epoch's directory instead of
    appending duplicates, so the final sink equals the batch reference
    exactly."""
    import os
    import shutil

    from etl_process_spark.streaming.sources import read_event_stream
    from etl_process_spark.streaming.windows import (
        read_trending,
        topk_per_window,
        trending_stream,
        tumbling_counts,
    )

    files = sorted(os.listdir(event_inbox))
    inbox = tmp_path / "trend_inbox"
    inbox.mkdir()
    for f in files[:2]:
        shutil.copy2(os.path.join(event_inbox, f), inbox / f)

    sink = str(tmp_path / "trend_replay_sink")
    ckpt = str(tmp_path / "trend_replay_ckpt")

    def run():
        stream = read_event_stream(spark, str(inbox), max_files_per_trigger=1)
        q = trending_stream(
            stream, sink, ckpt, k=2,
            window_duration="6 hours", watermark="0 seconds",
        )
        q.awaitTermination(300)

    run()
    _delete_last_commit(ckpt)
    shutil.copy2(os.path.join(event_inbox, files[2]), inbox / files[2])
    run()  # replays last phase-1 epoch, then chunk 2

    got = read_trending(spark, sink)
    ev = tbl(spark, SF_DIR, "events")
    batch = topk_per_window(
        tumbling_counts(ev, window_duration="6 hours", watermark=None), k=2
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    expected = batch.filter(F.col("window_end") <= F.lit(max_ts))
    cols = ["window_start", "window_end", "event_type", "n_events", "rnk"]
    assert _canon(got, cols) == _canon(expected, cols)
    # a replayed epoch appending (not overwriting) would duplicate rows
    assert got.count() == got.distinct().count()
    assert got.count() > 0


def test_neardup_stream_write_volume_is_per_batch(spark, tmp_path):
    """The streaming LSH sink must write O(batch) bytes per epoch: each
    epoch commits exactly one NEW log segment per table holding only the
    batch's rows, and every band/pair row is written exactly once across
    all segments. (The pre-r12 design unioned fresh bands into the full
    stored index and rewrote both tables per epoch — an O(corpus) write
    whose total across n epochs is quadratic in corpus size.)"""
    import os

    from pyspark.sql import types as T

    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.dedup_stream import (
        INDEX_TABLE,
        PAIRS_TABLE,
        run_neardup_stream,
    )
    from etl_process_spark.streaming.sources import read_event_stream

    docs = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") < 4).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(clones).cache()
    chunks = [all_docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    inbox, files = _staged_inbox(tmp_path, chunks, "voldocs")
    import shutil

    for f in files:
        shutil.copy2(f, inbox / f.name)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    cat = TableCatalog(spark, str(tmp_path / "vol_cat"))
    stream = read_event_stream(
        spark, str(inbox), max_files_per_trigger=1, schema=schema
    )
    ckpt = str(tmp_path / "vol_ckpt")
    q = run_neardup_stream(stream, cat, "text", "doc_id", ckpt)
    q.awaitTermination(300)

    # one committed append per non-empty epoch, for both tables
    assert len(cat._current_dirs(INDEX_TABLE)) == 3
    assert len(cat._current_dirs(PAIRS_TABLE)) == 3
    qid = _query_id(ckpt)
    assert _txns(cat, INDEX_TABLE) == {qid: 2}
    assert _txns(cat, PAIRS_TABLE) == {qid: 2}

    # every band row written exactly once: per-segment rows sum to the
    # final table (an O(corpus)-rewrite design re-writes earlier epochs'
    # rows into later segments, making the sum strictly larger)
    seg_rows = sum(
        spark.read.parquet(d).count()
        for d in cat._current_dirs(INDEX_TABLE)
    )
    assert seg_rows == cat.read(INDEX_TABLE).count()
    pair_seg_rows = sum(
        spark.read.parquet(d).count()
        for d in cat._current_dirs(PAIRS_TABLE)
    )
    assert pair_seg_rows == cat.read(PAIRS_TABLE).count()
    assert cat.read(PAIRS_TABLE).count() == cat.read(PAIRS_TABLE).distinct().count()

    # no O(corpus) rewrites happened alongside the appends: each version
    # directory holds only its epoch's rows (epoch i streamed chunk i)
    assert cat.versions(INDEX_TABLE) == [0, 1, 2]
    for i, d in enumerate(cat._current_dirs(INDEX_TABLE)):
        chunks_in_dir = {
            r["doc"] % 3 for r in spark.read.parquet(d).select("doc").distinct().collect()
        }
        assert chunks_in_dir == {i}

    # compaction folds the log to one dir and still acknowledges every
    # committed epoch (the replay guard)
    cat.compact(INDEX_TABLE)
    assert len(cat._current_dirs(INDEX_TABLE)) == 1
    assert _txns(cat, INDEX_TABLE) == {qid: 2}
    assert seg_rows == cat.read(INDEX_TABLE).count()

    # the streamed state equals a fresh full-corpus banding
    from etl_process_spark.operators.dedup import lsh_bands, lsh_candidate_pairs

    assert _canon(cat.read(INDEX_TABLE), ["doc", "band", "bucket"]) == _canon(
        lsh_bands(all_docs, "text", "doc_id"), ["doc", "band", "bucket"]
    )
    got = {(r["doc_a"], r["doc_b"]) for r in cat.read(PAIRS_TABLE).collect()}
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(all_docs, "text", "doc_id").collect()
    }
    assert got == expected
    assert os.path.isdir(str(tmp_path / "vol_cat"))


def test_neardup_sink_replay_after_partial_epoch_commit(spark, tmp_path):
    """Crash in the window BETWEEN the pairs-segment commit and the
    index-segment commit (the one non-atomic seam in the epoch): the
    replayed epoch must skip the committed pairs segment, re-derive
    identical bands (its docs are still un-indexed), and complete the
    index commit — final state equals an uninterrupted run exactly."""
    from etl_process_spark.operators.dedup import lsh_bands, lsh_candidate_pairs
    from etl_process_spark.sources.tables import TableCatalog
    from etl_process_spark.streaming.dedup_stream import (
        INDEX_TABLE,
        PAIRS_TABLE,
        neardup_sink,
    )

    docs = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") < 4).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    all_docs = docs.unionByName(clones).cache()
    batch0 = all_docs.filter(F.col("doc_id") % 2 == 0)
    batch1 = all_docs.filter(F.col("doc_id") % 2 == 1)

    class CrashAfterPairsCommit(TableCatalog):
        armed = False

        def append(self, name, df, txn=None):
            n = super().append(name, df, txn=txn)
            if self.armed and name == PAIRS_TABLE:
                raise RuntimeError("injected crash after pairs commit")
            return n

    cat = CrashAfterPairsCommit(spark, str(tmp_path / "crash_cat"))
    ckpt = tmp_path / "crash_ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text('{"id":"q1"}')  # the query id Spark would store
    sink = neardup_sink(cat, "text", "doc_id", str(ckpt))
    sink(batch0, 0)

    cat.armed = True
    try:
        sink(batch1, 1)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    # crashed mid-epoch: pairs epoch 1 committed, index epoch 1 not
    assert _txns(cat, PAIRS_TABLE) == {"q1": 1}
    assert _txns(cat, INDEX_TABLE) == {"q1": 0}

    cat.armed = False
    sink(batch1, 1)  # replay of the same epoch

    assert _txns(cat, INDEX_TABLE) == {"q1": 1}
    index = cat.read(INDEX_TABLE)
    assert index.count() == index.distinct().count()
    assert _canon(index, ["doc", "band", "bucket"]) == _canon(
        lsh_bands(all_docs, "text", "doc_id"), ["doc", "band", "bucket"]
    )
    got = {(r["doc_a"], r["doc_b"]) for r in cat.read(PAIRS_TABLE).collect()}
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(all_docs, "text", "doc_id").collect()
    }
    assert got == expected

    # and a full replay of an already-complete epoch is a strict no-op
    before = cat._current_dirs(INDEX_TABLE), cat._current_dirs(PAIRS_TABLE)
    sink(batch1, 1)
    assert (cat._current_dirs(INDEX_TABLE), cat._current_dirs(PAIRS_TABLE)) == before
