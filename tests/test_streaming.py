"""Streaming smoke tests (SURVEY.md §5 strategy #4): file-source
stream through the watermarked windowed agg; batch/stream parity; late
-data handling is exercised via watermark presence in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.streaming import windows as SW


@pytest.fixture()
def event_files(spark, sf_dir, tmp_path):
    """Re-materialize sf0.001 events as a 3-file drop directory
    (timestamp already µs-normalized by the catalog)."""
    path = str(tmp_path / "events_stream")
    load_table(spark, sf_dir, "events").repartition(3).write.parquet(path)
    return path


@pytest.fixture()
def wh(spark, tmp_path):
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

    return AtomicWarehouse(spark, str(tmp_path / "wh"))


def _epoch(wh, table):
    """The highest epoch `fold_stream` has folded into ``table``."""
    return wh.read(f"{table}_epoch").head()[0]


def test_stream_matches_batch(spark, sf_dir, event_files):
    events = load_table(spark, sf_dir, "events")
    batch_out = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in SW.windowed_event_counts(events).collect()
    }

    stream = SW.stream_events_from_files(spark, event_files, events.schema)
    assert stream.isStreaming
    windowed = SW.windowed_event_counts(stream)
    SW.run_stream_to_memory(windowed, "win_agg_test", timeout_sec=120)
    stream_out = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_agg_test").collect()
    }
    assert stream_out == batch_out
    assert len(stream_out) > 0


def test_watermark_in_streaming_plan(spark, sf_dir, event_files):
    events = load_table(spark, sf_dir, "events")
    stream = SW.stream_events_from_files(spark, event_files, events.schema)
    windowed = SW.windowed_event_counts(stream, watermark="10 minutes")
    # watermark node present → late rows beyond 10 min are dropped by the engine
    assert "EventTimeWatermark" in windowed._jdf.queryExecution().analyzed().toString()


def test_stateful_running_totals(spark, sf_dir, event_files):
    """applyInPandasWithState across micro-batches (1 file per trigger):
    the final per-user state must equal the batch groupBy totals."""
    from monzo_data_pipeline_spark.streaming.stateful import running_user_totals

    events = load_table(spark, sf_dir, "events")
    expected = {
        r.user_id: (r.n, round(r.total, 6))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    }

    stream = SW.stream_events_from_files(spark, event_files, events.schema)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"
    # update mode appends one row per (user, trigger); the LAST row per
    # user is the final state
    rows = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY n_events DESC) rn
            FROM stateful_totals
        ) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in rows}
    assert got == expected


def test_streaming_ingest_to_bronze_idempotent(spark, tmp_path):
    """foreachBatch micro-batches → idempotent bronze merge; replaying
    the same drops appends nothing (C6 meets A11)."""
    from datetime import datetime

    from monzo_data_pipeline_spark.pipeline import ingest as ING
    from monzo_data_pipeline_spark.pipeline import medallion as MED
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
    from monzo_data_pipeline_spark.streaming.ingest import stream_wire_to_bronze

    fetch = ING.make_fake_fetch(n_per_window=30, dup_every=10)
    windows = ING.cursor_windows(datetime(2025, 2, 1), datetime(2025, 2, 4), 24)
    wire = ING.fetch_transactions_distributed(spark, fetch, windows)
    drops = str(tmp_path / "wire_drops")
    wire.repartition(3).write.parquet(drops)

    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema(wire.schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    q = stream_wire_to_bronze(stream, wh, "2025-02-05T00:00:00", str(tmp_path / "ckpt1"))
    assert q.awaitTermination(120), "stream did not drain within 120s"
    n1 = wh.read(MED.BRONZE_TX).count()
    assert n1 > 0

    # replay with a FRESH checkpoint (worst case: all batches reprocessed)
    stream2 = (
        spark.readStream.schema(wire.schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    q2 = stream_wire_to_bronze(stream2, wh, "2025-03-01T00:00:00", str(tmp_path / "ckpt2"))
    assert q2.awaitTermination(120), "stream did not drain within 120s"
    assert wh.read(MED.BRONZE_TX).count() == n1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Behavioral late-data check: a row older than the watermark must
    NOT open its window. Micro-batches are sequenced explicitly with
    processAllAvailable between file drops."""
    from datetime import datetime

    drops = str(tmp_path / "late_drops")
    schema = "ts timestamp, user_id long, value double"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(drops)

    # batch 1: on-time rows at 10:00-10:04 → watermark advances to ~10:02
    write_batch(
        [(datetime(2024, 1, 1, 10, m), 1, 1.0) for m in range(5)], "b1"
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    windowed = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")  # append emits only watermark-finalized windows
        .start()
    )
    q.processAllAvailable()

    # batch 2: one VERY late row (09:00, far below watermark) + one row
    # at 10:10 that pushes the watermark past the 10:00 window
    write_batch(
        [(datetime(2024, 1, 1, 9, 0), 1, 1.0), (datetime(2024, 1, 1, 10, 10), 1, 1.0)],
        "b2",
    )
    q.processAllAvailable()
    # batch 3: advance watermark far enough to finalize everything live
    write_batch([(datetime(2024, 1, 1, 11, 0), 1, 1.0)], "b3")
    q.processAllAvailable()
    q.stop()

    out = {r.ws: r.n for r in spark.sql("SELECT * FROM late_test").collect()}
    assert out.get(datetime(2024, 1, 1, 10, 0)) == 5  # on-time window intact
    assert datetime(2024, 1, 1, 9, 0) not in out  # late row dropped, window never opened


def test_session_windows_batch(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    sessions = SW.sessionized_counts(events, gap="15 minutes").collect()
    assert len(sessions) > 0
    # sessions are per-user, non-overlapping, end > start
    assert all(r.session_end > r.session_start for r in sessions)
    total = sum(r.n_events for r in sessions)
    assert total == events.count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, event_files):
    from monzo_data_pipeline_spark.streaming import joins as SJ

    events = load_table(spark, sf_dir, "events")
    batch = SJ.attribute_purchases(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )
    batch_pairs = {(r.purchase_id, r.click_id, r.gap_seconds) for r in batch.collect()}

    stream = SW.stream_events_from_files(spark, event_files, events.schema)
    out = SJ.attribute_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        watermark="365 days",  # testdata spans weeks; keep every row joinable
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain within 180s"
    stream_pairs = {
        (r.purchase_id, r.click_id, r.gap_seconds)
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }
    assert stream_pairs == batch_pairs
    assert len(stream_pairs) > 0


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup: the same event_id re-delivered inside the
    watermark horizon must be emitted exactly once."""
    from datetime import datetime

    from monzo_data_pipeline_spark.streaming import joins as SJ

    drops = str(tmp_path / "dedup_drops")
    schema = "event_id long, ts timestamp, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(drops)

    write_batch([(1, datetime(2024, 1, 1, 10, 0), 1.0), (2, datetime(2024, 1, 1, 10, 1), 2.0)])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    deduped = SJ.dedup_stream_within_watermark(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddw_test")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # redelivery of event 1 (same id, inside watermark) + a new event 3
    write_batch([(1, datetime(2024, 1, 1, 10, 2), 1.0), (3, datetime(2024, 1, 1, 10, 3), 3.0)])
    q.processAllAvailable()
    q.stop()

    ids = [r.event_id for r in spark.sql("SELECT event_id FROM ddw_test").collect()]
    assert sorted(ids) == [1, 2, 3]  # exactly once each


_CDC_SCHEMA = "id long, val string, version long"


def _cdc_setup(spark, wh, tmp_path):
    """Seed `cdc_target` with two v1 rows and write two correction
    drops; returns the drops dir. The HIGHER version lands in the
    directory first, so listing order delivers it in the earlier
    micro-batch — the out-of-order case plain last-wins would
    regress."""
    wh.overwrite(
        spark.createDataFrame([(1, "one-v1", 1), (2, "two-v1", 1)], _CDC_SCHEMA),
        "cdc_target",
    )
    drops = str(tmp_path / "cdc_drops")
    spark.createDataFrame(
        [(1, "one-v3", 3), (3, "three-v1", 1)], _CDC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(drops)
    spark.createDataFrame(
        [(1, "one-v2", 2), (2, "two-v2", 2)], _CDC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(drops)
    return drops


def _cdc_apply(spark, wh, drops, checkpoint_dir):
    from pyspark.sql.types import _parse_datatype_string

    from monzo_data_pipeline_spark.streaming.ingest import stream_cdc_apply

    stream = (
        spark.readStream.schema(_parse_datatype_string(_CDC_SCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    return stream_cdc_apply(
        stream, wh, "cdc_target", keys=["id"], order_cols=["version"],
        checkpoint_dir=checkpoint_dir,
    )


def _cdc_rows(df):
    return {r["id"]: (r["val"], r["version"]) for r in df.collect()}


def _cdc_want(spark):
    """The batch versioned-upsert of the union of all corrections."""
    from monzo_data_pipeline_spark.operators.dedup import versioned_upsert

    return _cdc_rows(
        versioned_upsert(
            spark.createDataFrame([(1, "one-v1", 1), (2, "two-v1", 1)], _CDC_SCHEMA),
            spark.createDataFrame(
                [(1, "one-v3", 3), (3, "three-v1", 1), (1, "one-v2", 2), (2, "two-v2", 2)],
                _CDC_SCHEMA,
            ),
            keys=["id"],
            order_cols=["version"],
        )
    )


def test_stream_cdc_apply_converges_regardless_of_batch_order(spark, wh, tmp_path):
    """Version-aware CDC apply: streaming correction batches onto a
    warehouse table converges to the batch-upsert of their union, and
    an older replayed batch cannot regress a newer row."""
    drops = _cdc_setup(spark, wh, tmp_path)
    q = _cdc_apply(spark, wh, drops, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120), "stream did not drain within 120s"

    got = _cdc_rows(wh.read("cdc_target"))
    want = _cdc_want(spark)
    assert got == want == {
        1: ("one-v3", 3),
        2: ("two-v2", 2),
        3: ("three-v1", 1),
    }


def test_stream_cdc_apply_failed_write_keeps_target(spark, wh, tmp_path, monkeypatch):
    """Spark's overwrite deletes its output path before the write job
    runs, so a job failing mid-write leaves the path gone. The CDC
    target must survive that: the write lands in a staged dir that
    never commits, and the restart on the same checkpoint converges
    to the same table as a run without the failure."""
    import shutil

    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    drops = _cdc_setup(spark, wh, tmp_path)
    parquet = DataFrameWriter.parquet
    failed = []

    def failing(self, path, *args, **kwargs):
        if not failed:
            failed.append(path)
            shutil.rmtree(path, ignore_errors=True)
            raise OSError(f"write job failed: {path}")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(StreamingQueryException):
        _cdc_apply(spark, wh, drops, ckpt).awaitTermination(120)
    assert failed

    q = _cdc_apply(spark, wh, drops, ckpt)
    assert q.awaitTermination(120), "stream did not drain within 120s"
    assert _cdc_rows(wh.read("cdc_target")) == _cdc_want(spark)


def test_session_windows_stream_matches_batch(spark, sf_dir, event_files):
    """Session windows in STREAMING mode (the genuinely stateful merge
    path — MergingSessions with per-key state) must finalize to the
    batch result once the backlog drains. Complete output mode keeps
    every session in state, so the tail sessions inside the watermark
    emit too — exact parity."""
    events = load_table(spark, sf_dir, "events")
    batch_out = {
        (r.session_start, r.user_id): r.n_events
        for r in SW.sessionized_counts(events).collect()
    }

    stream = SW.stream_events_from_files(spark, event_files, events.schema)
    # parity needs every row admitted: the file drops are unordered in
    # event time, so a small watermark would drop most of each later
    # micro-batch (session state filters late input even in complete
    # mode). Late-drop behavior itself is pinned by
    # test_watermark_drops_late_rows.
    sess = SW.sessionized_counts(stream, watermark="90 days")
    SW.run_stream_to_memory(sess, "sess_stream_test", timeout_sec=120)
    stream_out = {
        (r.session_start, r.user_id): r.n_events
        for r in spark.sql("SELECT * FROM sess_stream_test").collect()
    }
    assert stream_out == batch_out
    assert len(stream_out) > 0


def test_stream_transition_counts_match_batch(spark, sf_dir, tmp_path):
    """Stateful streaming transitions == batch lead() transitions when
    micro-batches arrive chronologically (3 time-range files, 1 per
    trigger): the per-user last-event state bridges batch boundaries."""
    from monzo_data_pipeline_spark.operators.behavioral import transition_counts
    from monzo_data_pipeline_spark.streaming.stateful import (
        stream_transition_counts,
    )

    events = load_table(spark, sf_dir, "events")
    expected = {
        (r.from_type, r.to_type): r.n for r in transition_counts(events).collect()
    }

    # chronological drops: three sequential appends of ascending time
    # slices (the file source processes oldest-mtime first; a single
    # 3-part write gives the parts arbitrary relative mtimes)
    import time as _time

    from pyspark.sql import Window as W

    path = str(tmp_path / "chrono_events")
    rn = F.row_number().over(W.orderBy("ts", "event_id"))
    numbered = events.withColumn("__rn", rn)
    n = events.count()
    for k in range(3):
        lo, hi = k * n // 3, (k + 1) * n // 3
        numbered.filter((F.col("__rn") > lo) & (F.col("__rn") <= hi)).drop(
            "__rn"
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    stream = SW.stream_events_from_files(spark, path, events.schema)
    q = (
        stream_transition_counts(stream)
        .writeStream.format("memory")
        .queryName("transitions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain within 180s"
    got = {
        (r.from_type, r.to_type): r.total_n
        for r in spark.sql(
            "SELECT from_type, to_type, SUM(n) AS total_n "
            "FROM transitions_test GROUP BY 1, 2"
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_stateful_state_survives_restart_from_checkpoint(spark, sf_dir, tmp_path):
    """Exactly-once across process restarts: run the stateful
    transition stream over two drops with a real checkpoint dir, STOP,
    drop a third file, restart from the same checkpoint — the restored
    per-user state must bridge the stop/start boundary so the union of
    both runs' outputs equals the batch answer over all three drops."""
    import time as _time

    from pyspark.sql import Window as W

    from monzo_data_pipeline_spark.operators.behavioral import transition_counts
    from monzo_data_pipeline_spark.streaming.stateful import (
        stream_transition_counts,
    )

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt")
    rn = F.row_number().over(W.orderBy("ts", "event_id"))
    numbered = events.withColumn("__rn", rn)
    n = events.count()

    def drop_slice(k, parts=3):
        lo, hi = k * n // parts, (k + 1) * n // parts
        numbered.filter((F.col("__rn") > lo) & (F.col("__rn") <= hi)).drop(
            "__rn"
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)

    out_dir = str(tmp_path / "out")

    def run_once():
        # file sink (not memory): the memory sink cannot recover from a
        # checkpoint, which is the very property under test
        stream = SW.stream_events_from_files(spark, path, events.schema)
        q = (
            stream_transition_counts(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain within 180s"

    drop_slice(0)
    drop_slice(1)
    run_once()
    drop_slice(2)
    run_once()  # fresh query object, same checkpoint

    got = {
        (r.from_type, r.to_type): r.total_n
        for r in spark.read.parquet(out_dir)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("total_n"))
        .collect()
    }
    expected = {
        (r.from_type, r.to_type): r.n for r in transition_counts(events).collect()
    }
    assert got == expected


def test_stream_double_charge_flags_match_batch(spark, sf_dir, tmp_path):
    """Streaming duplicate-charge screen == the batch window twin when
    micro-batches arrive chronologically — including a double-tap whose
    two charges land in DIFFERENT triggers (the per-user last-purchase
    state bridges the boundary; a stateless per-batch lag would miss it)."""
    from monzo_data_pipeline_spark.operators.fin import double_charge_flags
    from monzo_data_pipeline_spark.streaming.stateful import (
        stream_double_charge_flags,
    )

    events = load_table(spark, sf_dir, "events")
    expected = {
        (r.user_id, r.event_id, r.gap_s)
        for r in double_charge_flags(events, max_gap_s=3600).collect()
    }
    assert expected, "fixture should contain at least one close purchase pair"

    import time as _time

    from pyspark.sql import Window as W

    purchases = events.filter(F.col("event_type") == "purchase")
    path = str(tmp_path / "chrono_purchases")
    rn = F.row_number().over(W.orderBy("ts", "event_id"))
    numbered = purchases.withColumn("__rn", rn)
    n = purchases.count()
    for k in range(3):
        lo, hi = k * n // 3, (k + 1) * n // 3
        numbered.filter((F.col("__rn") > lo) & (F.col("__rn") <= hi)).drop(
            "__rn"
        ).coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    stream = SW.stream_events_from_files(spark, path, events.schema)
    q = (
        stream_double_charge_flags(stream, max_gap_s=3600)
        .writeStream.format("memory")
        .queryName("double_charge_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain within 180s"
    got = {
        (r.user_id, r.event_id, r.gap_s)
        for r in spark.sql("SELECT * FROM double_charge_test").collect()
    }
    assert got == expected


def test_stream_grid_state_matches_batch(spark, sf_dir, wh, tmp_path):
    """r7: incremental quantile-grid maintenance over micro-batches —
    the persisted merged state must equal the one-shot batch cell
    table BIT-EXACTLY (mergeable-by-construction, operationally), and
    the estimates read from it must equal the batch estimates."""
    from monzo_data_pipeline_spark.operators import sketches as SK
    from monzo_data_pipeline_spark.streaming import sketches as SSK

    events = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    base = events.select(cents.alias("v"))

    drops = str(tmp_path / "grid_drops")
    base.repartition(3).write.parquet(drops)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = SSK.stream_grid_state(
        stream, "v", wh, "grid_state", str(tmp_path / "grid_ckpt")
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    # multiple micro-batches actually ran (1 file per trigger)
    assert _epoch(wh, "grid_state") >= 2

    final = wh.read("grid_state")
    batch_cells = SK.quantile_grid_cells(base, "v")
    got = sorted((r.cell, r.cnt) for r in final.collect())
    want = sorted((r.cell, r.cnt) for r in batch_cells.collect())
    assert got == want  # bit-exact state parity

    probs = [250_000, 500_000, 990_000]
    got_q = {
        r.p_ppm: r.est
        for r in SK.sketch_quantiles_from_cells(final, probs).collect()
    }
    want_q = {
        r.p_ppm: r.est for r in SK.sketch_quantiles(base, "v", probs).collect()
    }
    assert got_q == want_q and len(got_q) == 3


def test_stream_hll_registers_match_batch(spark, sf_dir, wh, tmp_path):
    """r7: grouped deterministic-HLL register state maintained over
    micro-batches (UNION+MAX merge) — final registers and estimates
    must equal the one-shot batch build bit-exactly."""
    from monzo_data_pipeline_spark.operators import sketches as SK
    from monzo_data_pipeline_spark.streaming import sketches as SSK

    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        "o_custkey",
    )
    drops = str(tmp_path / "hll_drops")
    orders.repartition(4).write.parquet(drops)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = SSK.stream_hll_registers(
        stream, "o_custkey", "order_month", wh, "hll_state",
        str(tmp_path / "hll_ckpt"),
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    final = wh.read("hll_state")
    want_regs = sorted(
        (r["__g"], r["__b"], r["reg"])
        for r in SK.hll_registers_by_group(
            orders, "o_custkey", "order_month"
        ).collect()
    )
    got_regs = sorted((r["__g"], r["__b"], r["reg"]) for r in final.collect())
    assert got_regs == want_regs  # bit-exact register parity

    got_est = {
        r.order_month: (r.buckets_seen, r.est_distinct)
        for r in SK.hll_estimate_from_registers(
            final, "order_month"
        ).collect()
    }
    want_est = {
        r.order_month: (r.buckets_seen, r.est_distinct)
        for r in SK.hll_deterministic_by_group(
            orders, "o_custkey", "order_month"
        ).collect()
    }
    assert got_est == want_est and len(got_est) > 10


def test_stream_bitmap_state_matches_batch(spark, sf_dir, wh, tmp_path):
    """r7: exact bitmap distinct state maintained over micro-batches
    (UNION + bitmap_or_agg) — final counts must equal both the
    one-shot bitmap build and plain countDistinct."""
    from monzo_data_pipeline_spark.operators import sketches as SK
    from monzo_data_pipeline_spark.streaming import sketches as SSK

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    drops = str(tmp_path / "bm_drops")
    events.repartition(3).write.parquet(drops)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = SSK.stream_bitmap_state(
        stream, ["event_type"], "user_id", wh, "bm_state",
        str(tmp_path / "bm_ckpt"),
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    final = wh.read("bm_state")
    got = {
        r.event_type: r.n_distinct
        for r in SK.bitmap_finalize(final, ["event_type"]).collect()
    }
    want = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(got) >= 3  # exact, not approximate


def test_streaming_image_decode_matches_batch(spark, sf_dir, tmp_path):
    """C5 × C6: the REAL image decoder runs unchanged inside a
    Structured Streaming pipeline — mapInPandas stages are
    trigger-agnostic, so decode stats from a file-source stream equal
    the batch run over the same payloads."""
    from monzo_data_pipeline_spark.ext import images as IMG

    docs = load_table(spark, sf_dir, "documents").limit(200)
    media = IMG.documents_as_images(docs)
    expected = {
        (r["media_id"], r["pix_sum"])
        for r in IMG.image_stats(media).collect()
    }

    path = str(tmp_path / "media_drops")
    media.coalesce(2).write.parquet(path)
    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        IMG.image_stats(stream)
        .writeStream.format("memory")
        .queryName("image_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not drain within 180s"
    got = {
        (r["media_id"], r["pix_sum"])
        for r in spark.sql("SELECT media_id, pix_sum FROM image_stream_test").collect()
    }
    assert got == expected


def test_stream_kmv_state_matches_batch(spark, sf_dir, wh, tmp_path):
    """r8: KMV distinct state maintained over micro-batches (union ∘
    distinct ∘ k-smallest merge) — the merge law is EXACT, so the
    maintained state must equal the one-shot batch build as a SET, and
    the finalized estimate row must match bit-exactly. Also theta-
    combines the maintained state against a batch-built state to prove
    the streaming path feeds intersection queries unchanged."""
    from monzo_data_pipeline_spark.operators import sketches as SK
    from monzo_data_pipeline_spark.streaming import sketches as SSK

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    drops = str(tmp_path / "kmv_drops")
    orders.repartition(3).write.parquet(drops)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = SSK.stream_kmv_state(
        stream, "o_custkey", wh, "kmv_state", str(tmp_path / "kmv_ckpt")
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    assert _epoch(wh, "kmv_state") >= 2

    final = wh.read("kmv_state")
    want_state = SK.kmv_state(orders, "o_custkey")
    assert sorted(r.h for r in final.collect()) == sorted(
        r.h for r in want_state.collect()
    )
    assert (
        SK.kmv_finalize(final).collect()
        == SK.kmv_finalize(want_state).collect()
    )

    # the maintained state is a drop-in theta operand
    other = SK.kmv_state(
        load_table(spark, sf_dir, "customer").select("c_custkey"),
        "c_custkey",
    )
    got = SK.theta_intersect(final, other).collect()
    want = SK.theta_intersect(want_state, other).collect()
    assert got == want


def test_stream_view_state_matches_batch(spark, sf_dir, wh, tmp_path):
    """r8: the IVM fold under Structured Streaming — a revenue view
    (per-custkey DECIMAL spend + order count, orders enriched inside
    the partial) maintained over micro-batches must equal the one-shot
    batch aggregate bit-exactly (DECIMAL sums re-associate over any
    batching)."""
    from monzo_data_pipeline_spark.streaming.views import stream_view_state

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("__p"),
    )

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.sum("__p").cast("decimal(28,2)").alias("spend_dec"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    drops = str(tmp_path / "view_drops")
    orders.repartition(4).write.parquet(drops)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = stream_view_state(
        stream, partial, ["o_custkey"], wh, "view_state",
        str(tmp_path / "view_ckpt"),
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    assert _epoch(wh, "view_state") >= 3

    got = {
        r.o_custkey: (str(r.spend_dec), r.n_orders)
        for r in wh.read("view_state").collect()
    }
    want = {
        r.o_custkey: (str(r.spend_dec), r.n_orders)
        for r in partial(orders).collect()
    }
    assert got == want


def test_stream_view_state_with_retractions_matches_batch(
    spark, sf_dir, wh, tmp_path
):
    """r8: counting-IVM deletes over a stream — batches carry an op
    multiplicity (+1 insert / −1 delete); the maintained state after
    the deletes equals the batch aggregate over the surviving rows,
    and fully-deleted groups sit at count 0 (filtered at finalize)."""
    from monzo_data_pipeline_spark.streaming.views import stream_view_state

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("__p"),
    )
    inserts = orders.withColumn("op", F.lit(1))
    deletes = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "op", F.lit(-1)
    )
    base = inserts.unionByName(deletes)

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.sum(F.col("__p") * F.col("op"))
            .cast("decimal(28,2)")
            .alias("spend_dec"),
            F.sum("op").cast("bigint").alias("n_orders"),
        )

    drops = str(tmp_path / "retract_drops")
    base.repartition(4).write.parquet(drops)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = stream_view_state(
        stream, partial, ["o_custkey"], wh, "retract_state",
        str(tmp_path / "retract_ckpt"),
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    survivors = orders.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "op", F.lit(1)
    )
    got = {
        r.o_custkey: (str(r.spend_dec), r.n_orders)
        for r in wh.read("retract_state")
        .filter("n_orders > 0")
        .collect()
    }
    want = {
        r.o_custkey: (str(r.spend_dec), r.n_orders)
        for r in partial(survivors).collect()
    }
    assert got == want


def test_stream_stream_join_state_evicts_at_watermark(spark, tmp_path):
    """r10: the interval join's CLEANUP contract, asserted — not just
    documented. Two properties over explicitly-sequenced
    micro-batches of hour-spaced click/purchase pairs:

      1. bounded state: the symmetric-hash-join state store REMOVES
         rows as the watermark passes them (numRowsRemoved > 0) and
         the resident row count PLATEAUS far below the total rows
         fed — on an unbounded stream this is the difference between
         finite memory and an OOM at 100 TB/day;
      2. late-beyond-watermark input is dropped: a click+purchase
         pair whose event time sits hours below the watermark
         produces NO join row, even though the pair would match.
    """
    from datetime import datetime, timedelta

    from monzo_data_pipeline_spark.streaming import joins as SJ

    drops = str(tmp_path / "ssj_evict")
    schema = (
        "ts timestamp, user_id long, event_id long, value double,"
        " event_type string"
    )
    base = datetime(2024, 1, 1, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(drops)

    def pair_at(hour, eid):
        t = base + timedelta(hours=hour)
        return [
            (t, 1, eid, 1.0, "click"),
            (t + timedelta(minutes=5), 1, eid + 1, 9.0, "purchase"),
        ]

    write_batch(pair_at(0, 100))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    out = SJ.attribute_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        max_gap_seconds=600,
        watermark="30 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_evict")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()

    state_totals, state_removed = [], []

    def snap_state():
        prog = q.lastProgress
        ops = prog["stateOperators"] if prog else []
        assert ops, "no state operator in progress"
        state_totals.append(sum(o["numRowsTotal"] for o in ops))
        state_removed.append(sum(o["numRowsRemoved"] for o in ops))

    n_batches = 8
    for h in range(1, n_batches):
        write_batch(pair_at(h, 100 + 10 * h))
        q.processAllAvailable()
        snap_state()

    # 1a. eviction actually happened
    assert sum(state_removed) > 0
    # 1b. plateau: the last batches hold no more state than the early
    # ones once the watermark is in steady advance — resident rows
    # must NOT grow with stream length
    assert state_totals[-1] <= max(state_totals[:3])
    # and resident state is a small fraction of everything ever fed
    assert state_totals[-1] < 2 * n_batches  # fed 2 rows/batch

    # 2. a pair 6+ hours below the watermark joins nowhere
    write_batch(pair_at(1, 900))  # watermark is ~hour 7 − 30 min
    q.processAllAvailable()
    # push one more on-time batch so any (wrong) result would flush
    write_batch(pair_at(n_batches, 100 + 10 * n_batches))
    q.processAllAvailable()
    q.stop()

    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssj_evict").collect()
    }
    assert (901, 900) not in got  # late pair dropped at the watermark
    # every on-time pair from the main sequence did join
    for h in range(0, n_batches - 1):
        assert (100 + 10 * h + 1, 100 + 10 * h) in got


def test_stream_ares_sample_matches_batch(spark, sf_dir, wh, tmp_path):
    """r10: A-ES weighted reservoir maintained over micro-batches
    (union ∘ distinct ∘ top-n merge — the KMV bottom-k law is EXACT),
    so the maintained reservoir must equal the one-shot batch build
    row-for-row: same keys, same weights, same priorities."""
    from monzo_data_pipeline_spark.operators import sketches as SK
    from monzo_data_pipeline_spark.streaming import sketches as SSK

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("w"),
    )
    drops = str(tmp_path / "ares_drops")
    orders.repartition(3).write.parquet(drops)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = SSK.stream_ares_sample(
        stream,
        "o_orderkey",
        "w",
        wh,
        "ares_state",
        str(tmp_path / "ares_ckpt"),
        n=64,
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"

    assert _epoch(wh, "ares_state") >= 2

    final = wh.read("ares_state")
    want = SK.weighted_sample_ares(orders, "o_orderkey", "w", n=64)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_fold_stream_keeps_one_state_dir_and_one_ledger_row(spark, wh, tmp_path):
    """However many micro-batches fold, the state table is one data
    dir and its epoch ledger one row; the superseded dirs are
    unreferenced, and `vacuum` leaves one dir per table."""
    import os

    from monzo_data_pipeline_spark.pipeline.ivm import merge_agg_state
    from monzo_data_pipeline_spark.streaming.ingest import fold_stream

    drops = str(tmp_path / "fold_drops")
    spark.range(0, 300).repartition(3).write.parquet(drops)
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )

    def fold(prev, batch):
        partial = batch.selectExpr("id % 3 AS k", "id").groupBy("k").agg(
            F.expr("count(1) AS n"), F.expr("sum(id) AS s")
        )
        return merge_agg_state(prev, partial, ["k"])

    q = fold_stream(stream, wh, "counts", fold, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120), "stream did not drain within 120s"

    assert _epoch(wh, "counts") >= 2
    tables = wh.manifest()["tables"]
    assert len(tables["counts"]) == 1
    assert len(tables["counts_epoch"]) == 1 and wh.rows("counts_epoch") == 1
    got = sorted((r.k, r.n, r.s) for r in wh.read("counts").collect())
    assert got == [(k, 100, sum(range(k, 300, 3))) for k in range(3)]

    wh.vacuum(min_age_seconds=0)
    for table in ("counts", "counts_epoch"):
        assert len(os.listdir(os.path.join(wh.root, table))) == 1
