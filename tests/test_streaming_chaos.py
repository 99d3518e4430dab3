"""Failure-injection tests for the streaming fold's commit protocol
(streaming/ingest.py::fold_stream) — the claim its docstring argues
and the happy-path parity tests assume:

  * crash BEFORE the commit of batch b (the pointer swap never
    happens): neither the state nor the ledger moves, the replay folds
    batch b into the state of batch b-1, and the recovered state is
    bit-identical to a no-failure run;
  * crash AFTER batch b commits but BEFORE the source offsets do (the
    double-fire lane): the ledger already holds epoch b, so the replay
    of batch b is skipped — the lane where the grid's SUM merge would
    silently double-count if a replayed batch were ever folded again.

Chaos enters by patching `_Transaction._commit` for the commit that
records epoch 1, raising before or after the real commit — the exact
windows a real crash occupies, mirroring the raise-at-injection-point
idiom of tests/test_atomic_commit.py. Recovery is the REAL mechanism:
the restarted query resumes from the same checkpoint and Structured
Streaming replays the uncommitted batch with the same id and rows.
"""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse, _Transaction
from monzo_data_pipeline_spark.streaming import sketches as SSK


class Boom(RuntimeError):
    pass


def _state_rows(wh, table):
    df = wh.read(table)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def _epoch(wh, table):
    return wh.read(f"{table}_epoch").head()[0]


def _crash_on_epoch_1(monkeypatch, table, after_swap):
    """Fail ONCE, on the commit that records epoch 1 in ``table``'s
    ledger: before the pointer swap (crash mid-commit) or after it
    (crash after the commit, before the source offsets)."""
    commit = _Transaction._commit
    fired = []

    def flaky(txn):
        ledger = txn.tables.get(f"{table}_epoch", [])
        if fired or [txn.stats[d].get("epoch_id") for d in ledger] != [[1, 1]]:
            return commit(txn)
        fired.append(True)
        if after_swap:
            commit(txn)
        raise Boom("injected crash on batch 1")

    monkeypatch.setattr(_Transaction, "_commit", flaky)


def _run_with_chaos(spark, monkeypatch, start, drops, schema, wh, table, after_swap):
    """One chaos run: stream fails on batch 1, restart recovers."""

    def mk_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )

    with monkeypatch.context() as m:
        _crash_on_epoch_1(m, table, after_swap)
        q = start(mk_stream())
        with pytest.raises(StreamingQueryException):
            # the injected Boom surfaces as the query's terminal
            # exception; a timeout (False return) would fail
            # pytest.raises instead
            q.awaitTermination(180)
    if after_swap:
        # committed state, uncommitted offsets — the double-fire setup
        assert _epoch(wh, table) == 1
    else:
        # the failed commit left the state and ledger of batch 0
        assert _epoch(wh, table) == 0

    # recovery: same checkpoint, no patch — Structured Streaming
    # replays the failed batch (same id, same rows) and drains
    q2 = start(mk_stream())
    assert q2.awaitTermination(180), "recovery stream did not drain"
    return _state_rows(wh, table)


def _chaos_parity(spark, monkeypatch, tmp_path, base, name, start):
    """Reference (no-failure) state vs both chaos lanes, bit-exact.
    ``start(stream, wh, table, checkpoint_dir)`` starts the lane."""
    drops = str(tmp_path / f"{name}_drops")
    base.repartition(3).write.parquet(drops)
    schema = base.schema

    ref_wh = AtomicWarehouse(spark, str(tmp_path / f"{name}_ref_wh"))
    q = start(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops),
        ref_wh,
        name,
        str(tmp_path / f"{name}_ref_ckpt"),
    )
    assert q.awaitTermination(180), "reference stream did not drain"
    assert _epoch(ref_wh, name) >= 2  # real micro-batches
    want = _state_rows(ref_wh, name)

    for lane, after_swap in (("partial", False), ("doublefire", True)):
        wh = AtomicWarehouse(spark, str(tmp_path / f"{name}_{lane}_wh"))
        ckpt = str(tmp_path / f"{name}_{lane}_ckpt")
        got = _run_with_chaos(
            spark,
            monkeypatch,
            lambda s, w=wh, cp=ckpt: start(s, w, name, cp),
            drops,
            schema,
            wh,
            name,
            after_swap,
        )
        assert got == want, f"{name}/{lane}: recovered state diverged"


def test_grid_state_recovers_bit_exact_under_chaos(spark, sf_dir, tmp_path, monkeypatch):
    """The SUM lane — the one that genuinely depends on exactly-once
    batch replay (a double-merged batch would double every count)."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("v")
    )

    def start(stream, wh, table, ckpt):
        return SSK.stream_grid_state(stream, "v", wh, table, ckpt)

    _chaos_parity(spark, monkeypatch, tmp_path, base, "grid", start)


def test_hll_registers_recover_bit_exact_under_chaos(
    spark, sf_dir, tmp_path, monkeypatch
):
    events = load_table(spark, sf_dir, "events")
    base = events.select("user_id", "event_type").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )

    def start(stream, wh, table, ckpt):
        return SSK.stream_hll_registers(
            stream, "user_id", "event_type", wh, table, ckpt
        )

    _chaos_parity(spark, monkeypatch, tmp_path, base, "hll", start)


def test_bitmap_state_recovers_bit_exact_under_chaos(
    spark, sf_dir, tmp_path, monkeypatch
):
    events = load_table(spark, sf_dir, "events")
    base = events.select("event_type", "user_id").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )

    def start(stream, wh, table, ckpt):
        return SSK.stream_bitmap_state(
            stream, ["event_type"], "user_id", wh, table, ckpt
        )

    _chaos_parity(spark, monkeypatch, tmp_path, base, "bitmap", start)


def test_kmv_state_recovers_bit_exact_under_chaos(spark, sf_dir, tmp_path, monkeypatch):
    """The k-smallest lane: merge is idempotent AND exact, so both
    chaos lanes must land on the identical k-row state."""
    events = load_table(spark, sf_dir, "events")
    base = events.select("user_id").filter(F.col("user_id").isNotNull())

    def start(stream, wh, table, ckpt):
        return SSK.stream_kmv_state(stream, "user_id", wh, table, ckpt)

    _chaos_parity(spark, monkeypatch, tmp_path, base, "kmv", start)


def test_view_state_recovers_bit_exact_under_chaos(spark, sf_dir, tmp_path, monkeypatch):
    """The IVM SUM fold — like the grid lane, NOT idempotent, so this
    is the lane where recovery merging a replayed batch into its own
    prior output would silently double-count."""
    from monzo_data_pipeline_spark.streaming.views import stream_view_state

    events = load_table(spark, sf_dir, "events")
    base = events.select("event_type", "user_id").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("user_id").alias("s"),
        )

    def start(stream, wh, table, ckpt):
        return stream_view_state(
            stream, partial, ["event_type"], wh, table, ckpt
        )

    _chaos_parity(spark, monkeypatch, tmp_path, base, "view", start)


def test_ares_sample_recovers_bit_exact_under_chaos(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r10, the weighted-reservoir lane: like KMV the merge is
    idempotent AND exact (priorities are pure functions of (key,
    weight)), so both chaos lanes must land on the identical n-row
    reservoir."""
    events = load_table(spark, sf_dir, "events")
    base = events.select("user_id", "event_id").filter(
        F.col("user_id").isNotNull()
    ).select(
        "event_id",
        (F.pmod(F.col("user_id"), F.lit(50)) + 1).alias("w"),
    )

    def start(stream, wh, table, ckpt):
        return SSK.stream_ares_sample(
            stream, "event_id", "w", wh, table, ckpt, n=32
        )

    _chaos_parity(spark, monkeypatch, tmp_path, base, "ares", start)
