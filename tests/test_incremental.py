"""Incremental gold maintenance: state ⊕ delta must equal the
exact-decimal full recompute (the ``exact_gold`` fixture), bit-for-bit,
however history is batched."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.pipeline import incremental as INC
from monzo_data_pipeline_spark.pipeline import ingest as ING
from monzo_data_pipeline_spark.pipeline import medallion as MED
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse


@pytest.fixture()
def warehouse(spark, tmp_path):
    return AtomicWarehouse(spark, str(tmp_path / "wh"))


def _silver_batch(spark, start_day: int, n_windows: int, seed_tag: str):
    fetch = ING.make_fake_fetch(n_per_window=40, dup_every=10)
    windows = ING.cursor_windows(
        datetime(2025, 1, start_day),
        datetime(2025, 1, start_day + n_windows),
        window_hours=24,
    )
    wire = ING.fetch_transactions_distributed(spark, fetch, windows)
    bronze = ING.flatten_bronze(wire, ingest_ts=f"2025-02-01T00:00:0{seed_tag}")
    # project to the silver grain the gold agg reads: id, created, amount
    return bronze.select(
        "id",
        "created",
        (F.col("amount").cast("decimal(18,2)") / 100)
        .cast("decimal(18,2)")
        .alias("amount"),
    )


def _gold(df):
    """Schema and rows, uncast: incremental and full-recompute gold must
    agree on both (decimal total_spend, double avg_spend)."""
    return df.schema, sorted(map(tuple, df.collect()))


def _recomputed(wh, exact_gold, silver):
    """Gold recomputed from all of ``silver``, written and read back
    like the pipeline's gold table."""
    wh.overwrite(exact_gold(silver), MED.GOLD_MONTHLY)
    return _gold(wh.read(MED.GOLD_MONTHLY))


def _fold(wh, batch):
    """Fold ``batch`` into the warehouse's gold state, as `build_gold`
    does."""
    state = wh.read(INC.GOLD_STATE) if wh.exists(INC.GOLD_STATE) else None
    wh.overwrite(INC.merge_gold_state(state, batch), INC.GOLD_STATE)


def test_incremental_equals_full_recompute(spark, warehouse, exact_gold):
    b1 = _silver_batch(spark, 1, 3, "1")
    b2 = _silver_batch(spark, 4, 2, "2")
    b3 = _silver_batch(spark, 6, 4, "3")

    # incremental path: fold batch by batch
    for b in (b1, b2, b3):
        _fold(warehouse, b)
    incr = _gold(INC.gold_from_state(warehouse))

    # full-recompute path over the concatenated history
    full = _recomputed(warehouse, exact_gold, b1.unionByName(b2).unionByName(b3))

    assert incr == full
    assert len(incr[1]) > 0


def test_state_is_batching_invariant(spark, warehouse):
    """Folding (b1, b2) must equal folding (b1 ∪ b2) in one go."""
    b1 = _silver_batch(spark, 1, 2, "1")
    b2 = _silver_batch(spark, 3, 2, "2")

    wh_a = AtomicWarehouse(spark, warehouse.root + "_a")
    _fold(wh_a, b1)
    _fold(wh_a, b2)

    wh_b = AtomicWarehouse(spark, warehouse.root + "_b")
    _fold(wh_b, b1.unionByName(b2))

    assert _gold(INC.gold_from_state(wh_a)) == _gold(INC.gold_from_state(wh_b))


def _stream_gold(spark, wh, silver, tmp_path, ckpt):
    """Drain ``silver``'s parquet drops (one file per micro-batch)
    through `stream_silver_to_gold` under checkpoint ``ckpt``."""
    from monzo_data_pipeline_spark.streaming.ingest import stream_silver_to_gold

    stream = (
        spark.readStream.schema(silver.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "silver_drops"))
    )
    q = stream_silver_to_gold(stream, wh, str(tmp_path / ckpt))
    q.awaitTermination(120)


def _drops(spark, tmp_path):
    silver = _silver_batch(spark, 1, 4, "1").cache()
    silver.repartition(3).write.parquet(str(tmp_path / "silver_drops"))
    return silver


def test_streaming_gold_equals_batch_and_survives_replay(
    spark, warehouse, tmp_path, exact_gold
):
    """Silver rows streamed through foreachBatch fold to the same gold
    as a batch recompute; a full replay (fresh checkpoint, same files)
    folds nothing twice thanks to the epoch ledger."""
    silver = _drops(spark, tmp_path)
    _stream_gold(spark, warehouse, silver, tmp_path, "ckpt1")
    incr = _gold(INC.gold_from_state(warehouse))
    assert incr == _recomputed(warehouse, exact_gold, silver)

    # full replay with a fresh checkpoint: ledger skips every epoch
    _stream_gold(spark, warehouse, silver, tmp_path, "ckpt2")
    assert _gold(INC.gold_from_state(warehouse)) == incr


def test_streaming_gold_fold_commits_with_its_epoch(
    spark, warehouse, tmp_path, monkeypatch, exact_gold
):
    """The fold and its epoch-ledger row commit together: when
    recording an epoch fails, its fold does not land either, so the
    replay (fresh checkpoint) folds every epoch exactly once."""
    from monzo_data_pipeline_spark.pipeline import atomic

    silver = _drops(spark, tmp_path)
    overwrite = atomic._Transaction.overwrite
    failed = []

    def flaky(txn, df, table):
        if table == f"{INC.GOLD_STATE}_epoch" and not failed:
            failed.append(table)
            raise OSError("ledger write lost")
        return overwrite(txn, df, table)

    monkeypatch.setattr(atomic._Transaction, "overwrite", flaky)
    with pytest.raises(Exception):
        _stream_gold(spark, warehouse, silver, tmp_path, "ckpt1")
    assert failed

    _stream_gold(spark, warehouse, silver, tmp_path, "ckpt2")
    assert _gold(INC.gold_from_state(warehouse)) == _recomputed(
        warehouse, exact_gold, silver
    )
