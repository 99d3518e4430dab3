"""Streaming ingestion into the medallion warehouse — foreachBatch.

The reference's EventBridge-cron → Lambda → bronze loop
(/root/reference/README.md:3, main.py:19-85) is exactly Spark's
incremental-batch pattern: a file/queue source streamed with
Trigger.AvailableNow, each micro-batch merged idempotently into
bronze via the same left-anti merge the batch path uses
(pipeline/medallion.load_bronze). One code path for batch AND
streaming loads — the unified-API payoff.

Exactly-once posture: load_bronze's anti-join makes replayed
micro-batches no-ops (id-level idempotence), so the bronze lane needs
no ledger. Every other stateful sink folds each micro-batch into a
warehouse table through `fold_stream`: one `AtomicWarehouse`
transaction per batch reads the previous state, overwrites it with
the fold and moves the table's one-row epoch ledger forward, so the
state and the record of what it holds become visible together.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..pipeline.atomic import AtomicWarehouse
from ..pipeline.medallion import load_bronze
from ..session import local_frame


def fold_stream(
    stream: DataFrame,
    wh: AtomicWarehouse,
    table: str,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
    checkpoint_dir: str,
):
    """Fold each micro-batch of ``stream`` into warehouse ``table``:
    ``table ← fold(prev, batch)``, ``prev`` being None on the first
    batch. Returns the started StreamingQuery (availableNow trigger:
    drains the current input, then stops).

    Each batch is one transaction. It reads the ledger table
    ``<table>_epoch`` (one row, ``epoch_id``: the highest epoch
    folded) and skips the batch when its epoch is not above it;
    otherwise it overwrites the state with the fold and the ledger
    row with the batch's epoch, both in one commit. The Delta
    ``txnAppId``/``txnVersion`` idea: epoch ids rise within a
    checkpoint, and a deterministic file source re-forms the same
    batches under the same ids on a fresh-checkpoint replay, so a
    crash anywhere (before the commit, or after it and before the
    source offsets commit) leaves every epoch folded exactly once.
    Superseded state and ledger dirs are unreferenced after the
    commit, and `AtomicWarehouse.vacuum` removes them."""
    ledger = f"{table}_epoch"

    def fold_batch(batch: DataFrame, epoch_id: int) -> None:
        with wh.transaction() as txn:
            if txn.exists(ledger) and epoch_id <= txn.read(ledger).head()[0]:
                return
            prev = txn.read(table) if txn.exists(table) else None
            txn.overwrite(fold(prev, batch), table)
            txn.overwrite(
                local_frame(batch.sparkSession, [(epoch_id,)], "epoch_id long"),
                ledger,
            )

    return (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_wire_to_bronze(
    wire_stream: DataFrame,
    wh: AtomicWarehouse,
    ingest_ts: str,
    checkpoint_dir: str,
):
    """Stream wire-format transaction batches into bronze, one commit
    per micro-batch. Returns the started StreamingQuery (caller awaits
    termination)."""
    from ..pipeline.ingest import flatten_bronze

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _, delta = load_bronze(wh, flatten_bronze(batch_df, ingest_ts))
        delta.unpersist()

    return (
        wire_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_silver_to_gold(
    silver_stream: DataFrame,
    wh: AtomicWarehouse,
    checkpoint_dir: str,
):
    """Maintain the incremental gold state (pipeline/incremental.py)
    from a stream of silver rows, with the fold `build_gold` uses
    (`merge_gold_state`).

    Unlike the bronze merge, a state⊕delta fold is NOT idempotent:
    re-folding a delivered batch double-counts. `fold_stream`'s epoch
    ledger skips every epoch already folded, also on a full replay
    after a checkpoint LOSS."""
    from ..pipeline.incremental import GOLD_STATE, merge_gold_state

    return fold_stream(silver_stream, wh, GOLD_STATE, merge_gold_state, checkpoint_dir)


def stream_cdc_apply(
    updates_stream: DataFrame,
    wh: AtomicWarehouse,
    table: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint_dir: str,
):
    """Stream CDC correction batches onto a warehouse table — the
    late-settling-transaction path (SURVEY §1.2) as a stream.

    Each micro-batch merges via version-aware `versioned_upsert`, so
    replayed or out-of-order batches converge to the same table. The
    merged table is staged in a fresh data dir and committed by
    `fold_stream`; a failed write leaves the previous table whole. On
    a lakehouse table this whole body is one MERGE INTO."""
    from ..operators.dedup import versioned_upsert

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        target = batch.limit(0) if prev is None else prev
        return versioned_upsert(target, batch, keys, order_cols)

    return fold_stream(updates_stream, wh, table, fold, checkpoint_dir)
