"""Streaming ingestion into the medallion warehouse — foreachBatch.

The reference's EventBridge-cron → Lambda → bronze loop
(/root/reference/README.md:3, main.py:19-85) is exactly Spark's
incremental-batch pattern: a file/queue source streamed with
Trigger.AvailableNow, each micro-batch merged idempotently into
bronze via the same left-anti merge the batch path uses
(pipeline/medallion.load_bronze). One code path for batch AND
streaming loads — the unified-API payoff.

Exactly-once posture: load_bronze's anti-join makes replayed
micro-batches no-ops (id-level idempotence), so restart/replay
semantics don't depend on sink transactionality. The gold-state fold
is not idempotent, so `stream_silver_to_gold` commits each fold
together with its epoch-ledger row in one `AtomicWarehouse`
transaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..pipeline.atomic import AtomicWarehouse
from ..pipeline.medallion import load_bronze
from ..session import local_frame


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
    from a stream of silver rows.

    Unlike the bronze merge, a state⊕delta fold is NOT naturally
    idempotent — re-folding a delivered batch double-counts. The
    checkpoint gives exactly-once per checkpoint lineage; to survive a
    checkpoint LOSS (full replay) the sink keeps its own epoch ledger
    (`gold_epochs` table) and skips epochs it has already folded — the
    standard transactional-foreachBatch pattern, valid because a
    deterministic file source re-forms identical micro-batches for
    identical epoch ids. The fold and its ledger row commit in one
    transaction, so a crash between them cannot leave an epoch folded
    but unrecorded (and folded again on replay).
    """
    from pyspark.sql import functions as F

    from ..pipeline.incremental import merge_gold_state

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if wh.exists("gold_epochs"):
            seen = {r["epoch_id"] for r in wh.read("gold_epochs").collect()}
            if epoch_id in seen:
                return
        ledger = local_frame(
            spark, [(int(epoch_id),)], "epoch_id long"
        ).withColumn("folded", F.lit(True))
        with wh.transaction() as txn:
            merge_gold_state(txn, batch_df)
            txn.append(ledger, "gold_epochs")

    return (
        silver_stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdc_apply(
    updates_stream: DataFrame,
    target_path: str,
    schema,
    keys: list[str],
    order_cols: list[str],
    checkpoint_dir: str,
):
    """Stream CDC correction batches onto a parquet target — the
    late-settling-transaction path (SURVEY §1.2) as a stream.

    Each micro-batch merges via version-aware `versioned_upsert`, so
    replayed or out-of-order batches converge to the same table (the
    reason foreachBatch-at-least-once is safe here without sink
    transactions). The merged result is materialized (localCheckpoint)
    before overwriting the path it was read from; on a lakehouse table
    this whole body is one MERGE INTO."""
    from ..operators.dedup import versioned_upsert
    from ..sources.io import read_parquet

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        target = read_parquet(spark, target_path, schema)
        merged = versioned_upsert(target, batch_df, keys, order_cols)
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(target_path)

    return (
        updates_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
