"""Incremental sketch-state maintenance over streams — the proof that
the deterministic sketches' "mergeable by construction" claim holds
operationally: a stream that folds grid/register state micro-batch by
micro-batch and a batch job over the union of all inputs produce
BIT-IDENTICAL estimates (parity-tested in tests/test_streaming.py).

Every lane is a `streaming.ingest.fold_stream` over a warehouse
table. For each micro-batch it

  1. builds the batch's bounded sketch state (quantile-grid cells
     via `quantile_grid_cells`, or grouped-HLL registers via
     `hll_registers_by_group`) — one scan of the batch, state ≤
     ~3 810 cells (or ≤ m registers) per group BY CONSTRUCTION;
  2. merges it with the committed state (`merge_grid_cells` =
     UNION+SUM, `hll_merge_registers` = UNION+MAX, `bitmap_merge` =
     UNION+OR, `kmv_merge` = union∘distinct∘k-smallest);
  3. commits the merged state and the table's one-row epoch ledger
     in one `AtomicWarehouse` transaction.

The ledger makes recovery exactly-once: a batch that failed before
its commit left the previous state whole and is folded on replay; a
batch whose commit landed before the source offsets did is skipped
on replay, because its epoch is not above the ledger's. That matters
for the grid's SUM merge, which would double-count a batch folded
twice (the MAX/OR/k-smallest merges would absorb it). The table holds
one data dir whatever the stream's length; superseded dirs go to
`AtomicWarehouse.vacuum`. The reference's only persistent state is
its `since` cursor (/root/reference/src/utils/api/token_manager.py
pattern); this is the general mergeable-aggregate form at 100 TB:
state size is bounded by the sketch, never by the stream.

Estimates are read back (``wh.read(table)``) with the SAME finalizers
the batch queries use (`sketch_quantiles_from_cells`,
`hll_estimate_from_registers`), so stream==batch parity is
structural, not coincidental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from monzo_data_pipeline_spark.operators.sketches import (
    KMV_K,
    bitmap_merge,
    bitmap_state,
    hll_merge_registers,
    hll_registers_by_group,
    kmv_merge,
    kmv_state,
    merge_grid_cells,
    quantile_grid_cells,
)
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
from monzo_data_pipeline_spark.streaming.ingest import fold_stream


def stream_grid_state(
    stream: DataFrame,
    value_col: str,
    wh: AtomicWarehouse,
    table: str,
    checkpoint_dir: str,
    group_cols: list[str] | None = None,
):
    """Maintain quantile-grid cell state in warehouse ``table``
    incrementally over a stream.

    Returns the started StreamingQuery (availableNow trigger: drains
    the current input then stops — swap the trigger for a continuous
    deployment). The committed state answers quantile queries over
    every row absorbed so far, without rescanning them.
    """

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        cells = quantile_grid_cells(batch, value_col, group_cols)
        return merge_grid_cells(cells) if prev is None else merge_grid_cells(prev, cells)

    return fold_stream(stream, wh, table, fold, checkpoint_dir)


def stream_bitmap_state(
    stream: DataFrame,
    keys: list[str],
    int_col: str,
    wh: AtomicWarehouse,
    table: str,
    checkpoint_dir: str,
):
    """Maintain EXACT roaring-bitmap distinct state incrementally over
    a stream (UNION + bitmap_or_agg merge — idempotent like the HLL
    registers, but exact: the third mergeable-state lane, for when the
    keys are dense integers and exactness is required). Finalize with
    `operators.sketches.bitmap_finalize` on ``wh.read(table)``."""

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        st = bitmap_state(batch, keys, int_col)
        return st if prev is None else bitmap_merge(prev, st, keys=keys)

    return fold_stream(stream, wh, table, fold, checkpoint_dir)


def stream_hll_registers(
    stream: DataFrame,
    key_col: str,
    group_col: str,
    wh: AtomicWarehouse,
    table: str,
    checkpoint_dir: str,
):
    """Maintain grouped deterministic-HLL register state incrementally
    over a stream (UNION+MAX merge — idempotent, so even accidental
    double-processing of a batch cannot skew the estimate)."""

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        regs = hll_registers_by_group(batch, key_col, group_col)
        return regs if prev is None else hll_merge_registers(prev, regs)

    return fold_stream(stream, wh, table, fold, checkpoint_dir)


def stream_kmv_state(
    stream: DataFrame,
    key_col: str,
    wh: AtomicWarehouse,
    table: str,
    checkpoint_dir: str,
    k: int = KMV_K,
):
    """Maintain KMV/theta distinct state incrementally over a stream
    (union ∘ distinct ∘ k-smallest merge — idempotent AND exact as a
    merge law: the maintained state is bit-identical to the state a
    batch build over every absorbed row would produce, so the fourth
    lane's parity is state EQUALITY, not just estimate equality).
    Finalize with `operators.sketches.kmv_finalize`, or theta-combine
    two maintained states with `theta_intersect` — the streaming path
    to "how many users did BOTH things" without storing user sets."""

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        st = kmv_state(batch, key_col, k)
        return st if prev is None else kmv_merge(prev, st, k=k)

    return fold_stream(stream, wh, table, fold, checkpoint_dir)


def stream_ares_sample(
    stream: DataFrame,
    key_col: str,
    weight_col: str,
    wh: AtomicWarehouse,
    table: str,
    checkpoint_dir: str,
    n: int = 100,
):
    """Maintain an A-ES weighted reservoir incrementally over a
    stream (r10) — the fifth state lane: per micro-batch build the
    batch's n-row priority state (`weighted_sample_ares`) and merge it
    with the committed state (`ares_merge` = union ∘ distinct ∘
    top-n — the KMV bottom-k law, idempotent AND exact, so the
    maintained reservoir is bit-identical to the one a batch build
    over every absorbed row would produce).

    This is the streaming form of weight-proportional training-data
    sampling: the reservoir a mixture pipeline reads at any moment is
    a valid A-ES sample of everything the stream has carried."""
    from monzo_data_pipeline_spark.operators.sketches import (
        ares_merge,
        weighted_sample_ares,
    )

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        st = weighted_sample_ares(batch, key_col, weight_col, n=n)
        return st if prev is None else ares_merge(prev, st, n=n)

    return fold_stream(stream, wh, table, fold, checkpoint_dir)
