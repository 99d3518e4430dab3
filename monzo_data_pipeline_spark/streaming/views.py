"""Incremental JOIN-VIEW maintenance over streams — pipeline/ivm.py's
fold running under Structured Streaming, with the same commit
protocol as streaming/sketches.py: a `streaming.ingest.fold_stream`
over one warehouse table and its one-row epoch ledger.

Each micro-batch of fact rows is partial-aggregated (optionally after
an enrichment join the caller bakes into ``partial_fn``), then merged
into the committed view state by UNION + per-key SUM
(`ivm.merge_agg_state`). Like the quantile-grid lane — and unlike the
HLL/bitmap/KMV lanes — the SUM fold is NOT idempotent, so correctness
under crash/replay rests on the ledger: the state and the epoch it
has folded commit together, and a replayed epoch at or below the
ledger's is skipped (chaos-tested in tests/test_streaming_chaos.py).

At 100 TB this is the materialized-view maintenance loop: state size
is bounded by the view's group-key domain, never by stream history,
and the committed state answers the view over every row absorbed so
far.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
from monzo_data_pipeline_spark.pipeline.ivm import merge_agg_state
from monzo_data_pipeline_spark.streaming.ingest import fold_stream


def stream_view_state(
    stream: DataFrame,
    partial_fn: Callable[[DataFrame], DataFrame],
    keys: list[str],
    wh: AtomicWarehouse,
    table: str,
    checkpoint_dir: str,
):
    """Maintain an aggregated (join-)view in warehouse ``table``
    incrementally over a stream.

    ``partial_fn`` maps one micro-batch of fact rows to its partial
    aggregate at the view's grain (do any dim enrichment inside it —
    a batch-sized delta broadcast-joins dims cheaply). Returns the
    started StreamingQuery (availableNow trigger); read the view with
    ``wh.read(table)``.
    """

    def fold(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        return merge_agg_state(prev, partial_fn(batch), keys)

    return fold_stream(stream, wh, table, fold, checkpoint_dir)
