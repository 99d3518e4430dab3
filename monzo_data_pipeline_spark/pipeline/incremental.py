"""Incremental gold maintenance: mergeable partial-aggregate state.

`build_gold` (medallion.py) without a delta rebuilds gold from ALL
of silver each run — correct, and fine at reference scale (≤200 new
rows/run, /root/reference/src/utils/api/api_client.py:158), but at
100 TB a full-history rescan per incremental batch is the single worst
cost in the pipeline. The standard fix is the same trick Spark's own
partial aggregation uses inside one job, lifted to *between* jobs:
keep the gold table as mergeable STATE (per-group exact-decimal SUM +
COUNT — the algebraic decomposition of sum/avg), and fold each new
batch in:

    state ⊕ partial(batch)  →  re-agg over (|state| + |batch-groups|)
                               rows, never over full history

Cost per run: one partial agg over the new batch + one agg over the
(tiny) union of state and delta. The month-key count bounds the state
(~12 rows/year), so the merge side is effectively constant-size.

This decomposition works for every *algebraic* aggregate (sum, count,
avg, min, max, variance via power sums — see
operators/aggregates.py::algebraic_moments). Holistic aggregates
(exact median, exact distinct) do not decompose; their incremental
forms are the sketches in approx_aggregates (HLL++, KLL quantiles),
which are themselves mergeable state.

Exactness: state totals are DECIMAL (functions/deterministic.py), so
incremental and full-recompute gold are bit-identical regardless of
how history was batched — asserted by tests/test_incremental.py.
`build_gold(new_silver=...)`, which `atomic.run_pipeline_atomic`
calls, folds each run's new silver rows through this state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.deterministic import MONEY_DECIMAL
from .medallion import Warehouse

GOLD_STATE = "gold_monthly_state"


def partial_state(new_silver_rows: DataFrame) -> DataFrame:
    """Partial (map-side analog) aggregate of one batch: exact-decimal
    spend total + row count per (year, month). Spend = outflows,
    matching build_gold."""
    return (
        new_silver_rows.filter(F.col("amount") < 0)
        .groupBy(
            F.year("created").alias("year"),
            F.month("created").alias("month"),
        )
        .agg(
            F.sum((-F.col("amount")).cast(MONEY_DECIMAL)).alias("total_dec"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def merge_gold_state(wh: Warehouse, new_silver_rows: DataFrame) -> None:
    """Fold a new silver batch into the gold state (state ⊕ delta).

    DECIMAL sums are associative/commutative, so any batching of
    history folds to the same state.
    """
    delta = partial_state(new_silver_rows)
    if wh.exists(GOLD_STATE):
        state = wh.read(GOLD_STATE)
        merged = (
            state.unionByName(delta)
            .groupBy("year", "month")
            .agg(
                F.sum("total_dec").alias("total_dec"),
                F.sum("n").alias("n"),
            )
        )
        # state is read and rewritten in one job; persist decouples the
        # read from the overwrite (same pattern as medallion._merge_append)
        merged = merged.persist()
        try:
            merged.count()
            wh.overwrite(merged, GOLD_STATE)
        finally:
            merged.unpersist()
    else:
        wh.overwrite(delta, GOLD_STATE)


def gold_from_state(wh: Warehouse) -> DataFrame:
    """Finalize: state → exactly the schema build_gold materializes
    (total_spend as its exact decimal sum, avg_spend as that sum in
    double ÷ count)."""
    # build_gold's SUM over MONEY_DECIMAL is decimal(28,2) (Spark widens
    # a decimal sum's precision by 10); folded state sums widen further,
    # so the total is cast back
    total = F.col("total_dec").cast("decimal(28,2)")
    return wh.read(GOLD_STATE).select(
        "year",
        "month",
        total.alias("total_spend"),
        (total.cast("double") / F.col("n")).alias("avg_spend"),
    )
