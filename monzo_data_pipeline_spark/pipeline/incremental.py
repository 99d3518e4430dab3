"""Incremental gold maintenance: mergeable partial-aggregate state.

Gold is never rebuilt from all of silver. A full-history rescan per
incremental batch would be the single worst cost of the pipeline at
100 TB, while the reference adds ≤200 rows a run (its
src/utils/api/api_client.py:158). The standard fix is
the same trick Spark's own partial aggregation uses inside one job,
lifted to *between* jobs: keep the gold table as mergeable STATE
(per-group exact-decimal SUM + COUNT — the algebraic decomposition of
sum/avg), and fold each new batch in:

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
folded gold is bit-identical to an exact-decimal full recompute
regardless of how history was batched — asserted by
tests/test_incremental.py and tests/test_pipeline.py.

Writers: `medallion.build_gold` (inside `atomic.run_pipeline_atomic`'s
transaction) and `streaming.ingest.stream_silver_to_gold` (one
`fold_stream` transaction per micro-batch, with its epoch ledger).
Both overwrite the state with `merge_gold_state(state, rows)` through
an `AtomicWarehouse` transaction, where an overwrite lands in a fresh
data directory: the state is read from the old directory while the
new one is written, so the fold needs no persist or count job.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from ..functions.deterministic import MONEY_DECIMAL
from .ivm import merge_agg_state

if TYPE_CHECKING:
    from .atomic import AtomicWarehouse, _Transaction

GOLD_STATE = "gold_monthly_state"


def partial_state(new_silver_rows: DataFrame) -> DataFrame:
    """Partial (map-side analog) aggregate of one batch: exact-decimal
    spend total + row count per (year, month). Spend = outflows
    (amount < 0), as in create_gold_layer.sql."""
    return (
        new_silver_rows.filter("amount < 0")
        .groupBy(F.expr("year(created) AS year"), F.expr("month(created) AS month"))
        .agg(
            F.expr(f"sum(CAST(-amount AS {MONEY_DECIMAL})) AS total_dec"),
            F.expr("count(1) AS n"),
        )
    )


def merge_gold_state(
    state: DataFrame | None, new_silver_rows: DataFrame
) -> DataFrame:
    """Fold a new silver batch into the gold state (state ⊕ delta) and
    return the new state; ``state`` is None before the first batch.
    The `ivm.merge_agg_state` law over (year, month): DECIMAL sums are
    associative/commutative, so any batching of history folds to the
    same state, and ``total_dec`` keeps its decimal(28,2) type.
    """
    return merge_agg_state(state, partial_state(new_silver_rows), ["year", "month"])


def gold_from_state(wh: AtomicWarehouse | _Transaction) -> DataFrame:
    """Finalize: state → gold_monthly_spending (total_spend as the
    exact decimal sum, avg_spend as that sum in double ÷ count)."""
    # a full recompute's SUM over silver's decimal(18,2) amounts is
    # decimal(28,2) (Spark widens a decimal sum's precision by 10); the
    # cast pins that type for a state stored with wider sums too
    total = "CAST(total_dec AS DECIMAL(28,2))"
    return wh.read(GOLD_STATE).selectExpr(
        "year",
        "month",
        f"{total} AS total_spend",
        f"CAST({total} AS DOUBLE) / n AS avg_spend",
    )
