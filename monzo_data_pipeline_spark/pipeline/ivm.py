"""Incremental view maintenance for JOIN views — the insert-only
delta rule, folded through mergeable aggregate state.

`pipeline/incremental.py` maintains SINGLE-TABLE algebraic aggregates
(the reference's gold layer recomputed-from-all-of-silver each run,
/root/reference/src/sql/create_gold_layer.sql). But a warehouse's
expensive views are JOINs and join-aggregates, and at 100 TB
"recompute the view" rescans the full fact history per batch. For
append-only relations — exactly the medallion model this pipeline
uses (bronze/silver only ever receive inserts; corrections arrive as
new versions handled by the SCD2/upsert operators) — the classic IVM
delta rule (Blakeley et al. 1986; DBToaster; Materialize) is exact:

    Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
    (B_new = B_old ∪ ΔB; equivalent to the symmetric three-term form
     ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, with one join fewer)

and an aggregated join view never materializes Δ(A⋈B) at all: the
delta rows partial-aggregate to per-group state (DECIMAL sums +
counts — the algebraic decomposition), which merges into the persisted
view state by UNION + re-SUM, the same fold `incremental.py` proved
for one table.

Scale shape: both delta joins BROADCAST the delta side, so the big
relations are never shuffled — per batch the cost is |Δ| × (scan of
the other side's join column stripe), and with the warehouse's
stat/bloom manifests the A_old ⋈ ΔB probe prunes to the files whose
key ranges intersect the delta. The view-state merge is bounded by
the group-key domain, never by history. Correctness is oracle-gated:
registry queries `ivm_join_delta` (the delta rule itself — Spark
computes Δ, DuckDB computes new-join-minus-old-join) and
`ivm_revenue_view` (a 3-batch incremental fold of the revenue view ==
the one-shot join-aggregate, bit-exact DECIMAL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.projection import quote_ident
from .atomic import AtomicWarehouse


def join_view_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Rows ADDED to the inner-join view A ⋈ B when ΔA and ΔB arrive
    (insert-only). Exact: new_join − old_join, computed without ever
    building either join. `on` is the shared equi-join column list.

    Plan: ΔA ⋈ (B_old ∪ ΔB) plus A_old ⋈ ΔB — the delta side of each
    join broadcasts (deltas are batch-sized by construction), so
    neither stored relation shuffles."""
    da = F.broadcast(a_delta) if broadcast_deltas else a_delta
    db = F.broadcast(b_delta) if broadcast_deltas else b_delta
    b_new = b_old.unionByName(b_delta)
    return da.join(b_new, on).unionByName(a_old.join(db, on))


def join_view_retraction(
    a_new: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Rows REMOVED from the inner-join view A ⋈ B when delete
    batches Δ⁻A and Δ⁻B arrive — the delete-side delta rule (the
    insert rule of `join_view_delta` with its proof obligation
    inverted):

        Δ⁻(A ⋈ B) = Δ⁻A ⋈ B_old  ∪  A_new ⋈ Δ⁻B
        (A_new = A_old ∖ Δ⁻A; the two terms are DISJOINT — the first
         covers every removed join pair whose A row was deleted, the
         second those whose A row survived but whose B row was
         deleted — so the union is exact, no inclusion-exclusion)

    This is the reference's corrections-arrive-later case (a bronze
    correction retracting already-loaded join rows — the `settled`
    column that arrives null and is later rewritten, SURVEY §1.2)
    generalized to a JOIN view. Both delete batches broadcast, so the
    stored relations never shuffle; for an aggregated view, fold
    `negate_partial(partial-aggregate(result))` into the view state
    (counting IVM) instead of materializing the row delta, and drop
    groups whose count reaches 0."""
    da = F.broadcast(a_delta) if broadcast_deltas else a_delta
    db = F.broadcast(b_delta) if broadcast_deltas else b_delta
    return da.join(b_old, on).unionByName(a_new.join(db, on))


def merge_agg_state(
    state: DataFrame | None, partial: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold one batch's partial aggregate into view state: UNION +
    per-key SUM of every non-key column (DECIMAL sums and BIGINT
    counts both merge by addition — the algebraic law
    `incremental.py` relies on), each sum cast back to the column's
    type so the state's schema holds fold after fold. Returns the new
    state; pass state=None for the first batch. Built as SQL text
    (session.py)."""
    merged = partial if state is None else state.unionByName(partial)
    return merged.groupBy(*keys).agg(
        *[
            F.expr(f"CAST(sum({quote_ident(c)}) AS {t}) AS {quote_ident(c)}")
            for c, t in merged.dtypes
            if c not in keys
        ]
    )


def maintain_view_state(
    wh: AtomicWarehouse, table: str, partial: DataFrame, keys: list[str]
) -> None:
    """Persisted fold: merge one batch's partial aggregate into the
    warehouse view-state table (create on first batch) with one
    `overwrite`. The merged state is written to a fresh data dir while
    the committed state it reads stays in place, and the manifest
    swap makes it visible: a crash at any point leaves the previous
    state whole, never a half-folded or missing one. Exactly-once
    across a crash is the caller's: re-running a batch whose commit
    landed folds it twice. `streaming/ingest.py::fold_stream` is the
    exactly-once form: each fold commits with a one-row epoch
    ledger."""
    # read inside the transaction: the commit's version check then
    # covers the state the fold was computed from
    with wh.transaction() as txn:
        state = txn.read(table) if txn.exists(table) else None
        txn.overwrite(merge_agg_state(state, partial, keys), table)


def negate_partial(partial: DataFrame, keys: list[str]) -> DataFrame:
    """Counting-IVM retraction: a DELETE batch folds into the view
    state as the NEGATED partial aggregate of the deleted rows (counts
    and DECIMAL sums both retract by sign flip — DBToaster's
    multiplicity algebra). After folding, groups whose count reaches 0
    have fully left the view: finalize with ``filter(count > 0)``.
    Exact for algebraic aggregates; MIN/MAX do not retract (holistic
    under deletes) — keep those on recompute or monotonic feeds."""
    dtypes = dict(partial.dtypes)
    return partial.select(
        *keys,
        *[
            (-F.col(c)).cast(dtypes[c]).alias(c)
            for c in partial.columns
            if c not in keys
        ],
    )
