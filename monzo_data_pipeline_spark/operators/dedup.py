"""Deduplication / idempotent-merge operators.

Covers SURVEY.md §2 rows A11 (existence-check idempotent insert),
A15/A16 (DISTINCT entity extraction), A17 (first-wins key dedup), C1
(exact dedup at scale).

Scale notes: the reference's idempotence is a per-row `SELECT 1 WHERE
id = ?` probe then INSERT (load.py:39-45) — O(rows) round-trips. The
set-based form is ONE left-anti join; with AQE the existing-keys side
is broadcast when small, sort-merge when not. First-wins dedup uses a
rank window *partitioned by the key*, so state per group is one row —
no global sort, and skewed keys split under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .projection import quote_ident


def anti_join_new_rows(incoming: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """A11 — rows of `incoming` whose key is absent from `existing`.

    Set-based replacement for the reference's row-at-a-time existence
    probe (load.py:39-45): append `anti_join_new_rows(batch, table,
    ["id"])` and the load is idempotent.
    """
    return incoming.join(existing.select(*keys).distinct(), on=keys, how="left_anti")


def distinct_entities(
    df: DataFrame, columns: list[str], not_null: list[str] | None = None
) -> DataFrame:
    """A15/A16 — DISTINCT projection with NOT NULL key filter.

    Reference: transform_bronze_to_silver.sql:1-8 (counterparties,
    both keys NOT NULL) and :10-35 (merchants, id NOT NULL). Planned
    as a hash aggregate on the projected columns — partial distinct
    runs map-side before the shuffle.
    """
    out = df
    if not_null:
        out = out.filter(" AND ".join(f"{quote_ident(c)} IS NOT NULL" for c in not_null))
    return out.selectExpr(*map(quote_ident, columns)).distinct()


def first_wins_dedup(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """A17/C1 — deterministic first-wins dedup (SCD type 0).

    The reference's `INSERT OR IGNORE` keeps whichever row arrived
    first (transform_bronze_to_silver.sql:2,11,38). `dropDuplicates`
    keeps an *arbitrary* row per key under parallelism, so the
    deterministic form is a row_number window ordered by the arrival
    stamp (+ tiebreaks) — SURVEY.md §7 hard-part 2.
    """
    rn = F.expr(
        f"row_number() OVER (PARTITION BY {', '.join(map(quote_ident, keys))} "
        f"ORDER BY {', '.join(map(quote_ident, order_by))})"
    )
    return df.withColumn("__rn", rn).filter("__rn = 1").drop("__rn")


def exact_dedup_stats(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """C1 — exact-duplicate groups over `key_cols`: one row per
    duplicated value with its multiplicity and the survivor id rule
    (min doc_id = first-wins made explicit)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def upsert_merge(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Last-wins upsert (the MERGE INTO ... WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT pattern over plain tables).

    The complement of A11/A17: the reference's `settled` column
    arrives null and is filled once a transaction settles
    (create_bronze_layer.sql:10, SURVEY §1.2 late-arriving
    attribute) — that correction is an UPDATE, which INSERT OR
    IGNORE semantics can never apply. Composition:

      1. collapse `updates` to one row per key (last wins by
         `order_cols`, total order required for determinism);
      2. target rows NOT in updates (left-anti)  ∪  collapsed updates.

    One window + one anti-join + a union: at scale both shuffles key
    on `keys`, and AQE broadcasts the (typically small) update batch.
    On a real lakehouse this is `MERGE INTO` (Delta/Iceberg); the
    composition is the engine-portable form with identical semantics.
    """
    if order_cols:
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        latest = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        latest = updates.dropDuplicates(keys)
    untouched = target.join(latest.select(*keys).distinct(), on=keys, how="left_anti")
    return untouched.unionByName(latest.select(*target.columns))


def versioned_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Version-aware upsert: per key, the row with the highest
    `order_cols` wins ACROSS target and updates (ties → the update).

    `upsert_merge` trusts the batch (updates always replace matched
    rows) — correct when batches arrive in order. Under replay or
    out-of-order delivery an older batch must NOT regress a newer
    target row, which needs the version comparison against the target
    itself. The payoff is algebraic: versioned_upsert is commutative
    and idempotent over batches — apply(b1) then apply(b2) equals
    apply(b2) then apply(b1) equals apply(b1 ∪ b2) — so replayed or
    reordered CDC streams converge to the same table
    (tests/test_streaming.py batch-order law).

    One union + one window keyed on `keys`: the target shuffles per
    apply, the analog of MERGE INTO rewriting matched files; on a
    lakehouse table format the same semantics push into the commit."""
    tagged = target.select(*target.columns, F.lit(0).alias("__src")).unionByName(
        updates.select(*target.columns, F.lit(1).alias("__src"))
    )
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols], F.col("__src").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
