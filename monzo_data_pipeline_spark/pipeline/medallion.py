"""Medallion pipeline: bronze → silver → gold over parquet tables.

Mirrors the reference's run shape (/root/reference/src/main.py:19-85)
minus its bugs and its SQLite-file-through-S3 shuffling:
  * bronze load is an idempotent set-based merge (left-anti on id),
    replacing the per-row existence probe (load.py:39-45);
  * silver is A15-A18 composed: distinct entity extraction,
    deterministic first-wins dedup, projection+cast+stamp;
  * gold is the dormant B1 monthly aggregate, implemented;
  * a failed transform FAILS the run — the reference's exception
    swallow (transform.py:13-16) is a bug, not a semantic
    (SURVEY.md §7.4);
  * write order: dims before fact (best-effort cross-table
    consistency; real multi-table transactions need Delta/Iceberg —
    SURVEY.md §7.5).

Delta-driven runs. `load_bronze(keep_delta=True)` hands back the run's
delta: the batch's rows whose ids are new to bronze, persisted once.
Silver is insert-or-ignore (SCD 0) and every committed run leaves every
bronze key present in silver, with silver ids ⊆ bronze ids. So a key
new to silver can only come from the delta, and every delta id is new
to silver. `transform_silver(delta=...)` therefore folds the delta
alone: counterparties and merchants are still anti-joined against
silver's keys (they recur across runs), while the fact rows append as
they are. `build_gold(new_silver=...)` folds the appended fact rows
into the mergeable state of `incremental.py`. Without those arguments
the stages recompute from full bronze / silver, which is what
`run_pipeline` over a plain `Warehouse` does and what the delta path
is tested against (`atomic.run_pipeline_atomic` is the delta caller).

First-wins order is total. A re-delivered id can arrive twice in one
batch with only ``settled`` changed, and a merchant can appear with two
addresses under one (name, category). Ordering on non-unique columns
would leave the survivor to physical row order, so each first-wins
sort ends with every remaining column (`BRONZE_TIE_BREAK`,
`MERCHANT_ORDER`); `sql_path.py` uses the same order.

Storage layout: one parquet directory per table under a warehouse
root. At 100 TB, bronze_transactions would add
``.partitionBy(ingest_date)`` so incremental loads touch one
partition and time-range queries prune directories; the merge logic
is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import anti_join_new_rows, distinct_entities, first_wins_dedup
from ..schemas import BRONZE_TRANSACTIONS_SCHEMA

BRONZE_TX = "bronze_transactions"
BRONZE_BALANCE = "bronze_balance"
BRONZE_POTS = "bronze_pots"
SILVER_TX = "silver_transactions"
SILVER_CP = "silver_counterparties"
SILVER_ME = "silver_merchants"
GOLD_MONTHLY = "gold_monthly_spending"

_MERCHANT_COLS = [
    "merchant_id",
    "merchant_name",
    "merchant_category",
    "merchant_logo",
    "merchant_emoji",
    "merchant_online",
    "merchant_atm",
    "merchant_address",
    "merchant_city",
    "merchant_postcode",
    "merchant_country",
    "merchant_latitude",
    "merchant_longitude",
    "merchant_google_places_id",
    "merchant_suggested_tags",
    "merchant_foursquare_id",
    "merchant_website",
]


# bronze first-wins within one batch: earliest retrieval, then
# creation, then the unsettled version (NULL sorts first, and the first
# delivery of a transaction carries no ``settled``); the rest of the
# columns make the order total
_BRONZE_STAMPS = ["date_retrieved", "created", "settled"]
BRONZE_TIE_BREAK = _BRONZE_STAMPS + [
    f.name
    for f in BRONZE_TRANSACTIONS_SCHEMA.fields
    if f.name not in _BRONZE_STAMPS + ["id"]
]
# merchants first-wins per id: name, category, then every other
# attribute, so two addresses under one (name, category) cannot tie
MERCHANT_ORDER = ["name", "category"] + [
    c.removeprefix("merchant_")
    for c in _MERCHANT_COLS
    if c not in ("merchant_id", "merchant_name", "merchant_category")
]


class Warehouse:
    """Parquet-backed table store (the catalog of the pipeline)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def overwrite(self, df: DataFrame, table: str) -> None:
        df.write.mode("overwrite").parquet(self.path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self.path(table))


def load_bronze(
    wh: Warehouse, batch: DataFrame, keep_delta: bool = False
) -> int | tuple[int, DataFrame]:
    """A11+A14 — idempotent bronze append: only ids not already present
    land; within-batch duplicates collapse first (first-wins by
    `BRONZE_TIE_BREAK`). Returns rows appended. With ``keep_delta``
    returns ``(rows appended, delta)``: the appended rows, still
    persisted for the delta-driven stages; the caller unpersists."""
    batch = first_wins_dedup(batch, ["id"], BRONZE_TIE_BREAK)
    if wh.exists(BRONZE_TX):
        existing = wh.read(BRONZE_TX)
        new_rows = anti_join_new_rows(batch, existing, ["id"])
    else:
        new_rows = batch
    # persist: the batch lineage may be a remote fetch (ingest.py) and the
    # append both re-reads the target dir and re-executes lineage otherwise
    new_rows = new_rows.persist()
    try:
        n = new_rows.count()
        if n:
            wh.append(new_rows, BRONZE_TX)
    except BaseException:
        new_rows.unpersist()
        raise
    if keep_delta:
        return n, new_rows
    new_rows.unpersist()
    return n


def load_snapshots(
    wh: Warehouse, balance: DataFrame | None, pots: DataFrame | None
) -> None:
    """A12/A13 — unconditional snapshot appends (no keys, no dedup:
    bronze_balance/bronze_pots are append-only time series, reference
    create_bronze_layer.sql:37-43,45-65)."""
    if balance is not None:
        wh.append(balance, BRONZE_BALANCE)
    if pots is not None:
        wh.append(pots, BRONZE_POTS)


def latest_balance(wh: Warehouse) -> DataFrame:
    """A24 — the notebook's latest-snapshot read (ORDER BY
    date_retrieved DESC LIMIT 1)."""
    from ..operators.filters import latest_snapshot

    return latest_snapshot(wh.read(BRONZE_BALANCE), "date_retrieved")


def latest_pots(wh: Warehouse) -> DataFrame:
    """A24 generalized — latest snapshot per pot id (rank window)."""
    return first_wins_dedup(
        wh.read(BRONZE_POTS).withColumn(
            "__neg_ts", -F.unix_micros(F.col("date_retrieved"))
        ),
        ["id"],
        ["__neg_ts"],
    ).drop("__neg_ts")


def transform_silver(
    wh: Warehouse, inserted_at: str, delta: DataFrame | None = None
) -> DataFrame | None:
    """A15-A18 — bronze → silver, set-based.

    Reference: transform_bronze_to_silver.sql:1-59. INSERT OR IGNORE
    becomes: first-wins dedup over bronze ∪ existing-silver keyspace,
    then left-anti append (only genuinely new keys land, existing rows
    are never overwritten — SCD type 0).

    With ``delta`` (this run's new bronze rows, see the module
    docstring) only the delta is folded, its fact rows are appended
    without an anti-join, and those appended rows are returned for
    `build_gold`. Without it all of bronze is read and None returned.
    """
    bronze = wh.read(BRONZE_TX) if delta is None else delta

    # counterparties: DISTINCT over both-keys-NOT-NULL (sql:1-8)
    cps = distinct_entities(
        bronze.select(
            F.col("counterparty_account_num").alias("account_num"),
            F.col("counterparty_sort_code").alias("sort_code"),
            F.col("counterparty_name").alias("name"),
        ),
        ["account_num", "sort_code", "name"],
        not_null=["account_num", "sort_code"],
    )
    cps = first_wins_dedup(cps, ["account_num", "sort_code"], ["name"])
    _merge_append(wh, cps, SILVER_CP, ["account_num", "sort_code"])

    # merchants: DISTINCT over merchant_id NOT NULL (sql:10-35)
    merch = distinct_entities(
        bronze.select(
            *[F.col(c).alias(c.removeprefix("merchant_") if c != "merchant_id" else "id")
              for c in _MERCHANT_COLS]
        ),
        ["id"] + [c.removeprefix("merchant_") for c in _MERCHANT_COLS if c != "merchant_id"],
        not_null=["id"],
    )
    merch = first_wins_dedup(merch, ["id"], MERCHANT_ORDER)
    _merge_append(wh, merch, SILVER_ME, ["id"])

    # fact: 14-col projection + money cast + audit stamp (sql:37-59);
    # bronze pence (long) → silver pounds decimal(18,2), NOT the
    # reference's lossy INTEGER→REAL (SURVEY.md §7.1)
    fact = bronze.select(
        "id",
        "description",
        (F.col("amount").cast("decimal(18,2)") / 100).cast("decimal(18,2)").alias("amount"),
        "currency",
        "created",
        "category",
        "notes",
        "is_load",
        "settled",
        (F.col("local_amount").cast("decimal(18,2)") / 100)
        .cast("decimal(18,2)")
        .alias("local_amount"),
        "local_currency",
        "counterparty_account_num",
        "counterparty_sort_code",
        "merchant_id",
    ).withColumn("inserted_at", F.lit(inserted_at).cast("timestamp"))
    if delta is not None:
        # delta ids are unique and new to silver: nothing to dedup or ignore
        wh.append(fact, SILVER_TX)
        return fact
    fact = first_wins_dedup(fact, ["id"], ["created"])
    _merge_append(wh, fact, SILVER_TX, ["id"])
    return None


def build_gold(wh: Warehouse, new_silver: DataFrame | None = None) -> None:
    """B1 — the dormant gold_monthly_spending transform
    (create_gold_layer.sql:1-6), materialized: spend = outflows
    (amount < 0), summed exactly in decimal.

    With ``new_silver`` (the fact rows this run appended) gold is
    folded incrementally: the rows merge into the mergeable state of
    `incremental.py` and gold is finalized from it, bit-identical to
    the full recompute. A warehouse with no state yet builds it once
    from all of silver, which already holds ``new_silver``."""
    if new_silver is not None:
        from .incremental import GOLD_STATE, gold_from_state, merge_gold_state

        if not wh.exists(GOLD_STATE):
            new_silver = wh.read(SILVER_TX)
        merge_gold_state(wh, new_silver)
        wh.overwrite(gold_from_state(wh), GOLD_MONTHLY)
        return
    tx = wh.read(SILVER_TX)
    gold = (
        tx.filter(F.col("amount") < 0)
        .groupBy(
            F.year("created").alias("year"),
            F.month("created").alias("month"),
        )
        .agg(
            F.sum(-F.col("amount")).alias("total_spend"),
            # engine davg policy (functions/deterministic.py): exact
            # decimal sum ÷ count in double — not F.avg's decimal
            # scale+4 rounding — so incremental state (pipeline/
            # incremental.py) folds to bit-identical gold
            (F.sum(-F.col("amount")).cast("double") / F.count(F.lit(1))).alias(
                "avg_spend"
            ),
        )
    )
    wh.overwrite(gold, GOLD_MONTHLY)


def _merge_append(wh: Warehouse, rows: DataFrame, table: str, keys: list[str]) -> None:
    """INSERT OR IGNORE analog: append only keys absent from target.

    The anti-join reads the same path the append writes to; the file
    index is snapshotted when `read` plans, and persist() decouples
    execution from the write so the merge set is computed exactly once.
    """
    if wh.exists(table):
        rows = anti_join_new_rows(rows, wh.read(table), keys).persist()
        try:
            if rows.count():
                wh.append(rows, table)
        finally:
            rows.unpersist()
    else:
        wh.overwrite(rows, table)


def run_pipeline(
    spark: SparkSession, wh: Warehouse, batch: DataFrame, run_ts: str
) -> dict[str, int]:
    """One pipeline run (the reference's lambda_handler shape):
    bronze merge → silver transform → gold build. Any stage failure
    propagates — no exception swallowing."""
    appended = load_bronze(wh, batch)
    transform_silver(wh, inserted_at=run_ts)
    build_gold(wh)
    return {
        "bronze_appended": appended,
        "bronze_total": wh.read(BRONZE_TX).count(),
        "silver_tx": wh.read(SILVER_TX).count(),
        "silver_counterparties": wh.read(SILVER_CP).count(),
        "silver_merchants": wh.read(SILVER_ME).count(),
        "gold_rows": wh.read(GOLD_MONTHLY).count(),
    }
