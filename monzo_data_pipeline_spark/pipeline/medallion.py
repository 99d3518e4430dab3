"""Medallion pipeline stages: bronze → silver → gold over parquet tables.

Mirrors the reference's run shape (/root/reference/src/main.py:19-85)
minus its bugs and its SQLite-file-through-S3 shuffling:
  * bronze load is an idempotent set-based merge (left-anti on id),
    replacing the per-row existence probe (load.py:39-45);
  * silver is A15-A18 composed: distinct entity extraction,
    deterministic first-wins dedup, projection+cast+stamp;
  * gold is the dormant B1 monthly aggregate, implemented as mergeable
    state (`incremental.py`);
  * a failed stage FAILS the run — the reference's exception swallow
    (transform.py:13-16) is a bug, not a semantic (SURVEY.md §7.4);
  * one run is one commit: `atomic.run_pipeline_atomic` runs the three
    stages inside one `AtomicWarehouse` transaction, so every table
    changes together, like the reference's single `conn.commit()`
    (load.py:271,277).

The run is delta-driven. `load_bronze` returns the run's delta: the
batch's rows whose ids are new to bronze, persisted once. Silver is
insert-or-ignore (SCD 0) and every committed run leaves every bronze
key present in silver, with silver ids ⊆ bronze ids. So a key new to
silver can only come from the delta, and every delta id is new to
silver. `transform_silver` therefore folds the delta alone:
counterparties and merchants are still anti-joined against silver's
keys (they recur across runs), while the fact rows append as they are.
`build_gold` folds the appended fact rows into the gold state. The
full recomputes these folds are tested against are
`sql_path.transform_silver_sql` for silver and an exact-decimal
aggregate over all of silver for gold (`tests/`).

First-wins order is total. A re-delivered id can arrive twice in one
batch with only ``settled`` changed, and a merchant can appear with two
addresses under one (name, category). Ordering on non-unique columns
would leave the survivor to physical row order, so each first-wins
sort ends with every remaining column (`BRONZE_TIE_BREAK`,
`MERCHANT_ORDER`); `sql_path.py` uses the same order.

Storage: every stage reads and writes through `atomic.AtomicWarehouse`
or one of its transactions — a table is the list of data dirs its
manifest names, and each append stages a fresh dir. A write returns
the rows it wrote (footer counts), so no stage runs a count job. At
100 TB, bronze_transactions would add ``.partitionBy(ingest_date)`` so
incremental loads touch one partition and time-range queries prune
directories; the merge logic is unchanged.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import anti_join_new_rows, distinct_entities, first_wins_dedup
from ..operators.projection import quote_ident, quote_literal
from ..schemas import BRONZE_TRANSACTIONS_SCHEMA

if TYPE_CHECKING:
    from .atomic import AtomicWarehouse, _Transaction

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


def load_bronze(wh: AtomicWarehouse | _Transaction, batch: DataFrame) -> tuple[int, DataFrame]:
    """A11+A14 — idempotent bronze append: only ids not already present
    land; within-batch duplicates collapse first (first-wins by
    `BRONZE_TIE_BREAK`). Returns ``(rows appended, delta)``: the
    appended rows, still persisted for the delta-driven stages; the
    caller unpersists the delta."""
    batch = first_wins_dedup(batch, ["id"], BRONZE_TIE_BREAK)
    if wh.exists(BRONZE_TX):
        existing = wh.read(BRONZE_TX)
        new_rows = anti_join_new_rows(batch, existing, ["id"])
    else:
        new_rows = batch
    # persist: the batch lineage may be a remote fetch (ingest.py) and
    # the later stages would re-execute it; the append's write job fills
    # the cache and its footers give the count
    new_rows = new_rows.persist()
    try:
        n = wh.append(new_rows, BRONZE_TX)
    except BaseException:
        new_rows.unpersist()
        raise
    return n, new_rows


def load_snapshots(
    wh: AtomicWarehouse | _Transaction, balance: DataFrame | None, pots: DataFrame | None
) -> None:
    """A12/A13 — unconditional snapshot appends (no keys, no dedup:
    bronze_balance/bronze_pots are append-only time series, reference
    create_bronze_layer.sql:37-43,45-65)."""
    if balance is not None:
        wh.append(balance, BRONZE_BALANCE)
    if pots is not None:
        wh.append(pots, BRONZE_POTS)


def latest_balance(wh: AtomicWarehouse | _Transaction) -> DataFrame:
    """A24 — the notebook's latest-snapshot read (ORDER BY
    date_retrieved DESC LIMIT 1)."""
    from ..operators.filters import latest_snapshot

    return latest_snapshot(wh.read(BRONZE_BALANCE), "date_retrieved")


def latest_pots(wh: AtomicWarehouse | _Transaction) -> DataFrame:
    """A24 generalized — latest snapshot per pot id (rank window)."""
    return first_wins_dedup(
        wh.read(BRONZE_POTS).withColumn(
            "__neg_ts", -F.unix_micros(F.col("date_retrieved"))
        ),
        ["id"],
        ["__neg_ts"],
    ).drop("__neg_ts")


def transform_silver(
    wh: AtomicWarehouse | _Transaction, inserted_at: str, delta: DataFrame
) -> DataFrame:
    """A15-A18 — bronze → silver, set-based, folding this run's
    ``delta`` (its new bronze rows, see the module docstring).

    Reference: transform_bronze_to_silver.sql:1-59. INSERT OR IGNORE
    becomes: first-wins dedup of the delta's entities, then left-anti
    append against silver's keys (only genuinely new keys land,
    existing rows are never overwritten — SCD type 0). The delta's
    fact rows are new to silver by the delta invariant, so they append
    without an anti-join and are returned for `build_gold`.
    """
    # counterparties: DISTINCT over both-keys-NOT-NULL (sql:1-8)
    cps = distinct_entities(
        delta.selectExpr(
            "counterparty_account_num AS account_num",
            "counterparty_sort_code AS sort_code",
            "counterparty_name AS name",
        ),
        ["account_num", "sort_code", "name"],
        not_null=["account_num", "sort_code"],
    )
    cps = first_wins_dedup(cps, ["account_num", "sort_code"], ["name"])
    _merge_append(wh, cps, SILVER_CP, ["account_num", "sort_code"])

    # merchants: DISTINCT over merchant_id NOT NULL (sql:10-35)
    merch_cols = ["id"] + [c.removeprefix("merchant_") for c in _MERCHANT_COLS[1:]]
    merch = distinct_entities(
        delta.selectExpr(
            *[
                f"{quote_ident(c)} AS {quote_ident(m)}"
                for c, m in zip(_MERCHANT_COLS, merch_cols)
            ]
        ),
        merch_cols,
        not_null=["id"],
    )
    merch = first_wins_dedup(merch, ["id"], MERCHANT_ORDER)
    _merge_append(wh, merch, SILVER_ME, ["id"])

    # fact: 14-col projection + money cast + audit stamp (sql:37-59);
    # bronze pence (long) → silver pounds decimal(18,2), NOT the
    # reference's lossy INTEGER→REAL (SURVEY.md §7.1)
    fact = delta.selectExpr(
        "id",
        "description",
        "CAST(CAST(amount AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2)) AS amount",
        "currency",
        "created",
        "category",
        "notes",
        "is_load",
        "settled",
        "CAST(CAST(local_amount AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2)) AS local_amount",
        "local_currency",
        "counterparty_account_num",
        "counterparty_sort_code",
        "merchant_id",
        f"CAST({quote_literal(inserted_at)} AS TIMESTAMP) AS inserted_at",
    )
    # delta ids are unique and new to silver: nothing to dedup or ignore
    wh.append(fact, SILVER_TX)
    return fact


def build_gold(wh: AtomicWarehouse | _Transaction, new_silver: DataFrame) -> None:
    """B1 — the dormant gold_monthly_spending transform
    (create_gold_layer.sql:1-6), materialized: spend = outflows
    (amount < 0), summed exactly in decimal.

    ``new_silver`` (the fact rows this run appended) merges into the
    mergeable state of `incremental.py` and gold is finalized from it,
    bit-identical to a full recompute. A warehouse with no state yet
    builds it once from all of silver, which already holds
    ``new_silver``."""
    from .incremental import GOLD_STATE, gold_from_state, merge_gold_state

    state = wh.read(GOLD_STATE) if wh.exists(GOLD_STATE) else None
    if state is None:
        new_silver = wh.read(SILVER_TX)
    wh.overwrite(merge_gold_state(state, new_silver), GOLD_STATE)
    wh.overwrite(gold_from_state(wh), GOLD_MONTHLY)


def _merge_append(
    wh: AtomicWarehouse | _Transaction, rows: DataFrame, table: str, keys: list[str]
) -> int:
    """INSERT OR IGNORE analog: append only keys absent from target;
    returns the rows appended. The anti-join reads the committed data
    dirs and the append stages a fresh one, so nothing reads what it
    writes, and an empty result stages no dir."""
    if wh.exists(table):
        return wh.append(anti_join_new_rows(rows, wh.read(table), keys), table)
    return wh.overwrite(rows, table)

