"""SQL-script entry path — SURVEY.md §3.2.

The reference drives its whole transform through
``cursor.executescript()`` of a multi-statement SQL file
(/root/reference/src/utils/utils.py:21-26 running
transform_bronze_to_silver.sql). Spark SQL is single-statement, so the
runner here splits a script and issues statements sequentially — the
engine-native form of that entry point. The bronze→silver transform
(A15-A18) is expressed below as such a script and parity-tested
against the DataFrame path (`medallion.transform_silver`): two front
ends, one semantics.

Scale posture is identical to the DataFrame path by construction —
both compile to the same Catalyst plans (DISTINCT hash aggregate,
row_number first-wins window, projection + cast).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .atomic import AtomicWarehouse
from .medallion import (
    BRONZE_TX,
    SILVER_CP,
    SILVER_ME,
    SILVER_TX,
    MERCHANT_ORDER,
    _MERCHANT_COLS,
    _merge_append,
)


def split_sql_script(script: str) -> list[str]:
    """Split a multi-statement script on ';' — quote- and line-comment-
    aware (a ';' inside '…' or after -- on the same line does not
    split). Mirrors what executescript() accepts."""
    statements: list[str] = []
    buf: list[str] = []
    in_quote: str | None = None
    in_comment = False
    i = 0
    while i < len(script):
        ch = script[i]
        if in_comment:
            if ch == "\n":
                in_comment = False
            buf.append(ch)
        elif in_quote:
            buf.append(ch)
            if ch == in_quote:
                in_quote = None
        elif ch in ("'", '"'):
            in_quote = ch
            buf.append(ch)
        elif ch == "-" and script[i : i + 2] == "--":
            in_comment = True
            buf.append(ch)
        elif ch == ";":
            statements.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    statements.append("".join(buf))
    return [s for s in statements if re.search(r"\S", s)]


def execute_sql_script(spark: SparkSession, script: str) -> list[DataFrame]:
    """Run every statement of a script in order; returns each
    statement's result DataFrame (DDL statements yield empty frames,
    exactly as spark.sql does)."""
    return [spark.sql(stmt) for stmt in split_sql_script(script)]


def _silver_script(inserted_at: str) -> str:
    """The bronze→silver transform as one SQL script over a
    `bronze_tx` temp view (reference transform_bronze_to_silver.sql
    re-expressed; INSERT OR IGNORE first-wins becomes a row_number
    window, SURVEY.md §7 hard-part 2)."""
    merchant_aliases = ", ".join(
        f"{c} AS {'id' if c == 'merchant_id' else c.removeprefix('merchant_')}"
        for c in _MERCHANT_COLS
    )
    # the DataFrame path's total first-wins order (medallion.MERCHANT_ORDER)
    merchant_order = ", ".join(f"{c} ASC" for c in MERCHANT_ORDER)
    return f"""
    -- counterparties: DISTINCT, both keys NOT NULL (sql:1-8)
    CREATE OR REPLACE TEMP VIEW silver_cps_sqlpath AS
    SELECT account_num, sort_code, name FROM (
        SELECT *, row_number() OVER (PARTITION BY account_num, sort_code
                                     ORDER BY name ASC) AS __rn
        FROM (
            SELECT DISTINCT counterparty_account_num AS account_num,
                   counterparty_sort_code AS sort_code,
                   counterparty_name AS name
            FROM bronze_tx
            WHERE counterparty_account_num IS NOT NULL
              AND counterparty_sort_code IS NOT NULL
        )
    ) WHERE __rn = 1;

    -- merchants: DISTINCT, id NOT NULL (sql:10-35)
    CREATE OR REPLACE TEMP VIEW silver_merchants_sqlpath AS
    SELECT * EXCEPT (__rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY {merchant_order}) AS __rn
        FROM (
            SELECT DISTINCT {merchant_aliases}
            FROM bronze_tx
            WHERE merchant_id IS NOT NULL
        )
    ) WHERE __rn = 1;

    -- fact: 14-col projection, pence→pounds DECIMAL cast, audit stamp
    -- (sql:37-59; exact money per SURVEY §7.1, not INTEGER→REAL)
    CREATE OR REPLACE TEMP VIEW silver_tx_sqlpath AS
    SELECT * EXCEPT (__rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY created ASC) AS __rn
        FROM (
            SELECT id, description,
                   CAST(CAST(amount AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2))
                       AS amount,
                   currency, created, category, notes, is_load, settled,
                   CAST(CAST(local_amount AS DECIMAL(18,2)) / 100
                        AS DECIMAL(18,2)) AS local_amount,
                   local_currency, counterparty_account_num,
                   counterparty_sort_code, merchant_id,
                   CAST('{inserted_at}' AS TIMESTAMP) AS inserted_at
            FROM bronze_tx
        )
    ) WHERE __rn = 1
    """


def transform_silver_sql(wh: AtomicWarehouse, inserted_at: str) -> None:
    """A15-A18 through the §3.2 SQL front end, recomputed from all of
    bronze; writes the same INSERT-OR-IGNORE merge as the DataFrame
    path, one commit per silver table."""
    spark = wh.spark
    wh.read(BRONZE_TX).createOrReplaceTempView("bronze_tx")
    execute_sql_script(spark, _silver_script(inserted_at))
    _merge_append(
        wh,
        spark.table("silver_cps_sqlpath"),
        SILVER_CP,
        ["account_num", "sort_code"],
    )
    _merge_append(wh, spark.table("silver_merchants_sqlpath"), SILVER_ME, ["id"])
    _merge_append(wh, spark.table("silver_tx_sqlpath"), SILVER_TX, ["id"])
