"""Projection-family operators.

Covers SURVEY.md §2 rows A7 (nested-struct flatten), A8 (default
fill), A18 (column-subset projection + cast + audit stamp), A23 (full
scan).

Scale note: projections are free at scale *if* they reach the scan —
Catalyst's ColumnPruning pushes the needed-columns set into the
parquet reader (check ReadSchema in .explain), so a 2-column
projection of a 32-column table reads 2 column chunks, not 32.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, for plans built
    from SQL text (``selectExpr``, ``F.expr``)."""
    return "`" + name.replace("`", "``") + "`"


def quote_literal(value: str) -> str:
    """``value`` as a SQL string literal (the text ``F.lit(value)``
    prints as SQL)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def flatten_struct(df: DataFrame, struct_col: str, prefix: str | None = None) -> DataFrame:
    """A7 — flatten one level of a struct column into prefixed top-level columns.

    The reference does this imperatively in 78 lines of dict-walking
    with a hand-built all-None template for missing merchants
    (api_client.py:32-109). Struct field access in Spark is null-safe
    — ``col("merchant.address.city")`` is NULL when ``merchant`` is
    NULL — so the whole template collapses to a plain projection.
    """
    prefix = f"{prefix}_" if prefix else f"{struct_col}_"
    struct_fields = dict(df.dtypes)
    if struct_col not in struct_fields:
        raise KeyError(f"no column {struct_col!r} in {df.columns}")
    fields = df.schema[struct_col].dataType.names
    keep = [quote_ident(c) for c in df.columns if c != struct_col]
    flat = [
        f"{quote_ident(struct_col)}.{quote_ident(f)} AS {quote_ident(prefix + f)}"
        for f in fields
    ]
    return df.selectExpr(*keep, *flat)


def flatten_transaction_wire(df: DataFrame) -> DataFrame:
    """A7 — the reference's exact flatten: wire transaction struct → 32 flat
    columns (api_client.py:32-109: counterparty :53-55, merchant
    template :59-77, address :94-103)."""
    flat = df
    for struct_col, prefix in [("counterparty", "counterparty"), ("merchant", "merchant")]:
        flat = flatten_struct(flat, struct_col, prefix)
    # second-level: merchant.address.* (reference api_client.py:94-103)
    if "merchant_address" in flat.columns and isinstance(
        flat.schema["merchant_address"].dataType, T.StructType
    ):
        flat = flatten_struct(flat, "merchant_address", "merchant")
    renames = {"counterparty_account_number": "counterparty_account_num"}
    for old, new in renames.items():
        if old in flat.columns:
            flat = flat.withColumnRenamed(old, new)
    return flat


def default_fill(df: DataFrame, defaults: dict[str, object]) -> DataFrame:
    """A8 — NULL coalescing to declared defaults (reference .get(key,
    default) scattered across api_client.py:44-90 and load.py:207-216)."""
    return df.select(
        *[
            F.coalesce(F.col(c), F.lit(defaults[c])).alias(c) if c in defaults else F.col(c)
            for c in df.columns
        ]
    )


def project_cast_stamp(
    df: DataFrame,
    columns: list[str],
    casts: dict[str, str] | None = None,
    stamp_col: str | None = None,
    stamp_value: Column | None = None,
) -> DataFrame:
    """A18 — column-subset projection + explicit cast + audit stamp.

    Reference: transform_bronze_to_silver.sql:37-59 projects 14 of 32
    columns and relies on SQLite affinity for a silent INTEGER→REAL
    money cast; here the cast is explicit (LongType pence →
    DecimalType pounds per the §7 money policy).
    """
    casts = casts or {}
    cols = [
        (F.col(c).cast(casts[c]) if c in casts else F.col(c)).alias(c) for c in columns
    ]
    out = df.select(*cols)
    if stamp_col is not None:
        out = out.withColumn(stamp_col, stamp_value if stamp_value is not None else F.current_timestamp())
    return out
