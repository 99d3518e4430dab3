"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Thin adapter over ``monzo_data_pipeline_spark.registry`` — the
package is the engine; this file only re-exports its query surface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from monzo_data_pipeline_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    B1 — the reference's dormant gold_monthly_spending transform
    (/root/reference/src/sql/create_gold_layer.sql:1-6) over the
    testdata orders table: scan → project → hash-agg → sort.
    """
    return registry.queries()["monthly_spend"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for each SQL-expressible query."""
    return registry.oracle_sql()
