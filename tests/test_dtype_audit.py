"""The registry-wide dtype audit (tools/dtype_audit.py) as a test:
every oracle twin's output types must be hash-stable under the
driver's pandas canonicalizer — no DuckDB HUGEINT (→ float64 vs Spark
int64), no array/struct/map output columns (unhashable in pandas
sort_values), no int-vs-float category splits between engines.

Both classes once failed the pandas-based gate while
tools/oracle_check.py passed: a DuckDB HUGEINT sum read as float64,
and a list column that pandas cannot sort. This audit would have
caught them locally; no result set is computed (Spark analysis +
DuckDB bind), so the registry-wide sweep costs one
plan-construction pass — under a minute — rather than the full gate's
execute-and-compare. (Trainer specs do run their driver-side fit
collects inside the query builder; that cost is inherent to
constructing those plans at all.)
"""

from __future__ import annotations

import dataclasses
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from monzo_data_pipeline_spark.registry import specs  # noqa: E402
from monzo_data_pipeline_spark.schemas import TESTDATA_TABLES  # noqa: E402
from tools.dtype_audit import (  # noqa: E402
    audit_pair,
    audit_spark_only,
    run_audit,
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_registry_dtype_audit_clean(spark, duck, sf_dir, registry_plans):
    """No oracle twin in the whole registry may produce driver-unstable
    output types. This is the r3 regression class as a permanent gate.
    The audit reads the session's built plans through spec proxies
    whose ``fn`` returns the built frame (or re-raises its build
    error)."""
    proxies = [
        dataclasses.replace(b.spec, fn=lambda spark, sf_dir, b=b: b.result())
        for b in registry_plans
    ]
    violations, n_checked, n_rows_only = run_audit(
        spark, duck, proxies, sf_dir
    )
    assert not violations, "\n".join(violations)
    # sanity: the audit actually covered the registry
    assert n_checked >= 170
    assert n_rows_only <= 10


def test_audit_catches_injected_hugeint(duck):
    """A SUM(BIGINT) twin (DuckDB HUGEINT) must be flagged even when the
    Spark side is a clean bigint — exactly the spend_trend_slopes /
    bpe_merge_table r3 failure."""
    rel = duck.sql("SELECT SUM(x) AS total FROM (SELECT CAST(1 AS BIGINT) AS x)")
    problems = audit_pair(
        "injected_hugeint", [("total", "bigint")], list(rel.columns), list(rel.types)
    )
    assert problems and "HUGEINT" in problems[0]

    # and the CAST fix silences it
    rel2 = duck.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS total FROM (SELECT CAST(1 AS BIGINT) AS x)"
    )
    assert not audit_pair(
        "cast_fixed", [("total", "bigint")], list(rel2.columns), list(rel2.types)
    )


def test_audit_catches_injected_array_column(duck):
    """A list-typed output column must be flagged on either side —
    exactly the random_projection_embed / media_feature_extract r3
    failure (pandas sort_values: unhashable type 'list')."""
    rel = duck.sql("SELECT [1, 2, 3] AS vec")
    problems = audit_pair(
        "injected_array", [("vec", "array<bigint>")], list(rel.columns), list(rel.types)
    )
    assert problems and "complex-typed" in problems[0]

    # rows-only specs hit the same canonicalizer: flag Spark-side arrays
    assert audit_spark_only("rows_only_array", [("vec", "array<double>")])
    assert not audit_spark_only("rows_only_scalar", [("vec", "string")])


def test_audit_catches_int_float_category_split(duck):
    """Spark int64 vs DuckDB DOUBLE stringifies as 42 vs 42.0 — the
    same hash break as HUGEINT but reachable without int128."""
    rel = duck.sql("SELECT CAST(42 AS DOUBLE) AS v")
    problems = audit_pair(
        "injected_split", [("v", "bigint")], list(rel.columns), list(rel.types)
    )
    assert problems and "category mismatch" in problems[0]


def test_driver_prefix_is_fully_hash_checkable(spark, duck, sf_dir):
    """Every query inside the driver's 50-entry hash-checked window must
    have an oracle twin (no rows-only entries → no guaranteed
    'no_oracle' red rows like r3's pq_rerank_topk) and pass the dtype
    audit."""
    from monzo_data_pipeline_spark.registry import _DRIVER_PREFIX

    by_name = {s.name: s for s in specs()}
    missing = [n for n in _DRIVER_PREFIX if n not in by_name]
    assert not missing, f"prefix names not in registry: {missing}"
    rows_only = [n for n in _DRIVER_PREFIX if by_name[n].oracle is None]
    assert not rows_only, f"rows-only queries inside hash-checked prefix: {rows_only}"
    assert len(_DRIVER_PREFIX) == 50


def test_audit_catches_decimal_output(duck):
    """DECIMAL output columns are unsafe even decimal-vs-decimal:
    Spark toPandas gives object[Decimal('42.50')], DuckDB .df() gives
    float64 42.5 — different strings under the driver's canonicalizer.
    The policy is decimal INSIDE the aggregation, double/bigint at the
    output boundary (functions/deterministic.py)."""
    rel = duck.sql("SELECT CAST(42.5 AS DECIMAL(10,2)) AS v")
    problems = audit_pair(
        "injected_decimal", [("v", "decimal(10,2)")], list(rel.columns), list(rel.types)
    )
    assert problems and "decimal-typed OUTPUT" in problems[0]
    # and the boundary CAST silences it
    rel2 = duck.sql("SELECT CAST(CAST(42.5 AS DECIMAL(10,2)) AS DOUBLE) AS v")
    assert not audit_pair(
        "cast_fixed", [("v", "double")], list(rel2.columns), list(rel2.types)
    )


def test_audit_catches_date_output(duck):
    """Raw DATE output columns are unsafe even date-vs-date: Spark
    toPandas gives object[datetime.date] ('2024-01-01'), DuckDB .df()
    gives datetime64 Timestamp ('2024-01-01 00:00:00') — caught live by
    tools/driver_canon_check.py on cohort_retention in r4. Serialize to
    an ISO string on both sides."""
    rel = duck.sql("SELECT DATE '2024-01-01' AS d")
    problems = audit_pair(
        "injected_date", [("d", "date")], list(rel.columns), list(rel.types)
    )
    assert problems and "DATE-typed output" in problems[0]
    rel2 = duck.sql("SELECT strftime(DATE '2024-01-01', '%Y-%m-%d') AS d")
    assert not audit_pair(
        "iso_fixed", [("d", "string")], list(rel2.columns), list(rel2.types)
    )
