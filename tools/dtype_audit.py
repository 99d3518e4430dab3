"""Registry-wide dtype audit: catches oracle twins whose *types* would
break the driver's correctness gate even when the *values* are equal.

The driver canonicalizes both result sets through pandas
(``DataFrame.sort_values`` + per-value stringification), which is
stricter than tools/oracle_check.py's Python-value canonicalizer in two
ways, and both once failed that gate while the Python one passed:

1. DuckDB types ``SUM(BIGINT)`` / products of sums as HUGEINT; pandas
   has no int128, so ``.df()`` materializes float64 (``42.0``) while
   Spark returns int64 (``42``) — every row hash-mismatches.
2. Array/map/struct output columns become Python lists/dicts in pandas
   object columns; ``sort_values`` raises ``unhashable type: 'list'``
   and the whole query reads as ``err``.

This audit is cheap because neither RESULT SET is computed: Spark
query schemas come from analysis (``spec.fn(spark, sf_dir).schema``)
and DuckDB output types from the bound-but-unexecuted relation
(``con.sql(oracle).types``). Caveat: specs whose *builder* runs
driver-side training loops (kmeans/PQ/BPE fit collects) do execute
those loops during ``spec.fn`` — the audit costs roughly one
plan-construction pass over the registry (~half a minute on the
testdata), not the full gate's result comparison. It flags:

* any DuckDB HUGEINT/UHUGEINT output column,
* any complex-typed (list/struct/map) output column on either side,
* integer-vs-float (or decimal-vs-*) category mismatches between the
  Spark and DuckDB output schemas,
* column-name set mismatches (caught earlier than a full gate run).

Usage: python tools/dtype_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


# -- type categorization ----------------------------------------------------

# pandas/driver-visible category for a Spark simple type string
_SPARK_CATEGORY = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "integer": "int",
    "bigint": "int",
    "long": "int",
    "float": "float",
    "double": "float",
    "boolean": "bool",
    "string": "str",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
    "void": "null",
}

_DUCK_CATEGORY = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UTINYINT": "int",
    "USMALLINT": "int",
    "UINTEGER": "int",
    "UBIGINT": "int",
    "HUGEINT": "hugeint",  # pandas float64 — always a violation
    "UHUGEINT": "hugeint",
    "FLOAT": "float",
    "DOUBLE": "float",
    "BOOLEAN": "bool",
    "VARCHAR": "str",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "TIMESTAMP_MS": "timestamp",
    "TIMESTAMP_S": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "BLOB": "binary",
    # DuckDB JSON materializes as a pandas string column — hash-safe vs
    # Spark string (scalar_functions.tags_json is driver-green in r3)
    "JSON": "str",
    "TIME": "time",
    "INTERVAL": "interval",
    '"NULL"': "null",
    "NULL": "null",
    "SQLNULL": "null",
}


def spark_category(dtype: str) -> str:
    """Category of a Spark DataFrame dtype string ('bigint', 'array<int>', …)."""
    d = dtype.strip().lower()
    if d.startswith(("array", "map", "struct")):
        return "complex"
    if d.startswith("decimal"):
        return "decimal"
    return _SPARK_CATEGORY.get(d, f"unknown({dtype})")


def duck_category(dtype: str) -> str:
    """Category of a DuckDB type string ('BIGINT', 'BIGINT[]', 'HUGEINT', …)."""
    d = str(dtype).strip().upper()
    if d.endswith("]") or d.startswith(("LIST", "STRUCT", "MAP", "ARRAY", "UNION")):
        return "complex"
    if d.startswith("DECIMAL"):
        return "decimal"
    return _DUCK_CATEGORY.get(d, f"unknown({dtype})")


# categories that stringify identically under the driver's canonicalizer,
# so a cross-engine pairing is hash-safe despite differing names.
# DECIMAL is deliberately NOT here even paired with itself: Spark
# toPandas materializes object[Decimal('42.50')] while DuckDB .df()
# gives float64 42.5 — different strings, guaranteed hash mismatch.
# Aggregate in decimal, but CAST the final output column to double (or
# an integer quantization) on BOTH sides — the engine's existing
# functions/deterministic.py policy.
# DATE is likewise absent even paired with itself: Spark DateType →
# pandas object[datetime.date] ('2024-01-01') while DuckDB DATE →
# datetime64 Timestamp ('2024-01-01 00:00:00') — serialize the output
# to an ISO string (date_format / strftime) on both sides.
_SAFE_PAIRS = {
    ("int", "int"),
    ("float", "float"),
    ("bool", "bool"),
    ("str", "str"),
    ("timestamp", "timestamp"),
    ("binary", "binary"),
    ("null", "null"),
}


def audit_pair(
    name: str,
    spark_dtypes: list[tuple[str, str]],
    duck_cols: list[str],
    duck_types: list,
) -> list[str]:
    """Pure comparison half (unit-testable): returns violation strings."""
    problems: list[str] = []
    s_map = {c: t for c, t in spark_dtypes}
    d_map = {c: t for c, t in zip(duck_cols, duck_types)}

    if sorted(s_map) != sorted(d_map):
        problems.append(
            f"{name}: column names differ spark={sorted(s_map)} duckdb={sorted(d_map)}"
        )
        return problems

    for col in sorted(s_map):
        sc = spark_category(s_map[col])
        dc = duck_category(d_map[col])
        if dc == "hugeint":
            problems.append(
                f"{name}.{col}: DuckDB {d_map[col]} materializes as pandas "
                f"float64 and hash-mismatches Spark {s_map[col]} — CAST the "
                f"oracle expression to BIGINT"
            )
            continue
        if sc == "complex" or dc == "complex":
            problems.append(
                f"{name}.{col}: complex-typed output (spark={s_map[col]}, "
                f"duckdb={d_map[col]}) crashes the driver's pandas "
                f"canonicalizer — serialize to a scalar (array_to_string / "
                f"concat_ws) or explode to rows"
            )
            continue
        if sc.startswith("unknown") or dc.startswith("unknown"):
            problems.append(
                f"{name}.{col}: unclassified dtype spark={s_map[col]} "
                f"duckdb={d_map[col]} — extend tools/dtype_audit.py maps"
            )
            continue
        if sc == "date" or dc == "date":
            problems.append(
                f"{name}.{col}: DATE-typed output (spark={s_map[col]}, "
                f"duckdb={d_map[col]}) — pandas materializes "
                f"object[datetime.date] on Spark vs datetime64 Timestamp "
                f"on DuckDB ('00:00:00' suffix); serialize to an ISO "
                f"string (date_format / strftime) on both sides"
            )
            continue
        if sc == "decimal" or dc == "decimal":
            problems.append(
                f"{name}.{col}: decimal-typed OUTPUT (spark={s_map[col]}, "
                f"duckdb={d_map[col]}) — pandas materializes "
                f"object[Decimal] on Spark vs float64 on DuckDB; CAST "
                f"the final column to double/bigint on both sides "
                f"(keep the decimal aggregation internal)"
            )
            continue
        if (sc, dc) not in _SAFE_PAIRS:
            problems.append(
                f"{name}.{col}: category mismatch spark={s_map[col]}({sc}) "
                f"vs duckdb={d_map[col]}({dc}) — values stringify "
                f"differently under the driver's canonicalizer"
            )
    return problems


def audit_spark_only(name: str, spark_dtypes: list[tuple[str, str]]) -> list[str]:
    """For rows-only specs (no oracle): the driver still collects the
    Spark result through its pandas canonicalizer, so complex output
    columns crash even without a twin."""
    problems = []
    for col, t in spark_dtypes:
        if spark_category(t) == "complex":
            problems.append(
                f"{name}.{col}: complex-typed output ({t}) in a rows-only "
                f"query still crashes the driver's pandas canonicalizer"
            )
    return problems


def run_audit(spark, con, specs, sf_dir: str, only: set[str] | None = None):
    """Audit every spec; returns (violations, n_checked, n_rows_only)."""
    violations: list[str] = []
    n_checked = n_rows_only = 0
    for spec in specs:
        if only and spec.name not in only:
            continue
        try:
            # no result-set execution (trainer specs still run their
            # driver-side fit collects inside the builder — see module
            # docstring caveat)
            sdf = spec.fn(spark, sf_dir)
            s_dtypes = sdf.dtypes
        except Exception as e:  # noqa: BLE001
            violations.append(f"{spec.name}: spark analysis error: {e}")
            continue
        if spec.oracle is None:
            n_rows_only += 1
            violations.extend(audit_spark_only(spec.name, s_dtypes))
            continue
        try:
            rel = con.sql(spec.oracle)  # lazy: bind only, no execution
            d_cols, d_types = list(rel.columns), list(rel.types)
        except Exception as e:  # noqa: BLE001
            violations.append(f"{spec.name}: duckdb bind error: {e}")
            continue
        n_checked += 1
        violations.extend(audit_pair(spec.name, s_dtypes, d_cols, d_types))
    return violations, n_checked, n_rows_only


def main() -> int:
    import duckdb

    from monzo_data_pipeline_spark.registry import specs
    from monzo_data_pipeline_spark.schemas import TESTDATA_TABLES
    from monzo_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    spark = get_spark("dtype-audit")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    violations, n_checked, n_rows_only = run_audit(
        spark, con, specs(), sf_dir, only
    )
    for v in violations:
        print(f"VIOLATION  {v}")
    print(
        f"\n{n_checked} oracle twins audited, {n_rows_only} rows-only, "
        f"{len(violations)} violations"
    )
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
