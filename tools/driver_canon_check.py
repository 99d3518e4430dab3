"""Driver-canonicalizer replica gate.

tools/oracle_check.py canonicalizes through PYTHON values (Decimal/int
promotion, lists joined), which round 3 proved is WEAKER than the
driver's pandas-based comparison: the driver materializes both result
sets as pandas DataFrames, sorts columns by name, `sort_values` over
all columns, and hash-compares stringified values — so DuckDB HUGEINT
(float64 '42.0' vs Spark int64 '42') and list-valued object columns
(unhashable in sort_values) fail there while passing the Python gate.

This tool reproduces that pandas pathway for the two mismatch classes
above: Spark via ``toPandas()``, DuckDB via
``.df()``, sorted-by-name columns, ``sort_values`` canonical order,
MD5 over ``str(value)`` rows. Run it over the driver's 50-query
prefix before a round closes to predict the driver's own file.

Usage: python tools/driver_canon_check.py [sf_dir] [--all | query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def canon_hash(df: pd.DataFrame) -> str:
    """The driver's observed pathway: alphabetical columns, sort_values
    over all of them (this is where lists raise TypeError), then an
    order-insensitive-ish MD5 over stringified cells. NaN sorts last.
    """
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, na_position="last")
    h = hashlib.md5()
    for row in df.itertuples(index=False):
        h.update("|".join(str(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    from monzo_data_pipeline_spark.registry import _DRIVER_PREFIX, specs
    from monzo_data_pipeline_spark.schemas import TESTDATA_TABLES
    from monzo_data_pipeline_spark.session import get_spark

    args = sys.argv[1:]
    # sf_dir is optional: the first arg is a path only if it isn't a
    # flag/query name (so `driver_canon_check.py --all` works as the
    # usage line advertises)
    if args and args[0] not in ("--all",) and os.path.isdir(args[0]):
        sf_dir, rest = args[0], args[1:]
    else:
        sf_dir, rest = "/root/testdata/sf0.01", args
    if rest == ["--all"]:
        only = None
    elif rest:
        only = set(rest)
        known = {s.name for s in specs()}
        unknown = only - known
        if unknown:
            # a typo'd query name must not read as a green gate run
            print(f"ERROR: unknown query names: {sorted(unknown)}")
            return 2
    else:
        only = set(_DRIVER_PREFIX)  # default: the driver's hash window

    spark = get_spark("driver-canon-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_skip = 0
    for spec in specs():
        if only is not None and spec.name not in only:
            continue
        if spec.oracle is None:
            n_skip += 1
            continue
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {spec.name}: spark/pandas error: {str(e)[:120]}")
            n_fail += 1
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {spec.name}: duckdb/pandas error: {str(e)[:120]}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} duckdb={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}"
            )
        if not problems:
            try:
                sh, oh = canon_hash(sdf), canon_hash(odf)
            except TypeError as e:  # the unhashable-list crash class
                print(f"FAIL  {spec.name}: canonicalizer crash: {e}")
                n_fail += 1
                continue
            if sh != oh:
                problems.append("value-hash mismatch (pandas canon)")
        if problems:
            print(f"FAIL  {spec.name}: " + "; ".join(problems))
            n_fail += 1
        else:
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only-skipped")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
