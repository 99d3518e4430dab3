"""Driver rows enter a plan as Arrow (`session.local_frame`): the same
values as pyspark's row-at-a-time path, planned as a ``LocalRelation``
that no Python task scans."""

from __future__ import annotations

import calendar
from datetime import datetime, timedelta, timezone
from decimal import Decimal

from pyspark.sql import types as T

from monzo_data_pipeline_spark.ext.lineage import keyed_frame
from monzo_data_pipeline_spark.pipeline import ingest as ING
from monzo_data_pipeline_spark.session import local_frame

SCHEMA = (
    "i int, l bigint, s string, d double, m decimal(18,2), v array<double>, "
    "ts timestamp"
)
ROWS = [
    (1, 2**40, "a", 0.5, Decimal("12.34"), [1.0, -2.5], datetime(2024, 3, 1, 12, 30)),
    (-7, -(2**62), "", -1e300, Decimal("-0.01"), [], datetime(1999, 12, 31, 23, 59, 59, 999999)),
    (None, None, None, None, None, None, None),
    (0, 0, "ü", float("inf"), Decimal("0.00"), [None, 3.0], datetime(1970, 1, 1)),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_local_frame_matches_row_path(spark):
    """Every column type the engine passes, NULLs included, collects to
    the values the row-at-a-time path gives; DDL and StructType
    schemas agree, and an empty row list keeps the schema."""
    old = spark.createDataFrame(ROWS, SCHEMA)
    new = local_frame(spark, ROWS, SCHEMA)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert local_frame(spark, ROWS, old.schema).collect() == old.collect()
    empty = local_frame(spark, [], SCHEMA)
    assert empty.schema == old.schema and empty.collect() == []


def test_local_frame_dict_rows_by_name(spark):
    """Dict rows map by field name; a missing key is NULL."""
    got = local_frame(
        spark, [{"b": "x", "a": 1}, {"a": 2}], "a int, b string"
    ).collect()
    assert [tuple(r) for r in got] == [(1, "x"), (2, None)]


def test_local_frame_naive_datetime_is_session_time(spark):
    """A naive datetime is wall-clock time in the session zone (UTC,
    the engine's policy); an aware one is the instant it names."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    naive = datetime(2024, 3, 1, 12, 30, 15, 250)
    aware = datetime(2024, 3, 1, 14, 30, 15, 250, tzinfo=timezone(timedelta(hours=2)))
    df = local_frame(spark, [(naive,), (aware,), (None,)], "ts timestamp")
    got = [r.us for r in df.selectExpr("unix_micros(ts) AS us").collect()]
    want = calendar.timegm(naive.timetuple()) * 10**6 + naive.microsecond
    assert got == [want, want, None]


def test_driver_frames_plan_as_local_relations(spark):
    """A driver finisher's result and the ingest window frame are
    LocalRelations: no RDD of pickled rows, so scanning them starts no
    Python worker (the window frame's mapInPandas fetch still does, by
    design)."""
    kf = keyed_frame(spark, {"a": 1, "b": 2}.items(), "k", T.StringType(), "v")
    wire = ING.fetch_transactions_distributed(
        spark,
        ING.make_fake_fetch(n_per_window=2),
        ING.cursor_windows(datetime(2025, 1, 1), datetime(2025, 1, 3)),
    )
    for df in (kf, wire):
        plan = _plan(df)
        assert "LocalRelation" in plan
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert sorted(map(tuple, kf.collect())) == [("a", 1), ("b", 2)]
