"""The custom `monzo_api` Spark data source: partitioned scan shape,
source-level predicate pushdown, and pipeline integration."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.sources import api_source as API


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    # runtime conf: the shared test session may predate the session.py
    # default (conftest builds it once per test session)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    API.register(spark)


def _read(spark, **opts):
    r = spark.read.format("monzo_api")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_scan_shape_and_partitioning(spark):
    df = _read(
        spark,
        since="2025-01-01T00:00:00",
        before="2025-01-05T00:00:00",
        n_per_window="30",
    )
    assert len(df.columns) == 31
    # 4 day-windows × 30 rows
    assert df.count() == 120
    # one input partition per cursor window
    assert df.rdd.getNumPartitions() == 4


def test_created_range_pushes_into_the_cursor(spark):
    """`created >= v` must narrow the fetch window at the SOURCE: rows
    are then GENERATED from v (created == v + i·min), not fetched from
    the original window start and filtered after. min(created) == v
    distinguishes source pruning from post-scan filtering."""
    v = datetime(2025, 1, 1, 6, 0, 0)
    df = _read(
        spark,
        since="2025-01-01T00:00:00",
        before="2025-01-03T00:00:00",
        n_per_window="30",
    ).filter(F.col("created") >= F.lit(v))
    assert df.agg(F.min("created")).first()[0] == v


def test_unsupported_filters_still_correct(spark):
    df = _read(
        spark,
        since="2025-01-01T00:00:00",
        before="2025-01-03T00:00:00",
        n_per_window="30",
    )
    spent = df.filter((F.col("amount") < 0) & (F.col("currency") == "GBP"))
    assert 0 < spent.count() < df.count()
    assert spent.agg(F.max("amount")).first()[0] < 0


def test_source_feeds_bronze_merge(spark, tmp_path):
    """format('monzo_api') → stamp → idempotent bronze merge: the
    connector slots into the same medallion path as mapInPandas
    ingestion."""
    from monzo_data_pipeline_spark.pipeline import medallion as MED
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
    from monzo_data_pipeline_spark.schemas import BRONZE_TRANSACTIONS_SCHEMA

    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    flat = _read(
        spark,
        since="2025-02-01T00:00:00",
        before="2025-02-03T00:00:00",
        n_per_window="25",
    ).withColumn("date_retrieved", F.lit("2025-02-04T00:00:00").cast("timestamp"))
    flat = flat.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in BRONZE_TRANSACTIONS_SCHEMA.fields
        ]
    )
    MED._merge_append(wh, flat, MED.BRONZE_TX, ["id"])
    n1 = wh.read(MED.BRONZE_TX).count()
    assert n1 > 0
    MED._merge_append(wh, flat, MED.BRONZE_TX, ["id"])  # replay: no-op
    assert wh.read(MED.BRONZE_TX).count() == n1


def test_streaming_source_cursor_advances_and_feeds_bronze(spark, tmp_path):
    """readStream.format('monzo_api'): each micro-batch is one cursor
    window; caught-up source emits empty batches (processAllAvailable
    returns); rows land in bronze via the same idempotent merge."""
    from monzo_data_pipeline_spark.pipeline import medallion as MED
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
    from monzo_data_pipeline_spark.schemas import BRONZE_TRANSACTIONS_SCHEMA

    wh = AtomicWarehouse(spark, str(tmp_path / "wh_stream"))

    stream = (
        spark.readStream.format("monzo_api")
        .option("since", "2025-03-01T00:00:00")
        .option("before", "2025-03-04T00:00:00")
        .option("n_per_window", "20")
        .load()
    )

    def to_bronze(batch_df, epoch_id):
        stamped = batch_df.withColumn(
            "date_retrieved", F.lit("2025-03-05T00:00:00").cast("timestamp")
        ).select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in BRONZE_TRANSACTIONS_SCHEMA.fields
            ]
        )
        MED._merge_append(wh, stamped, MED.BRONZE_TX, ["id"])

    q = (
        stream.writeStream.foreachBatch(to_bronze)
        .option("checkpointLocation", str(tmp_path / "ckpt_api"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = wh.read(MED.BRONZE_TX)
    # 3 windows × 20 rows, minus cross-window dups collapsed by the merge
    n_ids = got.select("id").distinct().count()
    assert got.count() == n_ids
    assert 50 <= got.count() <= 60


def test_stream_reader_replay_is_deterministic(spark):
    from monzo_data_pipeline_spark.sources.api_source import MonzoApiStreamReader

    r = MonzoApiStreamReader(
        {"since": "2025-03-01T00:00:00", "before": "2025-03-03T00:00:00",
         "n_per_window": "10"}
    )
    start = r.initialOffset()
    rows1, end = r.read(start)
    replay = list(r.readBetweenOffsets(start, end))
    assert list(rows1) == replay
    assert end == {"cursor": "2025-03-02T00:00:00"}
    # caught up: no offset advance
    rows3, end3 = r.read({"cursor": "2025-03-03T00:00:00"})
    assert list(rows3) == [] and end3 == {"cursor": "2025-03-03T00:00:00"}
