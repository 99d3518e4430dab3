"""Shared fixtures: one SparkSession per test session (startup ~10 s,
amortized), sf0.001 testdata paths."""

from __future__ import annotations

import gc
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from monzo_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # One driver JVM serves the whole suite for twenty-odd minutes, long
    # enough for C2 to pay back: under get_spark's C1-only profile the
    # suite ran 31% longer on 4 vCPUs. Full tiered compilation is the
    # JVM default.
    s = get_spark(
        "pytest",
        shuffle_partitions=8,
        extra_conf={"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def checkpoint_dir(spark, tmp_path):
    """Reliable checkpoints for the test (ext/lineage.py): they write
    files and persist no RDD."""
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    yield d
    # clear: None maps to a JVM null -> Option(null) == None
    spark.sparkContext._jsc.sc().setCheckpointDir(None)


@pytest.fixture()
def jobs_in(spark):
    """``jobs_in(group, fn)`` runs ``fn()`` under Spark job group
    ``group`` and returns ``(fn(), ids of the jobs it ran)``."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def py4j_calls():
    """``py4j_calls(fn)`` returns ``(fn(), py4j round trips it made)``:
    every ``ClientServerConnection.send_command`` while ``fn`` runs, on
    any thread, so the release of the JVM objects ``fn`` dropped counts
    too (the garbage collector runs before and after)."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    calls = [0]

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    def run(fn):
        gc.collect()
        calls[0] = 0
        ClientServerConnection.send_command = counted
        try:
            out = fn()
            gc.collect()
        finally:
            ClientServerConnection.send_command = send
        return out, calls[0]

    return run


class PlainDirStore:
    """The reference table store: one plain parquet directory per
    table, every write visible as it lands, no manifest and no
    transaction. It shares no code with `atomic.AtomicWarehouse`, and
    its writes return the rows they wrote counted by a Spark job, not
    read off parquet footers. The medallion stages run on it
    unchanged."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(self._path(table))

    def read(self, table: str):
        return self.spark.read.parquet(self._path(table))

    def overwrite(self, df, table: str) -> int:
        n = df.count()
        df.write.mode("overwrite").parquet(self._path(table))
        return n

    def append(self, df, table: str) -> int:
        n = df.count()
        if n:
            df.write.mode("append").parquet(self._path(table))
        return n


@pytest.fixture(scope="session")
def plain_store(spark):
    """``plain_store(root)`` opens a `PlainDirStore` at ``root``."""
    return lambda root: PlainDirStore(spark, root)


@pytest.fixture(scope="session")
def exact_gold():
    """``exact_gold(silver)`` recomputes gold_monthly_spending from all
    of silver's fact rows: outflows (amount < 0) summed exactly in
    decimal per (year, month), ``avg_spend`` that sum in double ÷
    count (the engine's davg policy, functions/deterministic.py). The
    independent full recompute the incremental gold fold
    (pipeline/incremental.py) must match bit for bit."""
    from pyspark.sql import functions as F

    def recompute(silver):
        spend = -F.col("amount")
        return (
            silver.filter(F.col("amount") < 0)
            .groupBy(F.year("created").alias("year"), F.month("created").alias("month"))
            .agg(
                F.sum(spend).alias("total_spend"),
                (F.sum(spend).cast("double") / F.count(F.lit(1))).alias("avg_spend"),
            )
        )

    return recompute


def unpartitioned_windows(df) -> bool:
    """Walk the optimized logical plan: any Window node whose
    partitionSpec is empty serializes the whole input onto one task."""
    root = df._jdf.queryExecution().optimizedPlan()
    if "Window" not in root.toString():
        return False  # one JVM call instead of a walk, for most plans
    stack = [root]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            return True
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return False


# the DataFrame methods that materialize (or pin for later reuse) a
# plan while a registry query is being BUILT — eager per-round plans of
# the iterative operators never reach the returned frame's plan
_MATERIALIZERS = (
    "collect", "count", "toArrow", "toPandas",
    "checkpoint", "localCheckpoint", "persist", "cache",
)


class BuiltPlan:
    """One registry spec, built: its frame, or the exception its
    build raised, and whether a plan it materialized while building
    held an unpartitioned window."""

    def __init__(self, spec):
        self.spec = spec
        self.frame = None
        self.error = None
        self.windowed = False

    def result(self):
        """The built frame; re-raises the build's exception."""
        if self.error is not None:
            raise self.error
        return self.frame


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    """Every registry spec built once per session, in `specs()` order,
    with each materializing DataFrame method wrapped to look for
    unpartitioned windows in the plans a build runs. The registry-wide
    plan audits read these instead of building all specs each."""
    from pyspark.sql.classic.dataframe import DataFrame

    from monzo_data_pipeline_spark.registry import specs

    built: list[BuiltPlan] = []

    def inspecting(method):
        def wrapper(self, *args, **kwargs):
            if unpartitioned_windows(self):
                built[-1].windowed = True
            return method(self, *args, **kwargs)

        return wrapper

    with pytest.MonkeyPatch.context() as mp:
        for name in _MATERIALIZERS:
            mp.setattr(DataFrame, name, inspecting(getattr(DataFrame, name)))
        for spec in specs():
            built.append(BuiltPlan(spec))
            try:
                built[-1].frame = spec.fn(spark, sf_dir)
            except Exception as e:  # noqa: BLE001 — each audit re-raises it
                built[-1].error = e
    return built
