"""SparkSession factory.

Scale posture: these configs are chosen so the same code runs on
local[N] for tests and on a 1000-executor cluster against ~100 TB —
AQE handles runtime re-planning (partition coalescing, skew joins,
broadcast demotion/promotion), and we never hand-schedule what
Catalyst already optimizes.

The reference has no session concept — it opens a sqlite3 connection
per run (/root/reference/src/load/load.py:250). Here one SparkSession
is shared across the whole query suite (BASELINE.md: reuse the
session to amortize JVM startup).

Two rules keep the driver's traffic with that JVM small. A run of this
engine is short, so its per-run driver overhead is most of its cost.

  * **Driver rows enter as Arrow, through `local_frame`.**
    ``spark.createDataFrame(<python list>)`` builds an RDD of pickled
    rows, and every action that scans it runs Python worker tasks, one
    per default-parallelism slice. Each task costs about 0.2 s of
    worker CPU, even for one row. Most of it is
    ``importlib.invalidate_caches()`` in the worker's set-up, which
    under Python 3.11 re-reads the central directory of each of the 16
    zip importers on the worker's path: 0.16 s per call, measured
    inside a worker (4 vCPU, local[4]; a 1-row frame's collect cost
    0.79 s of worker CPU and 0.29 s of wall time, against 0 s and
    0.03 s as a `local_frame`). `local_frame` hands Spark one Arrow
    table instead, which it plans as a ``LocalRelation``; no Python
    task runs. The two ``mapInPandas`` fetch tasks of an ingest run
    (`pipeline.ingest.fetch_transactions_distributed`) still pay the
    set-up by design: the fetch is Python code.
  * **Plans enter as SQL text.** In PySpark 4 each Column-API call is
    at least one py4j round trip, and releasing the JVM object it made
    is another. A 40-column ``F.col(c).alias(...)`` projection measured
    1,214 round trips; the same projection through ``selectExpr`` took
    45 (one per expression string) and through one ``spark.sql``
    statement 12. So projections, windows and aggregates over many
    columns are built as ``selectExpr`` / ``F.expr`` / SQL strings,
    with identifiers quoted by `operators.projection.quote_ident`. A
    steady-state ingest run went from about 6,300 round trips to about
    650 (``tests/test_pipeline.py`` pins a budget of 1,300).
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "monzo-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Notes on each config (all public Spark knobs):
      - AQE on: runtime coalescing of shuffle partitions + skew-join
        splitting; at 100 TB this is what keeps a fixed
        ``shuffle.partitions`` from being wrong in both directions.
      - ``spark.sql.session.timeZone=UTC``: the reference mixes naive
        local and Z-suffixed timestamps (load.py:47 vs
        api_client.py:179-187); engine policy is UTC everywhere so
        results are oracle-comparable.
      - Arrow on: any pandas interop (toPandas, pandas UDFs in
        ext/) moves columnar, not row-at-a-time pickles.
      - parquet filter pushdown / column pruning are Spark defaults;
        left explicit here as documentation of the scan contract.
      - Driver JIT profile ``-XX:TieredStopAtLevel=1`` (C1 only): a run
        of this engine is a short batch job in one local-mode JVM, too
        short to repay HotSpot's C2 optimising compiles, whose threads
        burned more CPU than the Spark task threads. With C1 only, the
        benchmark's median CPU per request fell from 37.0 to 21.8 s on
        an ingest run and from 19.0 to 12.1 s on a corpus pass, and
        set-up time fell too (10 seeds each, 4 vCPU, local[4]). Task
        threads run slower C1 code: +0.3 s and +2.5 s on two ingest
        runs split by thread (tools/cpu_split.py), against 16.5 s and
        16.1 s of C2 time saved. It is set as the driver's *default*
        Java options, so a caller's ``spark.driver.extraJavaOptions``
        is appended to it rather than replacing it. It takes effect
        only when this call launches the JVM: ``getOrCreate`` on a live
        session keeps that JVM's flags. Executors keep the JVM default:
        on a cluster they are long-lived, and their hot task loops are
        where C2 pays back. Cluster drivers are unmeasured. A
        long-lived local session repays C2 too (the test suite, one JVM
        for ~25 min on 4 vCPUs, ran 31% longer under C1 only); it
        passes ``-XX:TieredStopAtLevel=4``, the JVM default, as
        ``spark.driver.defaultJavaOptions`` in ``extra_conf``.
        ``-XX:ReservedCodeCacheSize=240m`` rides with it: under
        ``TieredStopAtLevel=1`` HotSpot sizes the code cache as for a
        non-tiered VM (48 MB instead of 240 MB, read through JMX). A
        session that fills it logs "CodeCache is full. Compiler has
        been disabled", and methods not yet compiled then stay
        interpreted for the rest of its life. 240 MB is the tiered
        default, so the cache is reserved as for a default JVM, no
        larger.
      - ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``:
        lets AQE re-plan a *cached* plan like any other, so a
        ``persist()``-ed shuffled frame is coalesced to
        ``advisoryPartitionSizeInBytes`` instead of keeping
        ``shuffle.partitions`` partitions. Every persisted frame that is
        then written (``load_bronze``, ``_merge_append``) lands as one
        file per 64 MB, not 32 tiny files per write that every later
        scan must open. Spark's
        documented trade (the config's description, off by default):
        a query that reads the cached data may then need an extra
        shuffle, because the cache no longer promises its original
        partitioning. On the benchmark's incremental ingest run of
        ~2.5k rows (4 vCPU, 10 seeds) this setting alone cut the median
        CPU per run from 20.3 to 9.2 s; with the delta-driven
        ``run_pipeline_atomic`` a run writes 4 part files instead of 67
        and runs 38 tasks instead of 463 (seed 1). The corpus pass,
        whose persisted frames are read rather than written, moved
        +2.7% in CPU and +6.9% in set-up time (medians of 5 seeds),
        inside the benchmark's 25% bound.
      - ``spark.sql.codegen.cache.maxEntries=1000``: Spark keeps the
        classes Janino compiled for whole-stage codegen in one LRU per
        JVM, 100 entries by default, and the setting is static (read
        once, when the first class is compiled). The working sets of
        this engine's runs are larger: one corpus curation pass
        compiles 132 classes, and the first two ingest runs about 110
        (68 + 45). With 100 entries each steady corpus pass recompiled
        48-50 of them (``CodegenMetrics`` compile count; about 1.3-1.5
        s of Janino time), and a steady ingest run 5-19. With 1,000 a
        steady corpus pass compiles none and a steady ingest run 5
        (seed 1, 4 vCPU). Those 5 are not misses: the run's timestamp
        literals (``flatten_bronze``'s ``date_retrieved`` and
        ``transform_silver``'s ``inserted_at``) are folded and inlined
        into the generated source, so each run's classes are new. 1,000
        holds about seven such working sets side by side, for a session
        that alternates ingest, curation and registry queries.
    """
    # Executor Python workers are separate processes; make this package
    # importable there regardless of the driver's cwd (local mode inherits
    # PYTHONPATH from the driver's environment).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores timestamp[ns]; Spark's vectorized
        # reader refuses ns→TimestampType, so read ns as long and convert
        # in catalog.load_table (exactly DuckDB's truncate-to-µs behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as annotated INT64 micros, not legacy INT96:
        # INT96 footers defeat the catalog's ts-unit sniffing and every
        # modern reader (DuckDB, pyarrow) treats INT96 as deprecated
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # custom Python data sources (sources/api_source.py) push
        # created-range predicates into the REST cursor window
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # shuffle/spill scratch on tmpfs: at local[32] scale the shuffle
        # files are tiny but the create/fsync/delete churn showed up as
        # 50-70% kernel time in vmstat; memory-backed scratch removes it
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-scratch"))
        .config("spark.ui.enabled", "false")
        # size-first AQE coalescing: let the advisory partition size
        # (not defaultParallelism) govern post-shuffle partition counts.
        # The default parallelismFirst=true pins tiny stages at 32
        # near-empty tasks on this host; at 100 TB the SAME advisory
        # size yields thousands of right-sized partitions — this is the
        # setting Spark's own AQE docs recommend flipping off.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        # AQE sizes cached plans too: see the docstring
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # compiled-class cache sized to the working set: see the docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # driver JIT profile: see the docstring
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
    )
    # SPARK_GRAFT_ANSI=1: run under ANSI SQL semantics — arithmetic
    # that would silently wrap/NULL in legacy mode raises instead. The
    # engine's exactness contracts are written to survive both (the
    # full oracle gate is CI'd under this flag too); production
    # deployments that prefer fail-fast arithmetic set it.
    if os.environ.get("SPARK_GRAFT_ANSI") == "1":
        builder = builder.config("spark.sql.ansi.enabled", "true")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # reliable-checkpoint dir for iterative operators (ext/lineage.py):
    # point at HDFS/S3 on a cluster; unset → localCheckpoint fallback
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def local_frame(
    spark: SparkSession,
    rows: Iterable[tuple | dict],
    schema: StructType | str,
) -> DataFrame:
    """Driver-side rows as a JVM local relation: the one way rows held
    in Python enter a plan (see the module docstring).

    ``rows`` are tuples in ``schema`` order or dicts keyed by field
    name (a missing key is NULL); ``schema`` is a ``StructType`` or a
    DDL string. The rows become one ``pyarrow.Table`` typed from the
    schema, and Spark plans it as a ``LocalRelation``: no Python task
    runs when the frame is scanned. A naive ``datetime`` is read in the
    session time zone (UTC under `get_spark`), an aware one as the
    instant it names.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    if rows and isinstance(rows[0], dict):
        columns = [[r.get(n) for r in rows] for n in schema.names]
    else:
        columns = [list(c) for c in zip(*rows)] or [[] for _ in schema.names]
    arrays = []
    for field, values in zip(schema.fields, columns):
        if isinstance(field.dataType, TimestampType) and any(
            v is not None and v.tzinfo is not None for v in values
        ):
            zone = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
            values = [
                v.astimezone(zone).replace(tzinfo=None)
                if v is not None and v.tzinfo is not None
                else v
                for v in values
            ]
        arrays.append(
            pa.array(values, type=to_arrow_type(field.dataType, timestamp_utc=False))
        )
    table = pa.Table.from_arrays(arrays, names=schema.names)
    return spark.createDataFrame(table, schema)
