"""Schema-pinned readers and layout-aware writers.

The reference's entire I/O surface is one SQLite file round-tripped
through S3 (/root/reference/src/main.py:42-49,67-69). The engine
replaces it with direct columnar I/O: parquet (primary), CSV/JSON
(interchange), all with DECLARED schemas — inference is a scan of the
data and a correctness hazard (SURVEY.md §1.2: the reference has no
inference either).

Writer layout is where 100 TB performance is decided:
  * partitionBy(date) → incremental loads touch one directory;
    time-range predicates become partition pruning (never list, let
    alone read, other days);
  * sortWithinPartitions(key) → parquet min/max page stats make key
    lookups skip pages;
  * explicit file sizing via repartition(n) before write — many small
    files poison listing; one giant file poisons parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    timestamp_format: str | None = None,
) -> DataFrame:
    reader = spark.read.schema(schema).option("header", str(header).lower())
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_json_lines(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """NDJSON reader — the wire format a REST ingest would land as raw
    payloads before flattening (A7)."""
    return spark.read.schema(schema).json(path)


def read_json_robust(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """NDJSON reader with quarantine: PERMISSIVE parse keeps malformed
    lines in a `_corrupt_record` column instead of failing the job (at
    100 TB there WILL be broken lines; one bad record must not kill an
    ingest). Returns (good_rows, quarantine) — the quarantine frame
    carries the raw line for the dead-letter path the reference's
    swallow-and-log transform (/root/reference/src/transform/
    transform.py:13-14) should have been.

    Note Spark's contract: a corrupt-record query must select the
    corrupt column from a CACHED or separately-projected frame — the
    same scan cannot prune it — hence the explicit two-frame split.
    """
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantine = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return good, quarantine


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
    target_files: int | None = None,
    fmt: str = "parquet",
    bloom_filter_cols: list[str] | None = None,
) -> None:
    """Layout-aware table write (the A5 sink, done columnar).

    ``bloom_filter_cols`` writes a parquet bloom filter per listed
    column: point lookups (`id = ?`, semi-joins on ids) skip
    row groups that min/max stats can't rule out — the win is on
    high-cardinality unsorted columns (UUID-ish transaction ids)
    where every row group's [min,max] spans the whole domain. Costs
    ~1 MB/row group per column, so list only join/lookup keys.
    """
    out = df
    if target_files:
        out = out.repartition(target_files, *(partition_by or []))
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    writer = out.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for c in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.save(path)


def read_with_schema_merge(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Schema-evolution read: union the schemas of all files in the
    directory (parquet mergeSchema). The file-level analog of
    `unionByName(allowMissingColumns=True)` — columns absent in older
    files surface as NULL. At 100 TB enable only on evolving tables:
    merging footers across every file is a listing+read cost."""
    return (
        spark.read.option("mergeSchema", "true").format(fmt).load(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
    equi_depth: bool = False,
    sample_size_per_partition: int | None = None,
) -> None:
    """Z-order (Morton-curve) layout: cluster files so parquet min/max
    statistics skip files for predicates on EITHER of two columns.

    Range-partitioning on one key gives perfect skipping on that key
    and none on any other; interleaving the bits of both (min/max-
    normalized) keys gives ~sqrt-of-file-count skipping on each —
    the standard multi-dimensional clustering trade (cf. Delta/Iceberg
    OPTIMIZE ZORDER; implemented here with plain Spark expressions).

    Pipeline: one cheap min/max agg → broadcast back → codegen'd bit
    interleave → repartitionByRange on the z-value (range exchange =
    one skew-aware sampling pass) → per-file sort for page-level stats.

    Normalization: min/max by default (zero extra passes) — fine for
    roughly uniform keys, but a heavy-tailed column collapses onto few
    bit patterns and loses its skipping power (the test demonstrates
    this boundary). ``equi_depth=True`` rank-normalizes instead:
    approx-quantile boundaries (one lightweight sampling pass, same
    mechanism range partitioning uses) feed an ML `Bucketizer` — a
    JVM-side binary search per row — so each bucket holds ~equal row
    counts regardless of skew. Equi-depth caps at 8 bits/dimension
    (256 buckets is ample for file-level stats).
    """
    from pyspark.sql import functions as F

    if equi_depth:
        from pyspark.ml.feature import Bucketizer

        bits = min(bits, 8)
        n_buckets = 1 << bits
        qs = [i / n_buckets for i in range(1, n_buckets)]
        work = df.withColumn("__da", F.col(col_a).cast("double")).withColumn(
            "__db", F.col(col_b).cast("double")
        )
        splits_a, splits_b = (
            [float("-inf")] + sorted(set(work.stat.approxQuantile(c, qs, 0.001)))
            + [float("inf")]
            for c in ("__da", "__db")
        )
        work = Bucketizer(
            inputCols=["__da", "__db"],
            outputCols=["__na", "__nb"],
            splitsArray=[splits_a, splits_b],
        ).transform(work)
        # low-cardinality columns dedupe to fewer buckets than 2^bits;
        # stretch indices back over the full bit range or the z-curve
        # tiles unevenly (high interleave bits would stay ~constant)
        scale = (1 << bits) - 1
        max_a = max(1, len(splits_a) - 2)
        max_b = max(1, len(splits_b) - 2)
        with_bounds = work.withColumn(
            "__na", F.round(F.col("__na") * scale / max_a).cast("long")
        ).withColumn("__nb", F.round(F.col("__nb") * scale / max_b).cast("long"))
        a_n, b_n = F.col("__na"), F.col("__nb")
        drop_cols = ["__da", "__db", "__na", "__nb"]
    else:
        scale = (1 << bits) - 1
        bounds = df.agg(
            F.min(col_a).alias("__a0"),
            F.max(col_a).alias("__a1"),
            F.min(col_b).alias("__b0"),
            F.max(col_b).alias("__b1"),
        )
        with_bounds = df.join(F.broadcast(bounds))

        def norm(c: str, lo: str, hi: str):
            span = F.col(hi).cast("double") - F.col(lo).cast("double")
            frac = (F.col(c).cast("double") - F.col(lo).cast("double")) / F.when(
                span > 0, span
            ).otherwise(F.lit(1.0))
            return F.round(frac * scale).cast("long")

        a_n = norm(col_a, "__a0", "__a1")
        b_n = norm(col_b, "__b0", "__b1")
        drop_cols = ["__a0", "__a1", "__b0", "__b1"]

    z = None
    for j in range(bits):
        term = (
            F.shiftleft(F.shiftright(a_n, j).bitwiseAND(F.lit(1)), 2 * j)
            + F.shiftleft(F.shiftright(b_n, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
        z = term if z is None else z + term
    # repartitionByRange draws boundary samples seeded by RDD id, so
    # the exact file split varies with session history. Fine at scale
    # (boundaries converge with data volume); for small reproducible
    # layouts raise the sample density so boundaries are ~exact
    # z-quantiles regardless of what ran before.
    spark = df.sparkSession
    conf_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    saved = spark.conf.get(conf_key, None)
    try:
        if sample_size_per_partition is not None:
            spark.conf.set(conf_key, str(sample_size_per_partition))
        (
            with_bounds.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z", *drop_cols)
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if sample_size_per_partition is not None:
            if saved is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, saved)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    target_shard_mb: int = 64,
    compression: str | None = None,
) -> int:
    """Export as size-targeted JSONL shards — the standard LLM
    training-data interchange (one JSON object per line, shards sized
    for sequential streaming readers). Returns the shard count.

    Two passes, both cluster-side: (1) serialize rows to JSON strings
    and measure total bytes with one agg; (2) round-robin repartition
    to ceil(total/target) shards and write as text. At 100 TB the
    measure pass is the same scan a writer needs anyway, and
    round-robin gives uniform shard sizes regardless of key skew
    (range-partitioning by a key would reintroduce it).
    """
    from pyspark.sql import functions as F

    lines = df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    )
    # persist so the measure pass and the write see ONE materialization
    # — an expensive or nondeterministic upstream would otherwise
    # recompute, and the measured total could disagree with the bytes
    # actually written
    lines = lines.persist()
    try:
        # octet_length, not length: character counts undersize CJK/emoji
        # corpora 3-4x on disk (UTF-8), blowing the shard-size contract
        total = lines.agg(
            F.sum(F.octet_length("value") + 1).alias("b")
        ).collect()[0]["b"]
        if total is None:
            total = 0
        n_shards = max(1, -(-int(total) // (target_shard_mb * 1024 * 1024)))
        writer = lines.repartition(n_shards).write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        writer.text(path)
    finally:
        lines.unpersist()
    return n_shards


def read_jsonl_shards(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read JSONL shards back with a pinned schema (no inference scan
    — at 100 TB schema inference is a full extra pass)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC reader with a pinned schema — same contract as
    read_parquet: no inference scan. ORC ships in Spark's classpath,
    carries the same columnar pruning/pushdown story as parquet, and
    is the interchange format Hive-era warehouses still emit."""
    return spark.read.schema(schema).orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC writer (snappy default) — mirror of the parquet path for
    pipelines landing into Hive-compatible consumers."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source for media ingestion: each file becomes one
    row (path, modificationTime, length, content) — the shape that
    feeds the multimodal decoders (`ext/images.py::image_stats` et
    al.) directly from an object-store drop of images/audio. At
    100 TB, spark.sql.files.maxPartitionBytes bounds per-task bytes
    and the payload column is prunable like any other."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    location: str | None = None,
    sort: bool = True,
) -> None:
    """Write `df` as a BUCKETED (and bucket-sorted) catalog table —
    Spark's persisted co-location primitive: both sides of a join
    bucketed by the join key into the same bucket count read
    pre-partitioned, so the join plans with NO shuffle exchange on
    either side (and no sort when bucket-sorted). At 100 TB this is
    the difference between re-shuffling the fact table on every join
    and paying the distribution once at write time — the lakehouse
    bucketing / Hive CLUSTERED BY pattern.

    `location` pins the table files to an explicit path (an external
    table — overwrite-safe even when a previous process left files
    behind and the in-memory catalog forgot the table)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    if location is not None:
        w = w.option("path", location)
    w.saveAsTable(table)
