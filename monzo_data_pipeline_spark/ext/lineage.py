"""Lineage truncation for iterative DataFrame algorithms.

Every iterative operator in this engine (label propagation, PageRank,
BFS, BPE merges) re-plans against the previous round's output; without
truncation the logical plan deepens each round and analysis time grows
superlinearly. Truncation = checkpoint, and there are two kinds:

  * ``localCheckpoint`` — blocks live on EXECUTORS. Fast (no FS
    round-trip) but non-reliable: lose an executor (failure, dynamic
    deallocation) mid-job and the blocks are gone — at cluster scale a
    30-round label-propagation job restarts from round 0.
  * ``checkpoint`` — blocks written to the session's checkpoint
    directory (HDFS/S3/local FS). Survives executor loss; the
    scale-safe posture for long iterative jobs.

``truncate_lineage`` picks reliably when the session HAS a checkpoint
directory and falls back to localCheckpoint otherwise, so local test
runs stay fast while a cluster deployment only has to call
``sc.setCheckpointDir`` (or set ``SPARK_GRAFT_CHECKPOINT_DIR``, which
``session.get_spark`` forwards) to make every iterative operator
reliable at once.

``collect_if_small`` is the other half of those operators' shared
plumbing: the bounded "collect if small, else run distributed" guard
every driver finisher goes through.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.projection import quote_ident
from ..session import local_frame


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage: reliable
    ``checkpoint()`` when the SparkContext has a checkpoint dir,
    ``localCheckpoint()`` otherwise. Semantics are identical either
    way (a materialized leaf with the same rows); only the failure
    story differs."""
    sc = df.sparkSession.sparkContext
    # Option[String] on the JVM side: defined iff setCheckpointDir ran
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@contextmanager
def collect_if_small(
    df: DataFrame, cap: int, keys: Sequence[str]
) -> Iterator[tuple[list[tuple] | None, DataFrame]]:
    """Bounded driver finish for an iterative operator: yields
    ``(rows, cached)``, where ``rows`` is every row of ``df`` as a
    tuple when there are at most ``cap`` of them, else None.

    The iterative operators (PageRank, sssp, SCC, HITS, TextRank, the
    BPE merges, connected components) build a fact-scale input — an
    entity graph, a vocabulary — and then iterate on it. When that
    input is small, per-round planning and scheduling dwarf the data,
    so the operator collects it once and runs its exact integer rounds
    in Python; Python ``//`` on non-negative ints is Spark's ``DIV``,
    so both paths agree bit for bit (each operator pins this with a
    test that forces ``cap`` to 0). The cap bounds DRIVER memory,
    never coverage: a larger input takes the distributed rounds.

    What this guarantees at every call site:

      * rows with a NULL in any ``keys`` column are dropped first, on
        both paths — a NULL id joins nothing in the distributed
        rounds and would poison the driver's dict/sort finishers;
      * the input executes ONCE: it is persisted before the bounded
        read, and ``cached`` is that persisted frame for the
        distributed path to reuse;
      * the bounded read scans every cached partition in one job: the
        Arrow collect of a limit plans a per-partition limit plus a
        single-partition merge, where ``collect`` would take 1, then
        4, then 20... partitions in successive jobs;
      * ``cached`` is unpersisted when the ``with`` block exits, on
        every path — anything returned from inside the block must not
        still read it lazily (checkpoint or collect it first).
    """
    not_null = " AND ".join(f"{quote_ident(k)} IS NOT NULL" for k in keys)
    cached = df.filter(not_null).persist()
    try:
        tbl = cached.limit(cap + 1).toArrow()
        rows = None
        if tbl.num_rows <= cap:
            rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        yield rows, cached
    finally:
        cached.unpersist()


def keyed_frame(
    spark: SparkSession,
    items: Iterable[tuple],
    key_col: str,
    key_type: T.DataType,
    value_col: str,
    value_type: T.DataType = T.LongType(),
) -> DataFrame:
    """A driver finisher's (key, value) result as a DataFrame whose key
    column keeps the input id column's type."""
    schema = T.StructType(
        [T.StructField(key_col, key_type), T.StructField(value_col, value_type)]
    )
    return local_frame(spark, items, schema)
