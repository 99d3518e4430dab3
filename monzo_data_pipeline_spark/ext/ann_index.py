"""Persisted IVF index — build once, search many.

`ext/similarity.py::ivf_topk` recomputes the centroid assignment per
query; fine inside one job, wrong as a serving pattern: at 100 TB the
assignment IS the index and must be an artifact, not a subplan. Here
the assignment table is written PARTITIONED BY cell and staged into an
`atomic.AtomicWarehouse` as one data dir, so a search's probe reads
ONLY the probed cell's files — the partition layout is the
inverted-list structure of a classical IVF index (FAISS's coarse
quantizer), expressed as plain partitioned parquet. An index and its
metadata tables are written in one transaction: a failed rebuild
leaves the previous index whole, never an index whose metadata
describes another build.

  * `build_ivf_index` — assign every vector to its nearest centroid
    (same deterministic quantized-dot argmax the oracle-gated
    `ivf_topk` uses) and write `(id, embedding, cell)` partitionBy
    cell. One extra table scan amortized over every future search.
  * `search_ivf_index` — locate the query's cell from the index
    itself, then brute-force only that cell. The 1-row query frame
    broadcast-joins the partitioned scan on the partition column, so
    Spark's dynamic partition pruning (DPP) reduces the file scan to
    the single probed directory — search cost ∝ cell size, not
    table size, at the FILE level, verified by the plan test.

Index searches return bit-identical results to the fresh
`ivf_topk` path (same assignment rule, same tie-breaks) — asserted in
tests and by the registry query `ivf_index_search`, whose oracle is
the SAME DuckDB twin as `ivf_topk`.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.atomic import AtomicWarehouse, _Transaction
from ..session import local_frame
from ..sources.io import write_table
from .similarity import ivf_assign, quantized_dot


def _stage_cells(txn: _Transaction, rows: DataFrame, table: str) -> None:
    """Append `rows` to `table` as one data dir partitioned by cell.
    r10 (guide §6, output file sizing): the rows are clustered by cell
    before the write — ivf_assign fans the assignment out, and writing
    K cells from P partitions would fragment each cell directory into
    ~P files, multiplying every later DPP-pruned search's open/footer
    cost. One exchange buys one file per cell. The write lands in a
    scratch dir beside the table's data dirs and is hardlinked in."""
    src = txn.wh._abs(f"{table}/_cells_{uuid.uuid4().hex[:8]}")
    write_table(rows.repartition("cell"), src, partition_by=["cell"])
    try:
        txn.append_parquet_dir(src, table, link=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def build_ivf_index(
    wh: AtomicWarehouse,
    emb: DataFrame,
    table: str = "ivf_index",
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF assignment as a cell-partitioned warehouse
    table (the centroid rule matches ivf_topk: first n_centroids ids,
    quantized-dot argmax, ties to the lower cell), replacing any
    previous build in one commit."""
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    with wh.transaction() as txn:
        txn.replace_dirs(table, txn.tables.get(table, []), None)
        _stage_cells(txn, assigned, table)
        # persist the builder's parameters next to the index: the
        # centroid set is DEFINED by n_centroids (vec_id < K is only
        # the centroid rule under the builder's K), so a search must
        # read K from the artifact, never guess it
        txn.overwrite(
            local_frame(emb.sparkSession, [(int(n_centroids),)], "n_centroids int"),
            table + "__meta",
        )


def _index_n_centroids(
    spark: SparkSession, wh: AtomicWarehouse, table: str
) -> int:
    """The builder's n_centroids, read from the index's metadata
    table (written by build_ivf_index)."""
    return int(wh.read(table + "__meta").head()["n_centroids"])


def search_ivf_index(
    spark: SparkSession,
    wh: AtomicWarehouse,
    table: str = "ivf_index",
    query_id: int = 0,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors of `query_id` from the persisted index: probe
    exactly the query's cell. The broadcast 1-row query joined on the
    PARTITION column lets DPP prune the scan to one directory."""
    assigned = wh.read(table)
    q = assigned.filter(F.col(id_col) == query_id).select(
        F.col("cell").alias("q_cell"), F.col(vec_col).alias("__qvec")
    )
    mates = assigned.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell"))
        & (F.col(id_col) != query_id),
    )
    return (
        mates.select(
            id_col,
            # partition-column directory inference reads cell as INT;
            # cast back so the index path's schema matches the fresh
            # ivf_topk path (and the shared oracle) exactly
            F.col("cell").cast("bigint").alias("cell"),
            quantized_dot(vec_col, "__qvec").alias("dot_q"),
        )
        .orderBy(F.desc("dot_q"), F.asc(id_col))
        .limit(k)
    )


def search_ivf_index_multiprobe(
    spark: SparkSession,
    wh: AtomicWarehouse,
    table: str = "ivf_index",
    query_id: int = 0,
    k: int = 5,
    n_probe: int = 3,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe search on the persisted index: rank the centroids
    against the query (the centroid VECTORS live in the index — they
    are its first n_centroids rows, same rule as the builder) and scan
    the top `n_probe` cell directories. DPP prunes the partitioned
    scan to those n_probe directories; everything query-side is a
    ≤K-row broadcast. Bit-identical to the fresh
    `similarity.ivf_topk_multiprobe` subplan.

    `n_centroids` defaults to the value persisted by the BUILDER
    (the index's metadata table) — `vec_id < K` is only the centroid
    rule under the builder's K, so a caller-supplied K that differs
    would silently rank non-centroid rows as centroids and probe
    wrong cells; an explicit value is checked against the metadata."""
    built_k = _index_n_centroids(spark, wh, table)
    if n_centroids is None:
        n_centroids = built_k
    elif n_centroids != built_k:
        raise ValueError(
            f"index {table!r} was built with n_centroids={built_k}, "
            f"search asked for {n_centroids}"
        )
    assigned = wh.read(table)
    qvec = assigned.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    centroids = assigned.filter(F.col(id_col) < n_centroids)
    probe = (
        centroids.crossJoin(F.broadcast(qvec))
        .select(
            # in the cell column's type: a cast on the partition
            # column's side of the join would stop DPP at a Union
            # (an index of several data dirs)
            F.col(id_col).cast(assigned.schema["cell"].dataType).alias("__pcell"),
            quantized_dot(vec_col, "__qvec").alias("__s"),
        )
        .orderBy(F.desc("__s"), F.asc("__pcell"))
        .limit(n_probe)
        .select("__pcell")
    )
    return (
        assigned.join(
            F.broadcast(probe), F.col("cell") == F.col("__pcell")
        )
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            F.col("cell").cast("bigint").alias("cell"),
            quantized_dot(vec_col, "__qvec").alias("dot_q"),
        )
        .orderBy(F.desc("dot_q"), F.asc(id_col))
        .limit(k)
    )


# --- IVF-PQ composite index (r10) -------------------------------------------
#
# The production ANN shape (FAISS IVFADC, Jégou et al. 2011): the
# inverted-file layout bounds WHICH rows a search reads (DPP-pruned
# cell directories), product quantization bounds HOW MUCH is read per
# row (m one-byte codes instead of d floats), and the exact re-rank
# touches only the shortlist's full-precision vectors. Both halves
# exist separately in this engine (build_ivf_index above;
# similarity.pq_fit/pq_encode/pq_adc_rerank_topk); the composite keys
# the PQ codes BY the IVF cell so one partitioned artifact serves the
# whole query: probe -> ADC -> rerank.


def build_ivfpq_index(
    wh: AtomicWarehouse,
    emb: DataFrame,
    table: str = "ivfpq_index",
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the composite index: every vector carries its IVF
    cell (partition column — the inverted list), its PQ codes (the
    compressed representation ADC scans), and its full-precision
    vector (the rerank payload; at 100 TB this column moves to a
    cold id-keyed store and only the shortlist is fetched).

    Three artifacts, committed together: the cell-partitioned index
    table, the m×ksub codebook table (bounded — the search reads it
    driver-side to build the ADC lookup), and the builder-parameter
    metadata (n_centroids/m/ksub are all part of the index's identity;
    a search must read them from the artifact, never guess)."""
    from .similarity import pq_encode, pq_fit

    cbs = pq_fit(
        emb, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(emb, cbs, id_col=id_col, vec_col=vec_col)
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    spark = emb.sparkSession
    with wh.transaction() as txn:
        txn.replace_dirs(table, txn.tables.get(table, []), None)
        _stage_cells(txn, assigned.join(codes, id_col), table)
        txn.overwrite(
            local_frame(
                spark,
                [(int(s), int(c), [float(x) for x in v]) for s, c, v in cbs],
                "sub int, cell int, centroid array<double>",
            ),
            table + "__codebook",
        )
        txn.overwrite(
            local_frame(
                spark,
                [(int(n_centroids), int(m), int(ksub))],
                "n_centroids int, m int, ksub int",
            ),
            table + "__meta",
        )


def search_ivfpq_index(
    spark: SparkSession,
    wh: AtomicWarehouse,
    table: str = "ivfpq_index",
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 3,
    oversample: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC search against the persisted composite index:

      1. rank the K centroids (the index's first K rows, the
         builder's rule read from metadata) against the query and
         keep the top ``n_probe`` cells;
      2. DPP-pruned scan of ONLY those cell directories; per
         candidate row the ADC cost is m table lookups over its
         codes (the lookup table is built driver-side from the one
         collected query vector and the bounded codebook table, and
         ships as an integer literal — no join, no float math);
      3. exact quantized re-rank of the k·oversample shortlist
         against full-precision vectors.

    Returns (id, cell, d2_q) — bit-identical to
    ``similarity.pq_adc_rerank_topk`` restricted to the probed cells
    (same trainer, same ADC table, same tie-breaks; asserted in
    tests/test_ann_index.py and by the registry oracle twin)."""
    import math

    from .similarity import QUANT, quantized_dist_sq, quantized_dot

    meta = wh.read(table + "__meta").head()
    n_centroids, m, ksub = (
        int(meta["n_centroids"]), int(meta["m"]), int(meta["ksub"])
    )
    cb_rows = wh.read(table + "__codebook").collect()
    cb = {(r["sub"], r["cell"]): list(r["centroid"]) for r in cb_rows}
    dsub = len(next(iter(cb.values())))

    assigned = wh.read(table)
    qrow = assigned.filter(F.col(id_col) == query_id).select(
        vec_col
    ).head()
    if qrow is None:
        raise ValueError(
            f"search_ivfpq_index: query_id {query_id} not in index"
        )
    qv = [int(math.floor(float(x) * QUANT)) for x in qrow[vec_col]]
    # ADC lookup table: exact integer d² from the query's subvectors
    # to every sub-centroid — m·ksub·dsub driver-side multiplies,
    # corpus-independent (the pq_adc_topk table, cell-restricted scan)
    tbl = [
        [
            sum(
                (qv[s * dsub + i] - int(math.floor(float(x) * QUANT)))
                ** 2
                for i, x in enumerate(cb[(s, c)])
            )
            for c in range(ksub)
        ]
        for s in range(m)
    ]
    tbl_sql = "array({})".format(
        ",".join(
            "array({})".format(",".join(f"{d}L" for d in row))
            for row in tbl
        )
    )

    qvec = assigned.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    centroids = assigned.filter(F.col(id_col) < n_centroids)
    probe = (
        centroids.crossJoin(F.broadcast(qvec))
        .select(
            # in the cell column's type: a cast on the partition
            # column's side of the join would stop DPP at a Union
            # (an index of several data dirs)
            F.col(id_col).cast(assigned.schema["cell"].dataType).alias("__pcell"),
            quantized_dot(vec_col, "__qvec").alias("__s"),
        )
        .orderBy(F.desc("__s"), F.asc("__pcell"))
        .limit(n_probe)
        .select("__pcell")
    )
    cand = assigned.join(
        F.broadcast(probe), F.col("cell") == F.col("__pcell")
    ).filter(F.col(id_col) != query_id)
    adc = F.expr(
        "aggregate(zip_with(codes, sequence(0, size(codes) - 1), "
        f"(c, s) -> {tbl_sql}[s][c]), 0L, (a, v) -> a + v)"
    )
    short = (
        cand.select(id_col, adc.alias("__adc"))
        .orderBy(F.asc("__adc"), F.asc(id_col))
        .limit(k * oversample)
        .select(id_col)
    )
    return (
        cand.join(F.broadcast(short), id_col)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            F.col("cell").cast("bigint").alias("cell"),
            quantized_dist_sq(vec_col, "__qvec").alias("d2_q"),
        )
        .orderBy(F.asc("d2_q"), F.asc(id_col))
        .limit(k)
    )


def append_ivfpq_index(
    wh: AtomicWarehouse,
    new_emb: DataFrame,
    table: str = "ivfpq_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Absorb NEW vectors into an existing composite index without a
    rebuild — the maintenance path that keeps a serving index live at
    100 TB: quantizers are FROZEN (the persisted centroid set and PQ
    codebooks define the index's geometry; retraining them would
    silently re-shape every existing cell), new vectors are assigned
    and encoded under them, and the rows land as one more
    cell-partitioned data dir of the table, committed atomically —
    existing files are never touched, searches see old+new after the
    commit with unchanged plans (DPP still prunes to probed cells).

    Equivalence contract (tested): append(half B) onto build(half A)
    ≡ encoding A∪B under A's frozen quantizers — bit-identical search
    results. NOT equivalent to build(A∪B), whose quantizers train on
    more data; periodic re-build (re-train + rewrite) is the
    compaction analog, run when drift between the frozen quantizers
    and the data warrants it (`ann_recall_eval` is the dial)."""
    from .similarity import pq_encode

    # read inside the transaction: the commit's version check then
    # covers the quantizers and ids the append was computed against
    with wh.transaction() as txn:
        n_centroids = int(txn.read(table + "__meta").head()["n_centroids"])
        cbs = [
            (int(r["sub"]), int(r["cell"]), list(r["centroid"]))
            for r in txn.read(table + "__codebook").collect()
        ]
        index = txn.read(table)
        centroids = index.filter(F.col(id_col) < n_centroids).select(
            id_col, vec_col
        )
        dup = new_emb.join(
            index.select(id_col), id_col, "left_semi"
        ).limit(1).collect()
        if dup:
            raise ValueError(
                f"append_ivfpq_index: id {dup[0][id_col]} already in the "
                "index (ids are the rerank fetch key — duplicates would "
                "double-count in every search)"
            )
        assigned = ivf_assign(
            new_emb, centroids, id_col=id_col, vec_col=vec_col
        )
        codes = pq_encode(new_emb, cbs, id_col=id_col, vec_col=vec_col)
        _stage_cells(txn, assigned.join(codes, id_col), table)
