"""Similarity search over array<float> embedding columns — SURVEY.md
§2.C3 / north star.

Two tiers:
  * brute force — exact, O(n·q): broadcast the (small) query set
    against the full corpus; per-pair dot products are higher-order
    array folds in codegen. Right answer, fine up to ~10⁷×10³.
  * bucketed LSH — the 100 TB path: deterministic sign-random-
    projection buckets prune the pair space; cost Σ|bucket|²/2.

Float determinism: scores are integer-quantized (floor(x·10⁶) per
element) before multiplication, so Spark and any oracle engine agree
bit-for-bit. The real-valued cosine is recovered at the end by
double division of exact integers — also deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import numpy as np
from pyspark.sql import functions as F

from ..operators.partitioning import fan_out
from ..session import local_frame

QUANT = 1000000.0


def _q(col: Column) -> Column:
    """Quantize one float to an exact integer: floor(double(x)·10⁶)."""
    return F.floor(col.cast("double") * F.lit(QUANT)).cast("long")


def quantized_dot(a: Column | str, b: Column | str) -> Column:
    """Exact integer dot product of two quantized vectors."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: _q(x) * _q(y))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def quantized_norm_sq(a: Column | str) -> Column:
    """Exact integer squared norm of a quantized vector."""
    return quantized_dot(a, a)


def quantized_cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine over quantized vectors: exact ints → one double division."""
    return quantized_dot(a, b) / F.sqrt(
        quantized_norm_sq(a).cast("double") * quantized_norm_sq(b).cast("double")
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force k-NN join: top-k corpus neighbors per query vector.

    queries is broadcast (it is the small side by construction); the
    corpus never shuffles. Ranking is a window per query — state k
    rows per query, deterministic via (score desc, vec_id asc).
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    # r10 (guide §2.5): fan the corpus out — the scoring stage is a
    # per-row interpreted dot product and single-row-group scans
    # otherwise run it on one core
    corpus = fan_out(corpus, id_col)
    scored = corpus.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        quantized_dot(vec_col, "__qvec").alias("dot_q"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dot_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "dot_q", "rank")
    )


def sign_bucket(vec_col: Column | str, n_bits: int = 8) -> Column:
    """Deterministic LSH bucket: integer from the sign bits of the
    first n_bits dimensions (a fixed axis-aligned random projection —
    no RNG, so every engine/run agrees)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(n_bits)),
        F.lit(0),
        lambda acc, j: acc * 2
        + F.when(F.element_at(c, j) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF cell assignment: each vector joins its nearest centroid
    (max quantized dot; deterministic tiebreak on cell id).

    Centroids are broadcast (K ≪ n); the argmax is a per-vector window
    over K scored rows. At 100 TB the output is written partitioned by
    cell, so queries probe 1/K of the data. Real IVF learns centroids
    with k-means; any deterministic centroid set (here: a fixed subset
    of vectors) exercises the identical plan.
    """
    c = centroids.select(
        F.col(id_col).alias(cell_col), F.col(vec_col).alias("__cvec")
    )
    # r10 (guide §2.5): fan out before the K-way scoring (see knn_join)
    scored = fan_out(emb, id_col).crossJoin(F.broadcast(c)).select(
        id_col,
        vec_col,
        cell_col,
        quantized_dot(vec_col, "__cvec").alias("__score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col(cell_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, vec_col, cell_col)
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int = 0,
    n_centroids: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-bucketed approximate top-k: assign all vectors (and the
    query) to cells, then brute-force ONLY the query's cell.

    The scale path for similarity search: the expensive scan shrinks
    from n to n/K; recall is the IVF tradeoff (no multi-probe here —
    add neighboring cells to probe for higher recall).
    """
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    q = assigned.filter(F.col(id_col) == query_id).select(
        F.col("cell").alias("q_cell"), F.col(vec_col).alias("__qvec")
    )
    cell_mates = assigned.join(
        F.broadcast(q), (F.col("cell") == F.col("q_cell")) & (F.col(id_col) != query_id)
    )
    return (
        cell_mates.select(
            id_col,
            "cell",
            quantized_dot(vec_col, "__qvec").alias("dot_q"),
        )
        .orderBy(F.desc("dot_q"), F.asc(id_col))
        .limit(k)
    )


def bucketed_near_pairs(
    emb: DataFrame,
    threshold: float = 0.2,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed near-pair search: pairs in the same sign bucket
    with quantized cosine ≥ threshold.

    The bucket join is the blocking step (2^n_bits buckets); recall
    is the standard LSH tradeoff and is tuned by n_bits — documented
    engine semantics, identical in the oracle.
    """
    with_bucket = emb.select(
        F.col(id_col), F.col(vec_col), sign_bucket(vec_col, n_bits).alias("bucket")
    )
    a = with_bucket.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"), "bucket"
    )
    b = with_bucket.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", quantized_cosine("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.2,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: greedy keep-min-id.

    A vector is dropped iff it has a near-duplicate (same LSH bucket,
    quantized cosine ≥ threshold) with a smaller id; survivors are
    everything else. This is the standard one-pass LSH dedup rule for
    training corpora — deterministic (ids give a total order), and an
    anti-join away from the candidate pairs, so the whole plan is
    bucket-join + anti-join: no iteration, no driver loop.

    Scale: candidate pairs are bounded by bucket sizes (2^n_bits
    blocking); the anti-join shuffles only the pair ids, not vectors.
    """
    pairs = bucketed_near_pairs(emb, threshold, n_bits, id_col, vec_col)
    dropped = pairs.select(F.col("vec_b").alias(id_col)).distinct()
    return (
        emb.join(dropped, id_col, "left_anti")
        .select(F.col(id_col), F.col("label"))
    )


def quantized_dist_sq(a: Column | str, b: Column | str) -> Column:
    """Exact integer squared Euclidean distance of quantized vectors."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(ca, cb, lambda x, y: (_q(x) - _q(y)) * (_q(x) - _q(y)))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _assign_prequantized(
    emb_q: DataFrame,
    centroids_q: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment over PRE-quantized long arrays
    (`__qv` on the corpus side, `__qc` on the broadcast centroid side):
    the per-pair lambda is a bare (x−y)² fold — quantization (cast +
    floor per element) runs once per vector, not once per (vector ×
    centroid). Min-struct argmin, deterministic tiebreak on cell id;
    the only shuffle is the per-vector groupBy."""
    diffs = F.zip_with("__qv", "__qc", lambda x, y: (x - y) * (x - y))
    scored = emb_q.crossJoin(F.broadcast(centroids_q)).select(
        id_col,
        vec_col,
        cell_col,
        F.aggregate(diffs, F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "__d2"
        ),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("__d2"), F.col(cell_col))).alias("__best"),
            F.first(vec_col).alias(vec_col),
        )
        .select(
            id_col,
            vec_col,
            F.col("__best")[cell_col].alias(cell_col),
            F.col("__best")["__d2"].alias("d2_q"),
        )
    )


def _quantize_rows(rows: list[tuple[int, list[float]]]):
    """Driver-side twin of `_q`: floor(x·10⁶) on the same IEEE double."""
    import math

    return [(c, v, [math.floor(x * QUANT) for x in v]) for c, v in rows]


def _assign_literal(
    emb_q: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment with the K×d centroid table inlined
    as a LITERAL array of (cell, qc) structs: per row, transform each
    centroid to (d2, cell) and take array_min — struct ordering gives
    the argmin with the low-cell tiebreak. ZERO shuffles and zero
    joins: assignment is pure map-side expression work, which is the
    posture that matters when the corpus is 100 TB and K·d is a few
    thousand literals."""
    # the K×d literal is rendered as ONE SQL string and parsed JVM-side:
    # building it from 500+ F.lit() objects costs ~0.5 s of py4j round
    # trips per iteration (measured), the expr parse is ~nothing
    cent_sql = ",".join(
        "named_struct('cell',{c},'qc',array({qs}))".format(
            c=c, qs=",".join(f"{int(q)}L" for q in qc)
        )
        for c, _, qc in _quantize_rows(cent_rows)
    )
    scored = F.expr(
        f"transform(array({cent_sql}), cen -> named_struct("
        "'d2', aggregate(zip_with(__qv, cen.qc, (x, y) -> (x-y)*(x-y)),"
        " 0L, (a, v) -> a+v), 'cell', cen.cell))"
    )
    return emb_q.withColumn("__best", F.array_min(scored)).select(
        id_col,
        vec_col,
        F.col("__best")["cell"].alias("cell"),
        F.col("__best")["d2"].alias("d2_q"),
    )


def kmeans_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (min exact-integer
    squared distance; deterministic tiebreak on cell id). Centroids are
    broadcast; see `_assign_prequantized` for the argmin shape."""
    emb_q = emb.withColumn("__qv", F.transform(F.col(vec_col), _q))
    c = centroids.select(
        F.col(cell_col),
        F.transform(F.col(vec_col), _q).alias("__qc"),
    )
    return _assign_prequantized(emb_q, c, id_col, vec_col, cell_col)


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fixed-iteration Lloyd's k-means as pure DataFrame ops (the IVF
    centroid trainer MLlib would otherwise provide).

    * init — the k lowest-id vectors (deterministic, no RNG);
    * assign — broadcast centroids, exact-integer quantized distances,
      min-struct argmin (kmeans_assign);
    * update — posexplode to (cell, pos, value), DECIMAL mean per
      coordinate (order-independent), re-assemble sorted by pos.

    Each round the K×d centroid table is collected to the driver and
    re-broadcast as a literal — lineage stays flat (no iterative plan
    blow-up) and K·d is driver-trivial at any corpus scale. Returns
    (assignments DataFrame, centroids DataFrame).

    At 100 TB: one shuffle per iteration (the (cell,pos) agg, ~K·d
    groups after map-side partial agg); the scored cross join never
    shuffles the corpus.
    """
    spark = emb.sparkSession
    cent_schema = f"cell int, {vec_col} array<double>"
    cent_rows = [
        (i, [float(x) for x in r[vec_col]])
        for i, r in enumerate(
            emb.orderBy(F.asc(id_col)).limit(k).collect()
        )
    ]
    if len(cent_rows) < k:
        raise ValueError(
            f"kmeans_fit: need at least k={k} vectors to seed centroids, "
            f"got {len(cent_rows)}"
        )
    d = len(cent_rows[0][1])
    # quantize the corpus once per job (1× per vector, not once per
    # vector×centroid — the fold lambda then runs on bare longs), and
    # persist it: every Lloyd iteration plus the final assignment
    # re-reads this frame, so without the cache the parquet scan +
    # quantize transform re-runs iters+1 times (pq_fit already does
    # this for its sub-vector frame)
    # r10 (guide §2.5): fan the corpus out before quantize+persist —
    # single-row-group scans otherwise run every Lloyd iteration's
    # interpreted per-element distance lambdas on one core
    emb_q = (
        fan_out(emb, id_col)
        .withColumn("__qv", F.transform(F.col(vec_col), _q))
        .persist()
    )
    # per-coordinate DECIMAL means via posexplode → (cell, pos) agg:
    # ONE generic sum/count aggregate instead of d wide-agg columns —
    # the partial-agg shuffle state is the same K·d buffers either
    # way, but the plan Catalyst must analyze + codegen EVERY
    # iteration shrinks from 64 decimal aggregates to 2 (measured:
    # the wide-agg plan spent most of each Lloyd round in driver-side
    # planning at toy SF); re-assembly is a K·d-row collect, no
    # second shuffle.
    # The mean is exact-decimal SUM → double, divided in IEEE double
    # (the functions/deterministic.py davg idiom) rather than decimal
    # AVG: Spark's decimal division rounds HALF_UP at a scale DuckDB
    # can't reproduce, while sum-then-double-divide is bit-identical
    # across engines — which is what lets kmeans_cluster_profile carry
    # a hash-checked oracle twin instead of a rows-only check.
    # float → DOUBLE → decimal, not float → decimal: Spark's float-to-
    # decimal cast goes through the FLOAT's shortest decimal repr
    # ("0.1"), an engine quirk no other system reproduces; widening to
    # double first makes both engines round the same ~17-digit value
    # at scale 12.
    # divisor = count of NON-NULL elements at this position (avg
    # semantics, matching the DuckDB twin's per-position unnest
    # counts) — a COUNT(*) divisor would silently shrink the mean
    # whenever a vector is shorter than d or has a NULL element
    def _mean_rows(assigned: DataFrame) -> list[tuple[int, list]]:
        per_pos = (
            assigned.select(
                "cell", F.posexplode(F.col(vec_col)).alias("__p", "__v")
            )
            .groupBy("cell", "__p")
            .agg(
                (
                    F.sum(F.col("__v").cast("double").cast("decimal(28,12)"))
                    .cast("double")
                    / F.count("__v")
                ).alias("m")
            )
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in per_pos.collect():
            by_cell.setdefault(r["cell"], {})[r["__p"]] = r["m"]
        return [(c, [pos.get(i) for i in range(d)]) for c, pos in by_cell.items()]

    try:
        for _ in range(iters):
            assigned = _assign_literal(emb_q, cent_rows, id_col, vec_col)
            new_rows = _mean_rows(assigned)
            # a cluster can go empty: keep its previous centroid
            got = {c for c, _ in new_rows}
            cent_rows = sorted(
                new_rows + [(c, v) for c, v in cent_rows if c not in got]
            )
    finally:
        # the returned assignment re-derives from the (now uncached)
        # lineage — one extra scan, vs leaking a cached frame into a
        # caller that has no unpersist handle
        emb_q.unpersist()
    centroids = local_frame(spark, cent_rows, cent_schema)
    return _assign_literal(emb_q, cent_rows, id_col, vec_col), centroids


def kmeans_cluster_profile(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster profile after a fixed k-means run: size and mean
    quantized distance-to-centroid (the IVF cell-balance diagnostic).

    ``assigned``: optional precomputed (vec_id, cell, d2_q) assignment
    (`kmeans_fit`'s first output) — `kmeans_representatives` consumes
    the IDENTICAL deterministic Lloyd assignment, so a caller can
    train once and derive both."""
    if assigned is None:
        assigned, _ = kmeans_fit(emb, k=k, iters=iters)
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(d2_q) DIV COUNT(*) AS BIGINT)").alias("avg_d2_q"),
        )
        .orderBy("cell")
    )


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid profile in exact micro-units: n vectors and
    the mean vector as ⌊Σ⌊v·10⁶⌋ / n⌋ per coordinate — all-integer, so
    any engine agrees bit-for-bit (the float-mean rounding question
    never arises).

    Plan: posexplode → one (label, pos) hash agg (map-side combined;
    L·d groups) → per-label ordered re-assembly. The classifier-
    dataset "class prototype" computation at corpus scale.
    """
    exploded = emb.select(
        label_col, F.posexplode(vec_col).alias("pos", "v")
    ).withColumn("q", _q(F.col("v")))
    per_pos = exploded.groupBy(label_col, "pos").agg(
        F.expr("CAST(SUM(q) DIV COUNT(*) AS BIGINT)").alias("m_q"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_pos.groupBy(label_col)
        .agg(
            F.min("n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m_q"))),
                lambda s: s["m_q"],
            ).alias("centroid_q"),
        )
        .orderBy(label_col)
    )


def kmeans_representatives(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic-dedup representatives: after k-means, keep per cluster
    the vector nearest its centroid (min d2_q, tiebreak low id) — the
    medoid-style summary that replaces a cluster of near-duplicate
    embeddings with one exemplar. One groupBy over the assignment.
    ``assigned``: see `kmeans_cluster_profile`."""
    if assigned is None:
        assigned, _ = kmeans_fit(emb, k=k, iters=iters)
    return (
        assigned.groupBy("cell")
        .agg(F.min(F.struct(F.col("d2_q"), F.col("vec_id"))).alias("__best"))
        .select(
            "cell",
            F.col("__best")["vec_id"].alias("representative_id"),
            F.col("__best")["d2_q"].alias("d2_q"),
        )
        .orderBy("cell")
    )


def ivf_topk_multiprobe(
    emb: DataFrame,
    query_id: int = 0,
    n_centroids: int = 16,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe IVF top-k: probe the `n_probe` cells whose
    centroids score highest against the QUERY vector, not just the
    query's own cell — the standard recall knob (single-probe misses
    neighbors that straddle a cell boundary; probing P cells recovers
    them at P× probe cost, still n_probe/K of the corpus).

    Probe-cell choice is a K-row broadcast ranking; the corpus-side
    work stays one semi-join against the probe set plus the scan of
    those cells (partitionBy(cell) storage prunes it to n_probe/K).
    """
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    qvec = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    probe = (
        centroids.crossJoin(F.broadcast(qvec))
        .select(
            F.col(id_col).alias("cell"),
            quantized_dot(vec_col, "__qvec").alias("__s"),
        )
        .orderBy(F.desc("__s"), F.asc("cell"))
        .limit(n_probe)
        .select("cell")
    )
    return (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            "cell",
            quantized_dot(vec_col, "__qvec").alias("dot_q"),
        )
        .orderBy(F.desc("dot_q"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-vector tier of the ANN
# stack. IVF (above) prunes WHICH vectors are scored; PQ shrinks WHAT
# is scored: each d-dim float vector becomes m small codes (one per
# subspace), and query-time distance is m table lookups instead of d
# multiplies — the standard IVF-PQ layout for billion-scale corpora
# (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011).
#
# Scale shape:
#   * TRAIN: all m sub-codebooks train JOINTLY — subvector rows
#     (vec_id, sub, subvec) are one posexplode, each Lloyd round is
#     ONE assignment pass + ONE (sub, cell) aggregate regardless of m
#     (not m separate k-means drivers); codebooks are m·ksub·(d/m) =
#     ksub·d literals, driver-trivial forever.
#   * ENCODE: pure map-side expression against the codebook literal +
#     one vec_id groupBy; codes are m bytes/vector — a 64-dim float
#     vector compresses 32×.
#   * QUERY (ADC): the query's m×ksub distance table is computed
#     driver-side from ONE collected vector, shipped as a literal;
#     per-row distance is m element_at lookups summed — no float math
#     on the corpus at all. Exact integer quantization end to end, so
#     results are deterministic and engine-reproducible.
# ---------------------------------------------------------------------------


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, list[float]]]:
    """Train the m sub-codebooks jointly; returns rows
    (sub, cell, centroid) with centroid of length d/m.

    Init is deterministic: the ksub lowest-id vectors seed every
    subspace. Empty cells keep their previous centroid (kmeans_fit's
    policy). Requires len(embedding) % m == 0 and ≥ ksub vectors.
    """
    first = emb.select(F.size(F.col(vec_col)).alias("d")).head()
    if first is None:
        raise ValueError("pq_fit: empty embeddings frame")
    d = first["d"]
    if d % m:
        raise ValueError(f"pq_fit: dim {d} not divisible by m={m}")
    dsub = d // m

    seeds = [
        r[vec_col]
        for r in emb.orderBy(F.asc(id_col)).limit(ksub).collect()
    ]
    if len(seeds) < ksub:
        raise ValueError(
            f"pq_fit: need at least ksub={ksub} vectors, got {len(seeds)}"
        )
    # cb[sub][cell] = centroid floats
    cb = [[list(v[s * dsub : (s + 1) * dsub]) for v in seeds] for s in range(m)]

    # r10 (guide §2.5): fan out before the explode+quantize+persist —
    # see kmeans_fit
    subs = fan_out(emb, id_col).select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), s * dsub + 1, dsub)
                    for s in range(m)
                ]
            )
        ).alias("sub", "__sv"),
    ).withColumn("__qv", F.transform(F.col("__sv"), _q))
    subs = subs.persist()
    try:
        # decimal-sum → IEEE-double divide, widened float→double→decimal
        # — the same engine-reproducible mean as kmeans_fit (see the
        # comment there), which is what lets pq_rerank_topk carry a
        # hash-checked oracle twin.
        # per-position non-null count as divisor — see kmeans_fit
        mean_aggs = [
            (
                F.sum(
                    F.element_at(F.col("__sv"), i + 1)
                    .cast("double")
                    .cast("decimal(28,12)")
                )
                .cast("double")
                / F.count(F.element_at(F.col("__sv"), i + 1))
            ).alias(f"m{i}")
            for i in range(dsub)
        ]
        for _ in range(iters):
            assigned = _pq_assign_literal(subs, cb)
            new_rows = assigned.groupBy("sub", "cell").agg(*mean_aggs).collect()
            got = {(r["sub"], r["cell"]) for r in new_rows}
            for r in new_rows:
                cb[r["sub"]][r["cell"]] = [r[f"m{i}"] for i in range(dsub)]
            # cells absent from `got` keep their previous centroid
    finally:
        subs.unpersist()
    return [
        (s, c, cb[s][c]) for s in range(m) for c in range(ksub)
    ]


def _pq_cb_literal(cb: list[list[list[float]]]) -> str:
    """The m×ksub×dsub codebook as ONE parsed SQL literal (see
    _assign_literal for why: py4j lit() round trips dominate)."""
    import math

    def cell_sql(qc):
        return "array({})".format(
            ",".join(f"{int(math.floor(x * QUANT))}L" for x in qc)
        )

    return "array({})".format(
        ",".join(
            "array({})".format(",".join(cell_sql(c) for c in sub_cb))
            for sub_cb in cb
        )
    )


def _pq_assign_literal(subs: DataFrame, cb) -> DataFrame:
    """(id, sub, cell): nearest sub-centroid per subvector row —
    zero joins, zero shuffles; the codebook rides in as a literal and
    element_at picks this row's subspace."""
    cb_sql = _pq_cb_literal(cb)
    # NB: SQL bracket indexing on arrays is 0-based in Spark; sub is
    # already 0-based so cb_sql[sub] picks this row's sub-codebook
    best = F.expr(
        f"array_min(transform({cb_sql}[sub], "
        "(cen, i) -> named_struct("
        "'d2', aggregate(zip_with(__qv, cen, (x, y) -> (x-y)*(x-y)),"
        " 0L, (a, v) -> a+v), "
        "'cell', i)))"
    )
    return subs.withColumn("__best", best).select(
        subs.columns[0],
        "sub",
        "__sv",
        F.col("__best")["cell"].alias("cell"),
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each vector compressed to m sub-cell
    ids. Assignment is map-side against the codebook literal; the one
    shuffle is the per-vector groupBy that re-assembles codes in
    subspace order (collect_list of (sub, cell) structs → array_sort →
    project), the same ordered-re-assembly idiom as label_centroids."""
    m = max(s for s, _, _ in codebooks) + 1
    ksub = max(c for _, c, _ in codebooks) + 1
    dsub = len(codebooks[0][2])
    cb = [[None] * ksub for _ in range(m)]
    for s, c, v in codebooks:
        cb[s][c] = list(v)
    # r10 (guide §2.5): fan out before the explode+assign lambdas
    subs = fan_out(emb, id_col).select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), s * dsub + 1, dsub)
                    for s in range(m)
                ]
            )
        ).alias("sub", "__sv"),
    ).withColumn("__qv", F.transform(F.col("__sv"), _q))
    assigned = _pq_assign_literal(subs, cb)
    return (
        assigned.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("cell")))
            ).alias("__sc")
        )
        .select(
            id_col,
            F.expr("transform(__sc, x -> x.cell)").alias("codes"),
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    query_id: int = 0,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays full-precision, the
    corpus is scored from its codes via an m×ksub lookup table.

    The table is built driver-side from ONE collected query vector
    (O(m·ksub·dsub) work, corpus-independent) and shipped as an
    integer literal; per-corpus-row cost is m element_at lookups and
    a sum — no per-row float math, no join, and the top-k is a
    TakeOrdered over (adc_d2_q, id). Returns (id, adc_d2_q).
    """
    import math

    m = max(s for s, _, _ in codebooks) + 1
    ksub = max(c for _, c, _ in codebooks) + 1
    dsub = len(codebooks[0][2])
    qrow = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"pq_adc_topk: query_id {query_id} not found")
    qv = [math.floor(x * QUANT) for x in qrow[vec_col]]
    tbl = [
        [
            sum(
                (qv[s * dsub + i] - math.floor(x * QUANT)) ** 2
                for i, x in enumerate(cvec)
            )
            for cvec in [next(v for ss, cc, v in codebooks if ss == s and cc == c) for c in range(ksub)]
        ]
        for s in range(m)
    ]
    tbl_sql = "array({})".format(
        ",".join(
            "array({})".format(",".join(f"{d}L" for d in row)) for row in tbl
        )
    )
    codes = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col)
    adc = F.expr(  # 0-based bracket indexing on both levels
        "aggregate(zip_with(codes, sequence(0, size(codes) - 1), "
        f"(c, s) -> {tbl_sql}[s][c]), 0L, (a, v) -> a + v)"
    )
    return (
        codes.filter(F.col(id_col) != query_id)
        .select(id_col, adc.alias("adc_d2_q"))
        .orderBy(F.asc("adc_d2_q"), F.asc(id_col))
        .limit(k)
    )


def pq_adc_rerank_topk(
    emb: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    query_id: int = 0,
    k: int = 5,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ with exact re-ranking — the production IVF-PQ query shape:
    ADC shortlists k·oversample candidates from codes alone (cheap,
    compressed-domain), then ONLY the shortlist is re-scored with the
    exact quantized distance against full-precision vectors.

    The shortlist is a k·oversample-row broadcast; the exact re-rank
    therefore touches `oversample·k` vectors instead of n — at 100 TB
    the full-precision vectors live in cold storage keyed by id and
    only the shortlist is fetched. Recall ≈ the probability the true
    neighbors survive the compressed-domain cut (tunable via
    oversample; measured in tests/test_pq.py).
    """
    short = pq_adc_topk(
        emb,
        codebooks,
        query_id=query_id,
        k=k * oversample,
        id_col=id_col,
        vec_col=vec_col,
    ).select(id_col)
    qvec = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    return (
        emb.join(F.broadcast(short), id_col)
        .crossJoin(F.broadcast(qvec))
        .select(
            id_col,
            quantized_dist_sq(vec_col, "__qvec").alias("d2_q"),
        )
        .orderBy(F.asc("d2_q"), F.asc(id_col))
        .limit(k)
    )


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    impl: str = "arrow",
) -> DataFrame:
    """Johnson–Lindenstrauss-style random projection to `out_dim`
    dims with a deterministic ±1 sign matrix s(i,j) = +1 iff
    (i·31 + j·17) is even — the database-friendly JL variant
    (Achlioptas'01: ±1 entries preserve distances like Gaussians).

    All-integer: elements quantized via the shared floor(x·10⁶) rule,
    projection = signed integer sums — so the result is hash-exact
    against the DuckDB twin (no float accumulation order anywhere).
    Map-side only, no shuffle; the projected vectors feed the same
    quantized-distance operators as raw embeddings (coarse filter →
    exact re-rank, the PQ/ADC pattern at 1/4 the width).

    impl="arrow" (default): Arrow-batched int64 numpy matmul — a dense
    matrix product is the one shape Spark's built-ins cannot express
    efficiently (higher-order-function lambdas are interpreted
    per-element: the pure-SQL form spends ~1 µs per lambda ×
    d_in·d_out per row, 25× slower at sf0.1). Bit-identical results:
    int64 accumulation, |Σ| ≤ d_in·10⁹ ≪ 2⁶³.
    impl="sql": the pure-JVM higher-order-function form (zero Python
    anywhere — for environments that must forbid Python workers).
    """
    if impl not in ("arrow", "sql"):
        raise ValueError(f"impl must be 'arrow' or 'sql', got {impl!r}")
    if impl == "arrow":
        import pandas as pd  # noqa: F401 (signature parity with callers)

        signs = np.array(
            [
                [1 if ((i * 31 + j * 17) % 2 == 0) else -1 for j in range(out_dim)]
                for i in range(1, in_dim + 1)
            ],
            dtype=np.int64,
        )

        def batches(it):
            import numpy as _np

            for pdf in it:
                if not len(pdf):
                    continue
                eq = _np.floor(
                    _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
                    * 1_000_000.0
                ).astype(_np.int64)
                proj = eq @ signs
                yield pdf.assign(proj_q=list(proj)).drop(columns=["embedding"])[
                    ["vec_id", "proj_q", "label"]
                ]

        out_schema = "vec_id long, proj_q array<bigint>, label int"
        return embeddings.select("vec_id", "embedding", "label").mapInPandas(
            batches, schema=out_schema
        )

    # Materialize the quantized array as a real column FIRST:
    # referencing a transform() expression from inside the projection
    # lambdas would inline (and re-evaluate) the whole quantization per
    # element access — O(d_in·d_out) re-quantizations per row (measured
    # 10.8 s vs 0.2 s at sf0.1). Same lesson as the fingerprint fold.
    quantized = embeddings.select(
        "vec_id", F.transform(F.col("embedding"), _q).alias("eq"), "label"
    )
    eq = F.col("eq")

    def proj_at(j):
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(in_dim)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(((i * 31 + j * 17) % 2) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            * F.element_at(eq, i),
        )

    projected = F.transform(F.sequence(F.lit(0), F.lit(out_dim - 1)), proj_at)
    return quantized.select("vec_id", projected.alias("proj_q"), "label")


def kmeans_profile_oracle_sql(k: int = 8, iters: int = 3) -> str:
    """DuckDB twin of ``kmeans_cluster_profile(emb, k, iters)``: the
    same fixed-round Lloyd loop unrolled as chained CTEs — the
    bpe_merges_oracle_sql technique applied to k-means.

    Exactness contract (why the hash check can pass at all):
      * init — the k lowest-vec_id embeddings, cell = rank-1 (the
        enumerate order of kmeans_fit's seed collect);
      * assign — identical integer arithmetic: floor(x·10⁶) quantize,
        BIGINT squared distance, argmin tiebroken on low cell;
      * update — exact DECIMAL(28,12) coordinate sums cast to double,
        divided by the count in IEEE double: kmeans_fit computes the
        same expression, so the centroids agree bit-for-bit (decimal
        AVG would not — Spark rounds its decimal division HALF_UP at
        a scale DuckDB cannot be asked to reproduce);
      * empty cells keep their previous centroid (LEFT JOIN+COALESCE,
        kmeans_fit's got/kept merge).

    Every chained CTE is AS MATERIALIZED: c{i} feeds both the next
    assignment and the empty-cell fallback, and default inlining
    re-expands the chain exponentially (the bpe lesson).
    """
    parts = [
        f"""
    WITH emb_q AS MATERIALIZED (
        SELECT vec_id, embedding,
               list_transform(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ), c0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
               embedding AS cvec
        FROM embeddings ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for i in range(1, iters + 2):  # iters updates + 1 final assignment
        prev = i - 1
        parts.append(
            f""", s{i} AS MATERIALIZED (
        SELECT e.vec_id, e.embedding, c.cell,
               list_sum(list_transform(
                 list_zip(e.qv,
                   list_transform(c.cvec,
                     x -> CAST(FLOOR(x * 1000000.0) AS BIGINT))),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM emb_q e CROSS JOIN c{prev} c
    ), a{i} AS MATERIALIZED (
        SELECT vec_id, embedding, cell, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2 ASC, cell ASC) AS rn
            FROM s{i}
        ) WHERE rn = 1
    )"""
        )
        if i <= iters:
            parts.append(
                f""", m{i} AS MATERIALIZED (
        SELECT cell, pos,
               CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM (SELECT cell, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM a{i})
        GROUP BY cell, pos
    ), c{i} AS MATERIALIZED (
        SELECT p.cell, COALESCE(nw.cvec, p.cvec) AS cvec
        FROM c{prev} p
        LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS cvec
                   FROM m{i} GROUP BY cell) nw USING (cell)
    )"""
            )
    parts.append(
        f"""
    SELECT CAST(cell AS INTEGER) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d2) // COUNT(*) AS BIGINT) AS avg_d2_q
    FROM a{iters + 1} GROUP BY cell ORDER BY cell
    """
    )
    return "".join(parts)


def kmeans_representatives_oracle_sql(k: int = 8, iters: int = 3) -> str:
    """DuckDB twin of ``kmeans_representatives``: the same Lloyd chain
    as kmeans_profile_oracle_sql, finishing with the per-cluster medoid
    argmin (min d2, tiebreak low vec_id) instead of the cell profile."""
    chain = kmeans_profile_oracle_sql(k, iters)
    cut = chain.index("\n    SELECT CAST(cell AS INTEGER) AS cell,")
    return (
        chain[:cut]
        + f"""
    SELECT CAST(cell AS INTEGER) AS cell,
           vec_id AS representative_id,
           CAST(d2 AS BIGINT) AS d2_q
    FROM (SELECT *, row_number() OVER (PARTITION BY cell
                                       ORDER BY d2 ASC, vec_id ASC) AS rn
          FROM a{iters + 1})
    WHERE rn = 1 ORDER BY cell
    """
    )


def pq_rerank_oracle_sql(
    m: int = 8,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    query_id: int = 0,
    k: int = 10,
    oversample: int = 5,
    n_centroids: int | None = None,
    n_probe: int | None = None,
) -> str:
    """DuckDB twin of ``pq_fit → pq_encode → pq_adc_rerank_topk`` —
    the kmeans_profile_oracle_sql technique with an extra `sub` key:
    every subspace trains independently, so the whole joint trainer is
    the same Lloyd unroll GROUPed BY (sub, cell).

    Exactness contract: identical to kmeans_profile_oracle_sql (integer
    quantize/distances, decimal-sum→double-divide means, widen float →
    double before the decimal cast, empty cells keep their centroid),
    plus: the ADC table is exact integer arithmetic on both engines,
    and both shortlist and final top-k tiebreak on vec_id.

    With ``n_centroids``/``n_probe`` set, the twin models the r10
    IVF-PQ COMPOSITE (ext/ann_index.py::search_ivfpq_index): the
    quantized-dot IVF assignment (first-K-ids centroid rule, ties to
    the lower cell) restricts ADC, shortlist and rerank to the
    query's top-n_probe cells, and the output carries the member's
    cell — bit-identical to pq_adc_rerank_topk restricted to the
    probed cells."""
    dsub = dim // m
    shortlist = k * oversample
    ivf = n_centroids is not None
    parts = [
        f"""
    WITH emb_q AS MATERIALIZED (
        SELECT vec_id, embedding,
               list_transform(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ), subs AS MATERIALIZED (
        SELECT e.vec_id, s.sub,
               e.embedding[s.sub*{dsub}+1 : s.sub*{dsub}+{dsub}] AS sv,
               e.qv[s.sub*{dsub}+1 : s.sub*{dsub}+{dsub}] AS qsv
        FROM emb_q e, LATERAL (SELECT unnest(range(0, {m})) AS sub) s
    ), seeds AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cell,
               embedding
        FROM embeddings ORDER BY vec_id LIMIT {ksub}
    ), cb0 AS MATERIALIZED (
        SELECT s.sub, d.cell,
               list_transform(
                 d.embedding[s.sub*{dsub}+1 : s.sub*{dsub}+{dsub}],
                 x -> CAST(x AS DOUBLE)) AS cvec
        FROM seeds d, LATERAL (SELECT unnest(range(0, {m})) AS sub) s
    )"""
    ]
    for i in range(1, iters + 2):  # iters updates + 1 encode assignment
        prev = i - 1
        parts.append(
            f""", ps{i} AS MATERIALIZED (
        SELECT t.vec_id, t.sub, t.sv, c.cell,
               list_sum(list_transform(
                 list_zip(t.qsv,
                   list_transform(c.cvec,
                     x -> CAST(FLOOR(x * 1000000.0) AS BIGINT))),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM subs t JOIN cb{prev} c ON c.sub = t.sub
    ), pa{i} AS MATERIALIZED (
        SELECT vec_id, sub, sv, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2 ASC, cell ASC) AS rn
            FROM ps{i}
        ) WHERE rn = 1
    )"""
        )
        if i <= iters:
            parts.append(
                f""", pm{i} AS MATERIALIZED (
        SELECT sub, cell, pos,
               CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)))
                    AS DOUBLE) / COUNT(*) AS mval
        FROM (SELECT sub, cell, unnest(sv) AS v,
                     generate_subscripts(sv, 1) AS pos
              FROM pa{i})
        GROUP BY sub, cell, pos
    ), cb{i} AS MATERIALIZED (
        SELECT p.sub, p.cell, COALESCE(nw.cvec, p.cvec) AS cvec
        FROM cb{prev} p
        LEFT JOIN (SELECT sub, cell, list(mval ORDER BY pos) AS cvec
                   FROM pm{i} GROUP BY sub, cell) nw
          ON nw.sub = p.sub AND nw.cell = p.cell
    )"""
            )
    if ivf:
        parts.append(
            f""", ivf_cent AS MATERIALIZED (
        SELECT vec_id AS cell, qv AS cq FROM emb_q
        WHERE vec_id < {n_centroids}
    ), ivf_assigned AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_sum(list_transform(
                                  list_zip(e.qv, c.cq),
                                  p -> p[1] * p[2])) DESC,
                                c.cell ASC) AS rn
            FROM emb_q e CROSS JOIN ivf_cent c
        ) WHERE rn = 1
    ), ivf_probe AS MATERIALIZED (
        SELECT cell FROM (
            SELECT c.cell,
                   list_sum(list_transform(list_zip(c.cq, q.qv),
                     p -> p[1] * p[2])) AS s
            FROM ivf_cent c
            CROSS JOIN (SELECT qv FROM emb_q
                        WHERE vec_id = {query_id}) q
        ) ORDER BY s DESC, cell ASC LIMIT {n_probe}
    ), ivf_members AS MATERIALIZED (
        SELECT a.vec_id, a.cell
        FROM ivf_assigned a JOIN ivf_probe p ON a.cell = p.cell
    )"""
        )
    member_clause = (
        f" AND a.vec_id IN (SELECT vec_id FROM ivf_members)"
        if ivf
        else ""
    )
    cell_select = "mem.cell, " if ivf else ""
    cell_join = (
        " JOIN ivf_members mem ON mem.vec_id = e.vec_id" if ivf else ""
    )
    parts.append(
        f""", qsubs AS MATERIALIZED (
        SELECT sub, qsv FROM subs WHERE vec_id = {query_id}
    ), adc_tbl AS MATERIALIZED (
        SELECT c.sub, c.cell,
               list_sum(list_transform(
                 list_zip(q.qsv,
                   list_transform(c.cvec,
                     x -> CAST(FLOOR(x * 1000000.0) AS BIGINT))),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        FROM cb{iters} c JOIN qsubs q ON q.sub = c.sub
    ), adc AS MATERIALIZED (
        SELECT a.vec_id, SUM(t.dist) AS adc_d2_q
        FROM pa{iters + 1} a
        JOIN adc_tbl t ON t.sub = a.sub AND t.cell = a.cell
        WHERE a.vec_id <> {query_id}{member_clause}
        GROUP BY a.vec_id
    ), short AS MATERIALIZED (
        SELECT vec_id FROM adc
        ORDER BY adc_d2_q ASC, vec_id ASC LIMIT {shortlist}
    )
    SELECT e.vec_id, {cell_select}
           CAST(list_sum(list_transform(list_zip(e.qv, q.qv),
                p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2_q
    FROM emb_q e
    JOIN short s ON s.vec_id = e.vec_id{cell_join}
    CROSS JOIN (SELECT qv FROM emb_q WHERE vec_id = {query_id}) q
    ORDER BY d2_q ASC, e.vec_id ASC
    LIMIT {k}
    """
    )
    return "".join(parts)


# --- ANN quality evaluation (r10) --------------------------------------------


def ann_recall_eval(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the multi-probe IVF path against exact brute force
    — the evaluation every ANN deployment runs before trusting its
    index (probe count and centroid count are RECALL knobs; this is
    the dial readout). For each query id: exact top-k by quantized
    dot over the whole corpus, approximate top-k over the probed
    cells only, recall_ppm = |exact ∩ approx|·10⁶ DIV k.

    Scale shape: the query set is a bounded broadcast; the corpus is
    scanned once for the exact side (per-query window over broadcast-
    joined scores — the knn_join plan) and once for the assignment;
    the approximate side touches only probed-cell members. Both sides
    deterministic (integer dots, id tie-breaks), so the recall table
    itself hash-checks cross-engine."""
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("__qvec")
    )
    scored = emb.join(
        F.broadcast(q), F.col(id_col) != F.col("qid")
    ).select(
        "qid", id_col, quantized_dot(vec_col, "__qvec").alias("__d")
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("__d"), F.asc(id_col)
    )
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", id_col)
    )
    centroids = emb.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "qid",
            F.col(id_col).alias("cell"),
            quantized_dot(vec_col, "__qvec").alias("__s"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("__s"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("__rn") <= n_probe)
        .select("qid", "cell")
    )
    approx = (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col(id_col) != F.col("qid"))
        .join(F.broadcast(q), "qid")
        .select(
            "qid", id_col, quantized_dot(vec_col, "__qvec").alias("__d")
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", F.col(id_col), F.lit(1).alias("__hit"))
    )
    return (
        exact.join(F.broadcast(approx), ["qid", id_col], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .select(
            "qid",
            "n_exact",
            "n_hit",
            F.expr("n_hit * 1000000 DIV n_exact").alias("recall_ppm"),
        )
        .orderBy("qid")
    )
