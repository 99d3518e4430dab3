"""Graph analytics over DataFrames — the standard set: weighted
PageRank, HITS (in fin/analytics shapes), exact triangles + global
clustering, multi-source BFS, degree assortativity, k-core peeling,
weighted SSSP (Bellman-Ford delta frontier), label-propagation
communities, and Newman modularity. Connected components live with
the near-dup family (ext/dedup_fuzzy.py).

The reference has no graph operators; this is north-star surface (the
"entity importance" twin of the near-dup family's connected
components, ext/dedup_fuzzy.py). The pattern a 100 TB pipeline
actually uses is: aggregate the raw facts down to the entity-level
edge list FIRST (a big join + groupBy — the scale-heavy part), then
iterate on the entity graph, which is orders of magnitude
smaller than the fact table.

Determinism contract (what makes it hash-checkable against a DuckDB
materialized-CTE twin): all arithmetic is integer fixed-point —
ranks are scaled BIGINTs, contributions are ``rank·w DIV out`` floor
divisions, damping is ``·85 DIV 100``. No float ever appears, so the
result is bit-identical across engines, partitionings, and retries.
Dangling-node mass (nodes with no out-edges) is dropped, not
redistributed — the simple variant; documented, deterministic, and
identical in the twin.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from monzo_data_pipeline_spark.ext.lineage import (
    collect_if_small,
    keyed_frame,
    truncate_lineage,
)
from pyspark.sql import functions as F

from ..session import local_frame

# rank fixed-point scale: 10^9 keeps rank·weight < 2^63 for graphs
# with total scaled mass ≤ ~9·10^12 per node and edge weights ≤ 10^6
RANK_SCALE = 1_000_000_000

# Bounded-state caps for the iterative family's driver finishers
# (ext/lineage.py::collect_if_small): an ENTITY graph under these caps
# is collected once and the fixed-round ALL-INTEGER iteration runs in
# plain Python, so the per-round plan/scheduling cost (lazy-checkpoint
# planning forcing toRdd + eager broadcast builds, 1 collect job per
# round) disappears. The caps bound DRIVER memory (a few MB), never
# coverage — at 100 TB the fact-scale edge BUILD stays a distributed
# join either way, and a node-scale iteration on ≤131k edges is
# exactly the state a driver already holds for kmeans centroids or
# BPE argmaxes.
ITER_DRIVER_FINISH_EDGES = 131_072
ITER_DRIVER_FINISH_NODES = 65_536


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank, ``iters`` fixed rounds, integer fixed-point.

    nodes: one row per node (``node_col``); edges: (src, dst, w>0).
    Returns (node, rank_q) where rank_q is the scaled-integer rank.
    NULL node ids are dropped.

    Per round: one shuffle join ranks⋈edges on src (AQE broadcasts the
    rank side when the node table is small), one partial-agg'd groupBy
    dst, one left join back onto nodes for the (1−d) base — node- and
    edge-proportional work only, never fact-proportional. Lineage is
    flattened per round via localCheckpoint (the kmeans_fit /
    near_dup_clusters idiom) so iteration N doesn't re-execute rounds
    1..N−1 under each downstream action. This is
    `personalized_pagerank` with every node a seed.
    """
    return _seeded_pagerank(
        nodes, edges, None, iters, damping_pct,
        node_col, src_col, dst_col, weight_col,
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Personalized PageRank (r9): the teleport mass returns to the
    SEED set instead of spreading uniformly — "importance relative to
    these entities", the recommendation/attribution variant of
    `pagerank` (same integer fixed-point determinism contract, same
    per-round plan: one join + one partial-agg'd groupBy on the
    entity graph).

    rank₀(v) = SCALE·[v ∈ S]; per round
    rank(v) = (1−d)·SCALE·[v ∈ S] + d·Σ_{u→v} rank(u)·w/out(u),
    every product/division exact integer (rank·w DIV out, ·d DIV
    100). Unnormalized (masses are comparable within one run, which
    is what ranking needs); dangling mass dropped as in `pagerank`.
    `seeds` is one column of node ids (deduplicated here)."""
    return _seeded_pagerank(
        nodes, edges, seeds, iters, damping_pct,
        node_col, src_col, dst_col, weight_col,
    )


def _seeded_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int,
    damping_pct: int,
    node_col: str,
    src_col: str,
    dst_col: str,
    weight_col: str,
) -> DataFrame:
    """Shared body of `pagerank` (``seeds`` None: every node is a
    seed) and `personalized_pagerank`."""
    base_seed = (100 - damping_pct) * RANK_SCALE // 100
    # w <= 0 would make __out zero/negative and the floor-division
    # contribution NULL or sign-flipped (the weighted_priority_sample
    # lesson): non-positive weights are dropped, not propagated
    edges = edges.filter(F.col(weight_col) > 0)
    out = edges.groupBy(src_col).agg(F.sum(weight_col).alias("__out"))
    e = edges.join(out, src_col).select(
        F.col(src_col).alias("__src"),
        F.col(dst_col).alias("__dst"),
        F.col(weight_col).alias("__w"),
        "__out",
    )
    ids = nodes.select(F.col(node_col).alias("__node"))
    if seeds is None:
        marked = ids.withColumn("__is_seed", F.lit(1))
    else:
        sd = seeds.select(F.col(seeds.columns[0]).alias("__node")).distinct()
        marked = ids.join(
            F.broadcast(sd.withColumn("__is_seed", F.lit(1))), "__node", "left"
        ).select(
            "__node",
            F.coalesce(F.col("__is_seed"), F.lit(0)).alias("__is_seed"),
        )
    # (r10 note: the child-session iteration idiom was tried here and
    # reverted — for the nation-scale graphs this operator serves, the
    # paired A/B was neutral-to-negative. hits/sssp/textrank DO keep
    # it; see _iteration_session.)
    with collect_if_small(
        marked, ITER_DRIVER_FINISH_NODES, ["__node"]
    ) as (nrows, marked), collect_if_small(
        e, ITER_DRIVER_FINISH_EDGES, ["__src", "__dst"]
    ) as (erows, e):
        if nrows is not None and erows is not None:
            rank = {n: RANK_SCALE * s for n, s in nrows}
            for _ in range(iters):
                acc: dict = {}
                for src, dst, w, w_out in erows:
                    ru = rank.get(src)
                    if ru is not None:  # src outside the node table
                        acc[dst] = acc.get(dst, 0) + ru * w // w_out
                rank = {
                    n: base_seed * s + acc.get(n, 0) * damping_pct // 100
                    for n, s in nrows
                }
            return keyed_frame(
                nodes.sparkSession,
                [(n, rank[n]) for n, _ in nrows],
                node_col,
                marked.schema["__node"].dataType,
                "rank_q",
            )
        ranks = marked.select(
            "__node",
            (F.col("__is_seed").cast("long") * F.lit(RANK_SCALE)).alias(
                "rank_q"
            ),
        )
        for _ in range(iters):
            contrib = (
                ranks.join(e, ranks["__node"] == e["__src"])
                .select(
                    "__dst",
                    # floor division AFTER the product: exact integer
                    # share, identical in DuckDB's r.rank_q * w // out
                    F.expr("rank_q * __w DIV __out").alias("__c"),
                )
                .groupBy("__dst")
                .agg(F.sum("__c").alias("__in"))
            )
            ranks = truncate_lineage(
                marked.join(
                    contrib, F.col("__node") == F.col("__dst"), "left"
                ).select(
                    "__node",
                    (
                        F.col("__is_seed").cast("long") * F.lit(base_seed)
                        + F.expr(
                            f"coalesce(__in, 0L) * {damping_pct} DIV 100"
                        )
                    )
                    .cast("long")
                    .alias("rank_q"),
                )
            )
    return ranks.select(F.col("__node").alias(node_col), "rank_q")


# HITS fixed-point scale: 10^6 keeps every Σ score·w under 2^63 for
# in-degrees ≤ ~10^6 edges of weight ≤ ~10^6 each
HITS_SCALE = 1_000_000


def hits_bipartite(
    edges: DataFrame,
    rounds: int = 2,
    left_col: str = "src",
    right_col: str = "dst",
    weight_col: str = "w",
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities on a weighted bipartite graph
    (Kleinberg 1999): authority(r) = Σ hub(l)·w over in-edges,
    hub(l) = Σ authority(r)·w, max-normalized to HITS_SCALE each
    half-round.

    Determinism: the Σ score·w accumulates in exact DECIMAL(38,0)
    (order-independent — per-edge products stay < 10¹², the sum can't
    overflow 38 digits), and the max-normalization runs in IEEE
    doubles in ONE fixed operation order — the doubles may round (a
    Σ can exceed 2⁵³) but they round IDENTICALLY from the same exact
    integer in both engines, so floor(raw·SCALE/max) is bit-stable
    (the spend_trend_slopes determinism argument); oracle = chained
    AS MATERIALIZED CTE half-rounds. The driver finisher computes the
    Σ in exact Python ints and the same double expression
    ``floor(float(raw) * 1e6 / float(mx))``.

    Returns (hubs, authorities) DataFrames: (node, score_q). Per
    half-round: one join edges⋈scores (shuffle on the score key, AQE
    broadcasts when the node table is small), one partial-agg'd
    groupBy, and the max-normalizer as a 1-row broadcast cross join —
    no collect, no global sort, no global window. Non-positive weights
    (the weighted_priority_sample lesson) and NULL ids are dropped."""
    edges = edges.filter(F.col(weight_col) > 0).select(
        F.col(left_col).alias("__l"),
        F.col(right_col).alias("__r"),
        F.col(weight_col).alias("__w"),
    )
    parent = edges.sparkSession
    # the (fact-scale) edge list feeds every half-round: the helper's
    # cache plus the per-half-round raw caches keep the ONE lazy plan
    # from re-executing the edge-build join ~2·rounds·2 times
    with collect_if_small(
        edges, ITER_DRIVER_FINISH_EDGES, ["__l", "__r"]
    ) as (erows, edges_cached):
        if erows is not None:
            hubs_d = {l: HITS_SCALE for l, _, _ in erows}
            auth_d: dict = {}
            for _ in range(rounds):
                auth_d = _hits_half(hubs_d, erows, 0, 1)
                hubs_d = _hits_half(auth_d, erows, 1, 0)
            types = edges_cached.schema
            return (
                keyed_frame(parent, hubs_d.items(), left_col,
                            types["__l"].dataType, "score_q"),
                keyed_frame(parent, auth_d.items(), right_col,
                            types["__r"].dataType, "score_q"),
            )
        # r10: half-rounds in a right-sized child session (AQE off
        # below cluster width — see _iteration_session; 34 AQE
        # stage-jobs per call measured before)
        child = _iteration_session(parent, edges_cached.count())
        edges = _in_session(edges_cached, child)
        hubs = edges.select("__l").distinct().select(
            "__l", F.lit(HITS_SCALE).cast("long").alias("score_q")
        )
        cached: list[DataFrame] = []

        def _half(scores: DataFrame, key: str, out_key: str) -> DataFrame:
            # scores is node-count sized: broadcast it so the edge list
            # joins map-side and the only exchange is the partial-agg'd
            # node-count groupBy. raw is persisted (not checkpointed):
            # it has two consumers (the max normalizer and the output),
            # and the cache collapses all half-rounds into one lazy plan
            # instead of 2·rounds eager materialization jobs
            raw = (
                F.broadcast(scores).join(edges, on=key)
                .groupBy(out_key)
                .agg(
                    F.sum(
                        (F.col("score_q") * F.col("__w")).cast("decimal(38,0)")
                    ).alias("__raw")
                )
            ).persist()
            cached.append(raw)
            mx = raw.agg(F.max("__raw").cast("double").alias("__mx"))
            return raw.crossJoin(F.broadcast(mx)).select(
                out_key,
                F.floor(
                    F.col("__raw").cast("double")
                    * F.lit(float(HITS_SCALE))
                    / F.col("__mx")
                )
                .cast("long")
                .alias("score_q"),
            )

        auth = None
        for _ in range(rounds):
            auth = _half(hubs, "__l", "__r")
            hubs = _half(auth, "__r", "__l")
        # materialize the final node-count scores, then drop the
        # per-half-round raws before handing them back
        hubs = hubs.localCheckpoint(eager=True)
        auth = auth.localCheckpoint(eager=True)
        for c in cached:
            c.unpersist()
    # hand the node-sized results back to the caller's session
    return (
        _in_session(
            hubs.select(F.col("__l").alias(left_col), "score_q"), parent
        ),
        _in_session(
            auth.select(F.col("__r").alias(right_col), "score_q"), parent
        ),
    )


def _hits_half(scores: dict, erows: list, key: int, out_key: int) -> dict:
    """One driver-side HITS half-round over (l, r, w) edge tuples: the
    exact integer Σ score·w per ``out_key`` node, max-normalized with
    the distributed half's IEEE double expression."""
    raw: dict = {}
    for e in erows:
        s = scores.get(e[key])
        if s is not None:
            raw[e[out_key]] = raw.get(e[out_key], 0) + s * e[2]
    if not raw:
        return raw
    mx = float(max(raw.values()))
    return {
        n: math.floor(float(v) * float(HITS_SCALE) / mx)
        for n, v in raw.items()
    }


def triangle_stats(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected simple graph (edges as distinct a<b pairs). One row
    out: (n_nodes, n_edges, n_wedges, n_triangles, clustering_ppm)
    with clustering_ppm = ⌊3·Δ·10⁶ / wedges⌋.

    Compact-forward at scale: every edge is oriented from its
    lower-(degree, id) endpoint to its higher one, so a node's
    out-degree is bounded by O(√m) on any graph (the arboricity
    argument) — the wedge self-join on the shared source never
    explodes on a hub the way a naive id-orientation does. The close
    step is a semi-join of candidate (v, w) wedge tips against the
    oriented edge set: two keyed shuffles total, no all-pairs
    anywhere.
    """
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("__a"),
            F.col(b_col).cast("long").alias("__b"),
        )
        .filter(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & (F.col("__a") < F.col("__b"))
        )
        .distinct()
    )
    deg = (
        e.select(F.col("__a").alias("__n"))
        .unionAll(e.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    # orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    da = deg.select(
        F.col("__n").alias("__a"), F.col("__d").alias("__da")
    )
    db = deg.select(
        F.col("__n").alias("__b"), F.col("__d").alias("__db")
    )
    ed = e.join(da, on="__a").join(db, on="__b")
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b"))
    )
    o = ed.select(
        F.when(lower_first, F.col("__a")).otherwise(F.col("__b")).alias("__u"),
        F.when(lower_first, F.struct("__b", "__db"))
        .otherwise(F.struct(F.col("__a").alias("__b"), F.col("__da").alias("__db")))
        .alias("__vs"),
    ).select("__u", F.col("__vs.__b").alias("__v"), F.col("__vs.__db").alias("__dv"))
    # wedges at the oriented source: ordered tip pairs (v, w) with
    # (d_v, v) < (d_w, w) — each triangle yields exactly one wedge
    # whose tips close as an oriented edge
    w1 = o.select("__u", F.col("__v").alias("__p"), F.col("__dv").alias("__dp"))
    w2 = o.select("__u", F.col("__v").alias("__q"), F.col("__dv").alias("__dq"))
    cand = w1.join(w2, on="__u").filter(
        (F.col("__dp") < F.col("__dq"))
        | ((F.col("__dp") == F.col("__dq")) & (F.col("__p") < F.col("__q")))
    )
    closed = cand.join(
        o.select(
            F.col("__u").alias("__p"), F.col("__v").alias("__q")
        ).withColumn("__hit", F.lit(1)),
        on=["__p", "__q"],
        how="inner",
    )
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("t"))
    scal = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("__d * (__d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        scal.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").alias("n_triangles"),
            F.when(
                F.col("n_wedges") > 0,
                F.expr("(3 * t * 1000000) DIV n_wedges"),
            ).alias("clustering_ppm"),
        )
    )


def bfs_hops(
    sources: DataFrame,
    edges: DataFrame,
    max_hops: int,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (≤ ``max_hops``) from
    any source node, by fixed-round frontier expansion — the
    reachability/blast-radius primitive (which entities sit within k
    hops of a flagged seed set).

    Per round: join the PREVIOUS round's frontier (nodes at exactly
    d = r−1) against the edge list, union the r-labeled candidates
    into the distance table, min-agg per node. Frontier- and
    edge-proportional work only; lineage is flattened per round via
    localCheckpoint (the pagerank idiom) so round N doesn't re-execute
    rounds 1..N−1 under each downstream action. Exact by
    construction — every distance is an integer hop count — so the
    twin is the same min-agg recurrence as chained materialized CTEs.

    Directed edges; pass a symmetrized edge list for undirected
    semantics. Unreached nodes are absent from the output.
    """
    dist = (
        sources.select(F.col(node_col).alias("__n"))
        .filter(F.col("__n").isNotNull())
        .distinct()
        .withColumn("__d", F.lit(0).cast("int"))
    )
    e = edges.select(
        F.col(src_col).alias("__es"), F.col(dst_col).alias("__ed")
    ).filter(F.col("__es").isNotNull() & F.col("__ed").isNotNull())
    # persist + EAGER per-round checkpoints (the pagerank idiom):
    # with lazy checkpoints the un-persisted edge subtree re-executes
    # inside every round's materialization — the (expensive) edge
    # BUILD ran once per round instead of once per query (measured 2×
    # on bfs_copurchase_reach, whose support-2 pair-generation join
    # dominates). After the last eager checkpoint the returned dist no
    # longer references e, so it unpersists safely before return.
    if checkpoint:
        e = e.persist()
    for r in range(1, max_hops + 1):
        frontier = dist.filter(F.col("__d") == r - 1).select("__n")
        nxt = (
            frontier.join(e, frontier["__n"] == e["__es"])
            .select(F.col("__ed").alias("__n"))
            .withColumn("__d", F.lit(r).cast("int"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("__n")
            .agg(F.min("__d").alias("__d"))
        )
        if checkpoint:
            dist = truncate_lineage(dist)
    if checkpoint:
        e.unpersist()
    return dist.select(
        F.col("__n").alias(node_col), F.col("__d").alias("hops")
    )


def sssp(
    sources: DataFrame,
    edges: DataFrame,
    max_rounds: int,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """Multi-source weighted single-source-shortest-paths (Bellman-
    Ford rounds): minimum total edge weight from any source node,
    computed by ≤ ``max_rounds`` synchronous relaxation rounds with
    early stop at the fixpoint — the weighted generalization of
    `bfs_hops` and the graph family's most-asked query the hop
    distance can't answer ("cheapest path", not "fewest hops").

    Per round only the DELTA frontier relaxes — nodes whose distance
    improved (or first appeared) in the previous round. This is
    bit-identical per round to full Bellman-Ford relaxation
    d_r(v) = min(d_{r-1}(v), min over edges (u,v) of d_{r-1}(u)+w):
    a node unimproved at round r−1 contributed the same candidates at
    round r−1 already, so re-relaxing it cannot lower anything — the
    standard delta-stepping observation, and what keeps per-round work
    proportional to the CHANGING part of the graph instead of the
    whole distance table at 100 TB. The unrolled full-relaxation
    chained-CTE oracle therefore agrees round-for-round.

    The ``max_rounds`` cap is part of the SEMANTIC contract (the
    `k_core`/`bfs_hops` always-agree construction): "≤ max_rounds
    relaxations, early-stop at the fixpoint (an empty improvement
    frontier — exact, no signature needed: past it every round is a
    no-op)". Negative weights are rejected (with a round cap the
    no-negative-cycle guarantee would otherwise be the caller's
    problem); lineage is cut per round via `truncate_lineage`, the
    improvement count materializing the lazy checkpoint — one job per
    round. Directed edges (pass a symmetrized list for undirected);
    unreached nodes are absent. Returns (node_col, dist)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = edges.select(
        F.col(src_col).alias("__es"),
        F.col(dst_col).alias("__ed"),
        F.col(w_col).cast("long").alias("__ew"),
    )
    srcs = sources.select(F.col(node_col).alias("__n")).distinct()
    parent = edges.sparkSession
    with collect_if_small(
        e, ITER_DRIVER_FINISH_EDGES, ["__es", "__ed", "__ew"]
    ) as (erows, e_cached), collect_if_small(
        srcs, ITER_DRIVER_FINISH_NODES, ["__n"]
    ) as (srows, srcs):
        # negative weights: one cheap full-scan agg over the cached
        # edges (scanned max_rounds more times anyway); the same job
        # measures the edge count for the child-session sizing below
        if erows is not None:
            m, n_edges = min((w for _, _, w in erows), default=None), len(erows)
        else:
            m, n_edges = e_cached.agg(
                F.min("__ew"), F.count(F.lit(1))
            ).collect()[0]
        if m is not None and m < 0:
            raise ValueError(f"negative edge weight {m}: sssp requires w >= 0")
        if erows is not None and srows is not None:
            # full per-round relaxation with the same ≤ max_rounds /
            # empty-frontier early stop, which the delta-frontier
            # distributed form is bit-identical to by construction
            dist = {n: 0 for (n,) in srows}
            for _ in range(max_rounds):
                improved: dict = {}
                for u, v, w in erows:
                    du = dist.get(u)
                    if du is None:
                        continue
                    nd = du + w
                    dv = improved.get(v)
                    if dv is None or nd < dv:
                        old = dist.get(v)
                        if old is None or nd < old:
                            improved[v] = nd
                if not improved:
                    break
                dist.update(improved)
            return keyed_frame(
                parent,
                sorted(dist.items()),
                node_col,
                srcs.schema["__n"].dataType,
                "dist",
            )
        # r10: relaxation rounds in a right-sized child session (AQE off
        # below cluster width — see _iteration_session; 40 AQE stage-jobs
        # per call measured before)
        child = _iteration_session(parent, n_edges)
        e = _in_session(e_cached, child)
        dist = (
            _in_session(srcs, child)
            .withColumn("__d", F.lit(0).cast("long"))
            .transform(truncate_lineage)
        )
        frontier = dist
        for _ in range(max_rounds):
            cand = (
                frontier.join(e, frontier["__n"] == e["__es"])
                .select(
                    F.col("__ed").alias("__n"),
                    (F.col("__d") + F.col("__ew")).alias("__d"),
                )
                .groupBy("__n")
                .agg(F.min("__d").alias("__cd"))
            )
            merged = (
                dist.join(cand, on="__n", how="full")
                .select(
                    "__n",
                    F.least(
                        F.coalesce(F.col("__d"), F.col("__cd")),
                        F.coalesce(F.col("__cd"), F.col("__d")),
                    ).alias("__nd"),
                    # improved = first seen, or candidate strictly lower
                    (
                        F.col("__d").isNull()
                        | (F.col("__cd") < F.col("__d"))
                    ).alias("__impr"),
                )
                .withColumnRenamed("__nd", "__d")
                # lazy truncation: the improvement count below is the
                # action that materializes it — one job per round
                .transform(lambda d: truncate_lineage(d, eager=False))
            )
            n_improved = (
                merged.filter(F.col("__impr")).agg(F.count(F.lit(1))).collect()[0][0]
            )
            dist = merged.select("__n", "__d")
            if n_improved == 0:
                break  # exact fixpoint: no distance changed, no node added
            frontier = merged.filter(F.col("__impr")).select("__n", "__d")
    out = dist.select(
        F.col("__n").alias(node_col), F.col("__d").alias("dist")
    )
    # hand the node-sized result back to the caller's session
    return truncate_lineage(_in_session(out, parent), eager=False)


def label_propagation(
    edges: DataFrame,
    rounds: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007, the deterministic bulk-synchronous variant) over an
    undirected simple graph (edges as a<b pairs): every node starts
    labeled with its own id; each round every node adopts the most
    frequent label among its NEIGHBORS, ties broken by the SMALLEST
    label, keeping its current label only when it has no neighbors.
    Returns (node, community) after ≤ ``rounds`` rounds with early
    stop when no label changed.

    Determinism contract: the classic algorithm breaks ties randomly
    and updates asynchronously — neither is reproducible across
    engines or retries. Synchronous rounds + the (count DESC, label
    ASC) tie-break make every round a pure function of the previous
    labeling, so an unrolled chained-CTE twin agrees round-for-round
    and the result is bit-stable under any partitioning. Synchronous
    LPA can oscillate on bipartite-ish structures instead of
    converging — the round cap is therefore part of the SEMANTIC
    contract (the bfs/k_core/sssp always-agree construction), and the
    early stop only fires at a true fixpoint (zero changed labels).

    Scale posture: per round one (edge ⋈ labels) join + one
    (node, label) count agg + one per-node argmax — work ∝ the edge
    list, state ∝ the node list; the argmax is a plain max of a
    (cnt, −label) struct (no windows); lineage cut per round via
    `truncate_lineage`, materialized by the changed-label count (one
    job per round)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("__a"),
            F.col(b_col).cast("long").alias("__b"),
        )
        .filter(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & (F.col("__a") < F.col("__b"))
        )
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    ).select(F.col("__a").alias("__u"), F.col("__b").alias("__v"))
    sym = sym.persist()
    labels = (
        sym.select(F.col("__u").alias("__n"))
        .distinct()
        .withColumn("__l", F.col("__n"))
        .transform(truncate_lineage)
    )
    for _ in range(rounds):
        counts = (
            sym.join(labels, sym["__v"] == labels["__n"])
            .groupBy("__u", "__l")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # deterministic argmax: max of (cnt, −label) == most frequent,
        # smallest label on ties — no window, plain hash aggregate
        pick = counts.groupBy("__u").agg(
            F.max(F.struct(F.col("__c"), (-F.col("__l")).alias("__nl")))
            .alias("__m")
        ).select(
            F.col("__u").alias("__n"), (-F.col("__m.__nl")).alias("__pl")
        )
        stepped = (
            labels.join(pick, on="__n", how="left")
            .select(
                "__n",
                F.coalesce(F.col("__pl"), F.col("__l")).alias("__l"),
                (F.coalesce(F.col("__pl"), F.col("__l")) != F.col("__l"))
                .alias("__chg"),
            )
            .transform(lambda d: truncate_lineage(d, eager=False))
        )
        n_changed = (
            stepped.filter(F.col("__chg")).agg(F.count(F.lit(1))).collect()[0][0]
        )
        labels = stepped.select("__n", "__l")
        if n_changed == 0:
            break  # true fixpoint: the next round would be a no-op
    sym.unpersist()
    return labels.select(
        F.col("__n").alias("node"), F.col("__l").alias("community")
    )


def modularity_ppm(
    edges: DataFrame,
    labels: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Newman modularity of a node partition over an undirected simple
    graph (edges as a<b pairs), as an EXACT integer ppm — the
    evaluation metric for `label_propagation`'s output (detect +
    evaluate completes the community family).

    Q = Σ_c [L_c/m − (d_c/2m)²] = (4m·L_in − Σ_c d_c²) / (4m²): a
    ratio of integers (L_in = intra-community edges, d_c = total
    degree of community c), so like assortativity there is no sqrt or
    IEEE anywhere — sums ride DECIMAL(38,0) (4m·L_in·10⁶ exceeds
    int64 past ~50 M edges), the output is the FLOOR'd ppm (pmod
    emulation: Q can be negative for anti-community partitions).
    Unlabeled nodes are EXCLUDED from every community degree sum d_c
    (deg⋈labels is an inner join) while their edges still count toward
    m — the caller labels every node it wants counted (LPA labels
    every edge-touching node, so under LPA output no node is dropped). One degree agg + two label joins + one edge
    count: node- and edge-proportional, no iteration.

    Output: (n_communities, n_edges, intra_edges, modularity_ppm);
    m = 0 yields NULL modularity."""
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("__a"),
            F.col(b_col).cast("long").alias("__b"),
        )
        .filter(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & (F.col("__a") < F.col("__b"))
        )
        .distinct()
    )
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__c")
    ).filter(F.col("__n").isNotNull() & F.col("__c").isNotNull())
    deg = (
        e.select(F.col("__a").alias("__n"))
        .unionAll(e.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    dec = "decimal(38,0)"
    dc2 = (
        deg.join(lab, on="__n")
        .groupBy("__c")
        .agg(F.sum("__d").cast(dec).alias("__dc"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum(F.col("__dc") * F.col("__dc")).alias("__sdc2"),
        )
    )
    la = lab.select(F.col("__n").alias("__a"), F.col("__c").alias("__ca"))
    lb = lab.select(F.col("__n").alias("__b"), F.col("__c").alias("__cb"))
    intra = (
        e.join(la, on="__a")
        .join(lb, on="__b")
        .filter(F.col("__ca") == F.col("__cb"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    m = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        dc2.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(intra))
        .select(
            "n_communities",
            "n_edges",
            "intra_edges",
            F.when(
                F.col("n_edges") > 0,
                F.expr(
                    "CAST(((CAST(4 AS DECIMAL(38,0)) * n_edges * intra_edges"
                    " - `__sdc2`) * 1000000"
                    " - pmod((CAST(4 AS DECIMAL(38,0)) * n_edges * intra_edges"
                    "         - `__sdc2`) * 1000000,"
                    "        CAST(4 AS DECIMAL(38,0)) * n_edges * n_edges))"
                    " DIV (CAST(4 AS DECIMAL(38,0)) * n_edges * n_edges)"
                    " AS BIGINT)"
                ),
            ).alias("modularity_ppm"),
        )
    )


def degree_assortativity(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Degree assortativity of an undirected simple graph (edges as
    a<b pairs): the Pearson correlation of endpoint degrees over all
    DIRECTED endpoint pairs (each edge contributes (dᵤ,dᵥ) and
    (dᵥ,dᵤ) — the standard symmetric convention). Positive ⇒ hubs
    link to hubs; negative ⇒ hub-and-spoke.

    ALL-integer exact: under the symmetric convention the x and y
    marginals coincide, so r = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) is a
    RATIO OF INTEGERS — no sqrt, no IEEE anywhere. Sums ride
    DECIMAL(38,0); the output is the floor'd ppm (floor emulated from
    Spark's truncating DIV via pmod, since the numerator can be
    negative). Degenerate (all degrees equal → zero variance) yields
    NULL. One degree agg + one edge-side join — node- and
    edge-proportional only.
    """
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("__a"),
            F.col(b_col).cast("long").alias("__b"),
        )
        .filter(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & (F.col("__a") < F.col("__b"))
        )
        .distinct()
    )
    deg = (
        e.select(F.col("__a").alias("__n"))
        .unionAll(e.select(F.col("__b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).cast("long").alias("__deg"))
    )
    da = deg.select(F.col("__n").alias("__a"), F.col("__deg").alias("__da"))
    db = deg.select(F.col("__n").alias("__b"), F.col("__deg").alias("__db"))
    ed = e.join(da, on="__a").join(db, on="__b")
    # both directed orientations in one pass: x totals take u→v AND
    # v→u, so Σx = Σy = Σ(dᵤ+dᵥ) and Σx² = Σy² by symmetry
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(d(F.col("__da") + F.col("__db"))).alias("__sx"),
        F.sum(
            d(F.col("__da")) * d(F.col("__da"))
            + d(F.col("__db")) * d(F.col("__db"))
        ).alias("__sxx"),
        F.sum(F.lit(2) * d(F.col("__da")) * d(F.col("__db"))).alias("__sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        m.crossJoin(F.broadcast(nn))
        .select(
            "n_nodes",
            "n_edges",
            F.expr("2 * n_edges * `__sxy` - `__sx` * `__sx`").alias("__num"),
            F.expr("2 * n_edges * `__sxx` - `__sx` * `__sx`").alias("__den"),
        )
        .select(
            "n_nodes",
            "n_edges",
            F.when(
                F.col("__den") > 0,
                F.expr(
                    "CAST((`__num` * 1000000 - pmod(`__num` * 1000000,"
                    " `__den`)) DIV `__den` AS BIGINT)"
                ),
            ).alias("assortativity_ppm"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 12,
) -> DataFrame:
    """The k-core of an undirected simple graph (edges as a<b pairs):
    the maximal subgraph in which every node has degree ≥ k, computed
    by SIMULTANEOUS peeling — each round drops ALL nodes of current
    degree < k at once, then the edges touching them (Matula &
    Beck's algorithm in its bulk-synchronous form, the shape
    MapReduce/Pregel systems use). Returns (node, core_degree): every
    surviving node with its degree inside the final subgraph.

    Scale posture: per round one node-grain degree agg + two keyed
    semi-joins of the edge set against the survivor set — work is
    proportional to the CURRENT edge set, which only shrinks; no
    windows, no collect beyond the O(1) convergence scalar. Lineage
    is cut per round via `truncate_lineage` (reliable checkpoint when
    the session has one), and the convergence signature — (count, Σa,
    Σb, Σxxhash64(a,b)) — reads the blocks the round's job just
    materialized, exactly the `connected_components_star` idiom.

    The ``max_rounds`` cap is part of the SEMANTIC contract, not a
    tuning knob: the operator computes "≤ max_rounds simultaneous
    peels (stopping early at the fixpoint, where further rounds are
    no-ops)", which an unrolled chained-CTE oracle reproduces exactly
    whether or not the graph converges within the cap — the
    always-agree construction the BFS oracle uses for its hop cap."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("__a"),
            F.col(b_col).cast("long").alias("__b"),
        )
        .filter(
            F.col("__a").isNotNull()
            & F.col("__b").isNotNull()
            & (F.col("__a") < F.col("__b"))
        )
        .distinct()
        .transform(truncate_lineage)
    )

    def _deg(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("__a").alias("__n"))
            .unionAll(ed.select(F.col("__b").alias("__n")))
            .groupBy("__n")
            .agg(F.count(F.lit(1)).cast("long").alias("__d"))
        )

    prev_sig = None
    for _ in range(max_rounds):
        alive = _deg(e).filter(F.col("__d") >= k).select("__n")
        e = (
            e.join(alive, e["__a"] == alive["__n"], "left_semi")
            .join(alive, F.col("__b") == alive["__n"], "left_semi")
            .transform(lambda d: truncate_lineage(d, eager=False))
        )
        row = e.agg(
            F.count(F.lit(1)),
            F.sum("__a").cast("decimal(38,0)"),
            F.sum("__b").cast("decimal(38,0)"),
            F.sum(F.xxhash64("__a", "__b").cast("decimal(38,0)")),
        ).collect()[0]
        cur_sig = tuple(row)
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    return _deg(e).select(
        F.col("__n").alias("node"), F.col("__d").alias("core_degree")
    )


def _in_session(df: DataFrame, sess) -> DataFrame:
    """Re-anchor ``df`` onto another SparkSession of the SAME
    SparkContext via a transient global temp view — the plan (and any
    checkpointed RDDs behind it) is shared JVM-side, zero copy; only
    the session configuration under which it EXECUTES changes."""
    import uuid

    name = "__mdps_graph_" + uuid.uuid4().hex[:16]
    df.createOrReplaceGlobalTempView(name)
    try:
        return sess.table("global_temp." + name)
    finally:
        df.sparkSession.catalog.dropGlobalTempView(name)


def _iteration_session(parent, n_rows: int):
    """Child SparkSession for entity-scale fixed-round iterations —
    the SCC idiom (see strongly_connected_components) shared by the
    whole iterative family (r10): shuffle parallelism sized to the
    measured edge/row count, and AQE disabled when that lands below
    the cluster default. Rationale: when the graph is small, every
    per-round exchange is a tiny fixed-cost stage, and under AQE each
    query-stage materialization is a SEPARATE job (~45 ms of driver
    scheduling apiece — 26-40 jobs per pagerank/HITS/SSSP call
    measured at entity scale); classic execution pipelines each
    round's whole plan as ONE job. A cluster-scale input keeps
    parts == default and AQE (skew handling) stays on. Frames cross
    sessions via `_in_session` (same SparkContext — zero copy)."""
    default_parts = int(
        parent.conf.get("spark.sql.shuffle.partitions", "200")
    )
    parts = max(2, min(default_parts, n_rows // 2_000_000 + 2))
    child = parent.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(parts))
    if parts < default_parts:
        child.conf.set("spark.sql.adaptive.enabled", "false")
    return child


def _tarjan_min_scc(nodes: list, adj: dict) -> dict:
    """Exact SCC of a BOUNDED in-memory digraph (iterative Tarjan,
    explicit stack — no recursion limit): returns {node: min id of
    its SCC}. Driver-side finisher for residual subgraphs under the
    strongly_connected_components collect caps; exact SCC assignments
    are unique, so this agrees with the distributed FW-BW peels (and
    with the oracle's unrolled CTE rounds) on any graph."""
    index: dict = {}
    low: dict = {}
    on: set = set()
    stack: list = []
    out: dict = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on.add(v)
            descend = False
            nbrs = adj.get(v, ())
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descend = True
                    break
                if w in on:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if descend:
                continue
            work.pop()
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            if work:
                u = work[-1][0]
                if low[v] < low[u]:
                    low[u] = low[v]
    return out


# Bounded-state caps for the SCC driver finisher: a residual subgraph
# at most this large is collected and finished exactly on the driver
# (≤ ~3 MB of long pairs — the kmeans-centroid / BPE-argmax bounded
# collect idiom), replacing whole distributed peels whose per-round
# plan/scheduling cost dwarfs their node-scale data. Larger residues
# keep the distributed FW-BW machinery unchanged — at 100 TB these
# caps bound DRIVER memory, not coverage.
SCC_DRIVER_FINISH_NODES = 4096
SCC_DRIVER_FINISH_EDGES = 200_000


def strongly_connected_components(
    edges: DataFrame,
    outer_rounds: int,
    prop_rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_finish_nodes: int = SCC_DRIVER_FINISH_NODES,
    driver_finish_edges: int = SCC_DRIVER_FINISH_EDGES,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by
    forward-backward min-label coloring (the FW-BW/coloring family:
    Orzan 2004; Slota et al. 2014) — the directed analog that
    completes CC (undirected, ext/dedup_fuzzy.py) / BFS / SSSP:
    "which entities are in a mutual-reachability cycle", the question
    reachability alone cannot answer.

    Per OUTER round, on the still-unassigned subgraph:

      0. TRIM (r9): a node with no in-edge or no out-edge in the
         remaining subgraph lies on no cycle, so it is a singleton
         SCC — assign it immediately and drop it (Slota et al.'s trim
         step; it strips the DAG bulk, ~60% of the co-purchase
         precedence graph, and the shadowing chains that otherwise
         force extra peels). Trim is a pure OPTIMIZATION — an
         untrimmed trivial node is simply captured later as a
         singleton color class — so it runs a FIXED small number of
         rounds with no convergence jobs at all: every trim round is
         a lazily-checkpointed plan that the forward phase's first
         convergence job materializes in the same Spark job.
      1. FORWARD coloring (≤ ``prop_rounds``): color(v) starts as v
         and each round takes the min over (a) in-neighbors' colors
         — the one-step operator — and, for the first few rounds,
         (b) color(color(v)) — pointer jumping: color(v) is an
         ancestor's label and that ancestor's own min-ancestor is
         also an ancestor of v, so the shortcut preserves the
         invariant while collapsing label chains in O(log D) rounds
         instead of O(D). Rounds run in blocks of FOUR; after each
         block a single STABILITY job both materializes the block
         and counts one-step violations (edges whose source label is
         smaller than their destination's — the one-step operator
         changes some label iff such an edge exists), so a converged
         phase costs ONE Spark job. Zero violations ⟺ the exact
         one-step fixpoint, which is the
         true min-ancestor labeling: if some ancestor m < color(v)
         existed, one-step stability along the m→v path would force
         color(v) ≤ m. At the fixpoint color class c is
         forward-reachable from its root c WITHIN the class, and c
         is the minimum id in its class (color(v) ≤ v).
      2. BACKWARD capture (≤ ``prop_rounds``): restrict to edges
         whose endpoints share a color, then compute reach(v) = the
         minimum id reachable FROM v within its class — the same
         stability-checked min-label propagation run along REVERSED
         class edges (reach(v) folds in reach of out-neighbors, plus
         the reach(reach(v)) shortcut; every label names a node
         reachable from v inside the class). Since class ids are
         ≥ c and the root c is in the class, reach(v) == color(v)
         exactly when v reaches its root — mutual reachability, i.e.
         captured(c) == SCC(c).
      3. Assign captured nodes, drop them (and their edges) from the
         subgraph; the next outer round exposes the SCCs whose roots
         were previously shadowed by a smaller upstream color.

    Round caps bound work; every early stop fires only at a true
    fixpoint, and when the caps REACH those fixpoints the output is
    the exact SCC assignment (asserted against Tarjan on random
    digraphs in tests/test_scc.py). That exactness — not any
    round-for-round schedule — is the oracle contract: the registry
    twin is an unrolled one-step FW-BW CTE whose own caps are sized
    to ITS measured fixpoint, and two exact SCC computations agree
    on any graph, so trimming/jumping on the Spark side cannot
    diverge while both sides' caps reach their fixpoints. Capture
    stays SOUND at any cap (reach(v) == c exhibits a real in-class
    path to the root); a truncated cap can only split an SCC across
    peels — callers choosing tight caps should verify the final
    round assigns every node.

    Scale posture: per round one label⋈edges join + a node-sized
    self-join (the jump) + one min agg — work ∝ the remaining node ×
    edge sets, which shrink on every axis (trim, capture, color
    convergence); lineage cut per round via `truncate_lineage`, and
    the stability check after each 4-round block is the single job
    that materializes it — a converged phase costs ONE Spark job.
    A residual subgraph under the ``driver_finish_*`` caps is
    finished EXACTLY on the driver (iterative Tarjan,
    `_tarjan_min_scc`; exact SCC assignments are unique, so it agrees
    with the distributed peels and the oracle on any graph).
    The iteration runs in a CHILD
    SparkSession (same context, executors and data — frames cross
    via global temp views) whose shuffle parallelism is sized to the
    graph's measured edge count instead of the session default:
    label frames here are node-scale, and fixed wide exchanges make
    scheduler overhead — not data — the cost of every round at
    test/entity scale, while a 100 TB edge set still fans out (the
    partition count grows linearly with edges). Returns (node, scc):
    scc is the component's minimum node id."""
    if outer_rounds < 1 or prop_rounds < 1:
        raise ValueError("outer_rounds and prop_rounds must be >= 1")
    e_all = (
        edges.select(
            F.col(src_col).cast("long").alias("__s"),
            F.col(dst_col).cast("long").alias("__d"),
        )
        .filter(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & (F.col("__s") != F.col("__d"))
        )
        .distinct()
        .transform(lambda d: truncate_lineage(d, eager=False))
    )
    parent = edges.sparkSession
    n_edges = e_all.count()  # the one job that materializes e_all
    if n_edges == 0:
        return local_frame(parent, [], "node long, scc long")
    # child session: shuffle parallelism ∝ |E|, AQE off below cluster
    # width (see _iteration_session — ~240 AQE stage-jobs per SCC call
    # measured at entity scale vs ONE classic job per stability check)
    child = _iteration_session(parent, n_edges)
    e = _in_session(e_all, child)
    nodes = (
        e.select(F.col("__s").alias("__n"))
        .unionByName(e.select(F.col("__d").alias("__n")))
        .distinct()
    )
    assigned = None
    lazy = lambda d: truncate_lineage(d, eager=False)  # noqa: E731
    jump_cap = 8  # pointer jumping for the first rounds of a phase

    def _one_round(
        lab: DataFrame, prop: DataFrame, jump: bool
    ) -> DataFrame:
        # F.col (not df["col"]) throughout the hot loop: bracket
        # access reads the schema, which forces an EAGER Catalyst
        # analysis of both inputs on every round — measurable driver
        # time at ~25 rounds per call
        step = prop.join(lab, F.col("__s") == F.col("__n")).select(
            F.col("__d").alias("__n"), "__c"
        )
        cand = lab.unionByName(step)
        if jump:
            j = (
                lab.alias("x")
                .join(lab.alias("y"), F.col("x.__c") == F.col("y.__n"))
                .select(
                    F.col("x.__n").alias("__n"),
                    F.col("y.__c").alias("__c"),
                )
            )
            cand = cand.unionByName(j)
        return cand.groupBy("__n").agg(F.min("__c").alias("__c"))

    def _min_label_fixpoint(
        lab: DataFrame, prop: DataFrame, rounds: int
    ) -> DataFrame:
        """Jump-accelerated min-label propagation to the exact
        fixpoint of the one-step operator. ``lab`` is (__n, __c) with
        __c initialized to __n; ``prop`` is (__s, __d) meaning __s's
        label flows to __d.

        Convergence protocol: rounds run in blocks of FOUR inside one
        lazily-checkpointed plan, then a single STABILITY job both
        materializes the block and counts one-step violations —
        edges whose source label is smaller than their destination's
        (new(d) = min(lab(d), min lab(s)) changes some label iff such
        an edge exists, and one-step stability implies jump stability
        since color chains are themselves label-order paths). Zero
        violations ⟺ the exact one-step fixpoint, so the typical
        phase costs ONE Spark job: with pointer jumping a block of
        four rounds covers the measured fixpoints at every gate SF,
        and the check that proves it doubles as the materializer."""
        done = 0
        while done < rounds:
            block = min(4, rounds - done)
            for i in range(block):
                # cut lineage EVERY round: lab feeds the round plan in
                # several places, so an uncut round re-executes its
                # joins per consumer in the next round's plan (r10:
                # measured 2x worse with every-2nd-round cuts)
                lab = lazy(_one_round(lab, prop, done + i < jump_cap))
            done += block
            violations = (
                prop.join(
                    lab.select(
                        F.col("__n").alias("__vs"),
                        F.col("__c").alias("__cs"),
                    ),
                    F.col("__s") == F.col("__vs"),
                )
                .join(
                    lab.select(
                        F.col("__n").alias("__vd"),
                        F.col("__c").alias("__cd"),
                    ),
                    F.col("__d") == F.col("__vd"),
                )
                .filter(F.col("__cs") < F.col("__cd"))
                .agg(F.count(F.lit(1)))
                .collect()[0][0]
            )
            if violations == 0:
                break  # exact one-step fixpoint
        return lab

    for peel in range(outer_rounds):
        # -- 0. trim: degree-0 nodes are singleton SCCs (check-free,
        # first peel only — it exists to strip the raw graph's DAG
        # bulk; later peels are residue where the per-round plan cost
        # outweighs what trim saves, and an untrimmed trivial node is
        # captured as a singleton class anyway) -----------------------
        if peel == 0:
            nodes0 = nodes
            for _r in range(min(3, prop_rounds)):
                has_out = e.select(F.col("__s").alias("__n")).distinct()
                has_in = e.select(F.col("__d").alias("__n")).distinct()
                core = lazy(
                    nodes.join(has_out, on="__n", how="left_semi").join(
                        has_in, on="__n", how="left_semi"
                    )
                )
                nodes = core
                e = lazy(
                    e.join(core.select(F.col("__n").alias("__x")),
                           F.col("__s") == F.col("__x"), "left_semi")
                    .join(core.select(F.col("__n").alias("__x")),
                          F.col("__d") == F.col("__x"), "left_semi")
                )
            # every trimmed node at once (not per round): scc = self
            assigned = lazy(
                nodes0.join(nodes, on="__n", how="left_anti").select(
                    "__n", F.col("__n").alias("__scc")
                )
            )
            # the count doubles as the trim chain's materializer (the
            # forward phase's first stability job played that role
            # before) and feeds the driver-finish gate below
            n_rem = nodes.count()
        # -- 0.5 bounded driver finish: each extra peel on a
        # node-scale residue costs ~10 lazy checkpoint plannings + 3-5
        # jobs regardless of data; Tarjan on the collected residue
        # replaces ALL remaining peels (measured 9.7-16 s → 2.2-3.8 s
        # on the precedence graph, whose post-trim core is ~2.5 k nodes)
        if n_rem == 0:
            break  # trim assigned everything: the graph was a DAG
        if n_rem <= driver_finish_nodes:
            with collect_if_small(
                e, driver_finish_edges, ["__s", "__d"]
            ) as (erows, _):
                if erows is not None:
                    adj: dict = {}
                    for s, d in erows:
                        adj.setdefault(s, []).append(d)
                    node_ids = [r["__n"] for r in nodes.collect()]
                    comp = _tarjan_min_scc(node_ids, adj)
                    got_lit = local_frame(
                        child, comp.items(), "__n long, __scc long"
                    )
                    assigned = lazy(assigned.unionByName(got_lit))
                    break
        # -- 1. forward min-label coloring (jump-accelerated) ---------
        col = lazy(nodes.withColumn("__c", F.col("__n")))
        col = _min_label_fixpoint(col, e, prop_rounds)
        # -- 2. backward capture over same-color edges ----------------
        sc = col.select(
            F.col("__n").alias("__cn"), F.col("__c").alias("__scol")
        )
        ce = lazy(
            e.join(sc, F.col("__s") == F.col("__cn"))
            .select("__s", "__d", F.col("__scol").alias("__sc"))
            .join(
                sc.select(
                    F.col("__cn").alias("__cn2"),
                    F.col("__scol").alias("__sc2"),
                ),
                F.col("__d") == F.col("__cn2"),
            )
            .filter(F.col("__sc") == F.col("__sc2"))
            .select("__s", "__d")
        )
        # reach(v) = min id reachable FROM v within its class: the
        # same propagation along REVERSED class edges
        reach = lazy(nodes.withColumn("__c", F.col("__n")))
        reach = _min_label_fixpoint(
            reach,
            ce.select(
                F.col("__d").alias("__s"), F.col("__s").alias("__d")
            ),
            prop_rounds,
        )
        cap = lazy(
            col.join(
                reach.select("__n", F.col("__c").alias("__r")),
                on="__n",
            ).filter(F.col("__r") == F.col("__c"))
        )
        # -- 3. assign and shrink the subgraph ------------------------
        got = cap.select("__n", F.col("__c").alias("__scc"))
        assigned = lazy(
            got if assigned is None else assigned.unionByName(got)
        )
        nodes = nodes.join(cap.select("__n"), on="__n", how="left_anti")
        e = lazy(
            e.join(cap.select(F.col("__n").alias("__x")),
                   F.col("__s") == F.col("__x"), "left_anti")
            .join(cap.select(F.col("__n").alias("__x")),
                  F.col("__d") == F.col("__x"), "left_anti")
        )
        n_rem = nodes.count()
        if n_rem == 0:
            break  # every node assigned: further rounds are no-ops
    out = assigned.select(
        F.col("__n").alias("node"), F.col("__scc").alias("scc")
    )
    # hand the (bounded, node-sized) result back to the CALLER's
    # session so downstream plans use its parallelism settings; lazy
    # — the caller's first action materializes it
    return truncate_lineage(_in_session(out, parent), eager=False)
