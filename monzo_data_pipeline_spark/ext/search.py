"""Search-engine operators over the documents corpus.

North-star extension surface (BASELINE.json: text analysis at scale):
an inverted index build and a log-free BM25 ranking — the two halves
of a distributed keyword-search pipeline. Neither exists in the
reference (its only text handling is JSON round-tripping,
/root/reference/src/utils/api/api_client.py:53-55); both are the
standard operators a 100 TB document corpus needs for retrieval-based
dedup/decontamination and search.

Scale posture:
  * The only wide shuffle in either op is the (doc_id, word) partial
    count — map-side combined, then one exchange on `word`. Corpus
    stats (N docs, total tokens) and per-term document frequencies are
    tiny aggregates broadcast back to the fact side.
  * Posting lists are the classic skew hazard (stopword postings ≈
    corpus size). `inverted_index` takes `max_postings` to cap the
    materialized list per term (head-by-doc_id, deterministic) — at
    100 TB you'd shard postings by (word, doc_id range) instead of
    capping; the cap keeps single-row state bounded here.
  * BM25 keeps every expression as int64 products + one IEEE-exact
    double division — whole-stage codegen, no Python, no libm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens
from ..session import local_frame
from .lineage import collect_if_small, truncate_lineage

# BM25 constants as exact rationals: k1 = 6/5 (1.2), b = 1.
# With b=1 and avgdl = T/N (total tokens / doc count), the per-term
# score is exactly rational:
#
#   idf_r   = (N - df + 1/2) / (df + 1/2)        -- log-free idf ratio
#           = (2N - 2df + 1) / (2df + 1)          -- integerized
#   tf_part = tf*(k1+1) / (tf + k1*dl/avgdl)
#           = 11*tf*T / (5*tf*T + 6*dl*N)         -- integerized (×5N/T)
#
# so score_term = num/den with
#   num = (2N - 2df + 1) * 11 * tf * T
#   den = (2df + 1) * (5*tf*T + 6*dl*N)
# Both products stay < 2^53 for any realistic per-partition corpus
# slice (N·tf·T ≤ ~1e12 at sf0.1), so the bigint math is exact and the
# single double division is IEEE-exact-rounded — bit-identical across
# engines. The classic log() idf is deliberately avoided: libm logs
# are not pinned by IEEE-754 and differ across engines in the last ulp.


def _doc_tokens(documents: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, dl, word) exploded token stream; dl = doc token count."""
    toks = documents.select(
        "doc_id", tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    return toks.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("word"),
    ).filter(F.col("word") != "")


def doc_term_frequencies(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, word, tf) — the index's APPEND-ONLY mergeable state.

    This granularity is what an incremental indexer persists: a new
    document batch is tokenized alone and its tf rows appended (docs
    are immutable, so rows never collide); every summary statistic
    (df, total_tf, postings) is re-derivable from the union with one
    groupBy — the corpus is never re-tokenized. Same state shape as
    the LSH `band_index` path in dedup_fuzzy.
    """
    return (
        _doc_tokens(documents, text_col)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def summarize_index(
    tf: DataFrame,
    min_df: int = 2,
    max_postings: int = 1000,
) -> DataFrame:
    """Collapse tf state to the query-side index: (word, df, total_tf,
    postings). postings = first `max_postings` doc_ids ascending
    (deterministic cap; see module docstring for the sharding
    posture at 100 TB)."""
    return (
        tf.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.slice(
                F.array_sort(F.collect_list("doc_id")), 1, max_postings
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def inverted_index(
    documents: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    max_postings: int = 1000,
) -> DataFrame:
    """Build a term → posting-list index: (word, df, total_tf, postings).

    One-shot form of doc_term_frequencies → summarize_index; the
    incremental path appends tf batches instead (batch-composition
    parity tested in tests/test_search.py).
    """
    return summarize_index(
        doc_term_frequencies(documents, text_col), min_df, max_postings
    )


def shard_postings(
    tf: DataFrame,
    doc_range: int = 100_000,
) -> DataFrame:
    """Sharded posting lists: (word, shard_id, df_shard, total_tf_shard,
    postings) with shard_id = doc_id DIV doc_range.

    THIS is the 100 TB posting-list representation (SCALE_DESIGN.md's
    "sharded at scale" note, now implemented): a stopword's postings ≈
    the corpus and cannot live in one aggregation buffer or one row.
    Doc-range sharding fixes both structurally:

      * the shard key is computed MAP-SIDE from (word, doc_id) alone —
        no per-word window/sort over the skewed partition, no second
        shuffle; the one exchange is on (word, shard_id), which splits
        every heavy term's hash bucket into ~n_docs/doc_range pieces
        (built-in salting, bounded aggregation state per group);
      * per-row postings are ≤ the docs in one range, so row size is
        bounded by doc_range regardless of term frequency;
      * shards of one term are disjoint doc ranges, so df/total_tf are
        sums over shards and postings concatenate in shard order
        already globally sorted — merge_shards() below is exact, and
        query-side consumers (intersection, BM25 candidate fetch) can
        stream shard-by-shard without ever materializing the full list.
    """
    return (
        tf.withColumn(
            "shard_id", (F.col("doc_id") / F.lit(doc_range)).cast("bigint")
        )
        .groupBy("word", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("df_shard"),
            F.sum("tf").alias("total_tf_shard"),
            F.array_sort(F.collect_list("doc_id")).alias("postings"),
        )
    )


def merge_shards(
    sharded: DataFrame,
    min_df: int = 2,
    max_postings: int = 1000,
) -> DataFrame:
    """Merge view over shard_postings: exactly summarize_index's
    output (word, df, total_tf, postings) — shard-count invariant.

    Shards are disjoint ascending doc ranges, so ordering the per-shard
    arrays by shard_id and flattening IS the global ascending posting
    list; no re-sort of the full list is ever needed. The flatten runs
    only when a full-list view is actually requested (parity,
    compatibility) — scale consumers keep the sharded form.
    """
    return (
        sharded.groupBy("word")
        .agg(
            F.sum("df_shard").alias("df"),
            F.sum("total_tf_shard").alias("total_tf"),
            F.slice(
                F.flatten(
                    F.array_sort(
                        F.collect_list(F.struct("shard_id", "postings"))
                    ).getField("postings")
                ),
                1,
                max_postings,
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def bm25_scores(
    documents: DataFrame,
    terms: tuple[str, ...] = ("spark", "hash", "merge"),
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Rank documents for a bag-of-terms query with log-free BM25
    (k1=1.2, b=1; exact-rational integerization above).

    Per-term quantized score floor(1e6·num/den) is summed per doc as
    BIGINT — order-independent, so partial aggregation and shuffle
    order can't change the result. Top-k carries a unique tiebreak.
    """
    toks = _doc_tokens(documents, text_col)
    tf = (
        toks.filter(F.col("word").isin(*terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = documents.select(
        tokens(F.lower(F.col(text_col))).alias("__toks")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks")).alias("total_tokens"),
    )

    num = (
        (2 * F.col("n_docs") - 2 * F.col("df") + 1)
        * 11
        * F.col("tf")
        * F.col("total_tokens")
    ).cast("bigint")
    den = (
        (2 * F.col("df") + 1)
        * (
            5 * F.col("tf") * F.col("total_tokens")
            + 6 * F.col("dl") * F.col("n_docs")
        )
    ).cast("bigint")
    # Enforce (not just document) the exactness envelope: the single
    # double division is IEEE-exact only while |num| and |den| < 2^53.
    # Recompute both products in DECIMAL(38,0) (can't silently wrap)
    # and route the score through assert_true so the check cannot be
    # pruned — a corpus that outgrows the envelope fails loudly instead
    # of silently losing the bit-identical cross-engine property.
    dec = "decimal(38,0)"
    num_d = (
        (2 * F.col("n_docs").cast(dec) - 2 * F.col("df").cast(dec) + 1)
        * 11
        * F.col("tf").cast(dec)
        * F.col("total_tokens").cast(dec)
    )
    den_d = (2 * F.col("df").cast(dec) + 1) * (
        5 * F.col("tf").cast(dec) * F.col("total_tokens").cast(dec)
        + 6 * F.col("dl").cast(dec) * F.col("n_docs").cast(dec)
    )
    bound = F.lit(2**53).cast(dec)
    in_envelope = F.assert_true(
        (num_d < bound) & (den_d < bound),
        F.lit(
            "bm25_scores: corpus exceeds the 2^53 exact-arithmetic "
            "envelope; the quantized score is no longer bit-identical "
            "across engines"
        ),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(F.broadcast(stats))
        .withColumn(
            "score_term_q",
            F.when(
                in_envelope.isNull(),  # always true; forces the check
                F.floor(
                    num.cast("double") / den.cast("double") * F.lit(1000000.0)
                ).cast("bigint"),
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("score_term_q").alias("score_q"),
        )
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .limit(top_k)
    )


def adaptive_stopword_filter(
    documents: DataFrame,
    text_col: str = "text",
    df_percent: int = 50,
) -> DataFrame:
    """Corpus-adaptive boilerplate removal (C4/RefinedWeb-style): drop
    every token that appears in ≥ df_percent% of documents, preserving
    the order of the surviving tokens.

    The stop set is a corpus-level aggregate (vocabulary-sized, tiny
    after partial agg) broadcast back as ONE array literal row; the
    per-doc rewrite is then a map-side higher-order `filter` — no
    per-doc shuffle, no Python. The df·100 ≥ pct·N comparison stays in
    integers (no float threshold ties).
    """
    docs = documents.select(
        "doc_id", tokens(F.lower(F.col(text_col))).alias("toks")
    )
    dfreq = (
        docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    stop_arr = (
        dfreq.join(F.broadcast(n_docs))
        .filter(F.col("df") * 100 >= F.lit(df_percent) * F.col("n_docs"))
        .agg(F.array_sort(F.collect_list("word")).alias("stops"))
    )
    kept = F.filter(
        F.col("toks"), lambda t: ~F.array_contains(F.col("stops"), t)
    )
    return (
        docs.crossJoin(F.broadcast(stop_arr))
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("clean_text"),
            (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        )
    )


def adjacency_edges(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Directed word-adjacency graph from the corpus: (src, dst, w)
    where w = corpus-wide count of dst immediately following src.

    Map-side array slicing (no self-join, no window) feeds one count
    agg — this corpus-sized pass is the heavy stage of TextRank; the
    graph it emits is vocabulary-sized.
    """
    from ..operators.partitioning import fan_out

    toks = tokens(F.lower(F.col(text_col)))
    # r10 (guide §2.5): fan the corpus out before the tokenize/explode
    # pass — single-row-group scans otherwise run this heavy stage on
    # one core
    pairs = fan_out(documents.select(F.col(text_col))).select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("src"), F.col("p.1").alias("dst"))
    return (
        pairs.filter((F.col("src") != "") & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def textrank_keywords(
    documents: DataFrame,
    text_col: str = "text",
    iters: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """TextRank keyword ranking: weighted PageRank (damping 17/20) over
    the word-adjacency graph, `iters` fixed iterations, ALL-INTEGER
    arithmetic so every engine agrees bit-for-bit:

        rank ∈ micro-units (init 1e6 DIV N);
        contrib(u→v) = (r_u · w_uv) DIV out_u;
        r'_v = (3·1e6) DIV (20·N)  +  (17 · Σ contrib) DIV 20.

    Dangling-node mass is dropped (the standard simplification).

    Scale shape: the corpus-sized work is ONE bigram count
    (adjacency_edges); the iterations run on the vocabulary-sized
    graph — at 100 TB that graph still fits in a broadcast, so each
    round is a broadcast join + one tiny agg, and the driver loop adds
    no corpus rescans (edges are cached).
    """
    from . import graph as G

    parent = documents.sparkSession
    with collect_if_small(
        adjacency_edges(documents, text_col),
        G.ITER_DRIVER_FINISH_EDGES,
        ["src", "dst"],
    ) as (erows, edges):
        if erows is not None:
            words = {w for s, d, _ in erows for w in (s, d)}
            n = len(words)
            if n == 0:
                # empty or single-token corpus: no adjacency edges, no
                # graph — an empty frame instead of dividing by 0
                return local_frame(parent, [], "word string, rank_q bigint")
            if n <= G.ITER_DRIVER_FINISH_NODES:
                tele = (3 * 1_000_000) // (20 * n)
                ow: dict = {}
                for s, _, w in erows:
                    ow[s] = ow.get(s, 0) + w
                rank = {w: 1_000_000 // n for w in words}
                for _ in range(iters):
                    acc: dict = {}
                    for s, d, w in erows:
                        acc[d] = acc.get(d, 0) + rank[s] * w // ow[s]
                    rank = {w: tele + 17 * acc.get(w, 0) // 20 for w in words}
                top = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))
                return local_frame(parent, top[:top_k], "word string, rank_q bigint")
        nodes = truncate_lineage(
            edges.select(F.col("src").alias("word"))
            .unionByName(edges.select(F.col("dst").alias("word")))
            .distinct()
        )
        n = nodes.count()  # >= 1: the edge set is over its cap
        tele = (3 * 1_000_000) // (20 * n)
        # r10: iterations in a right-sized child session (AQE off below
        # cluster width — the graph-family _iteration_session idiom; 24
        # AQE stage-jobs per call measured before). The vocabulary graph
        # is node-scale, so the node count sizes it.
        child = G._iteration_session(parent, n)
        edges = G._in_session(edges, child)
        nodes = G._in_session(nodes, child)
        out_w = edges.groupBy("src").agg(F.sum("w").alias("ow"))
        ranks = nodes.withColumn("r", F.lit(1_000_000 // n).cast("bigint"))
        for _ in range(iters):
            contribs = (
                edges.join(out_w, "src")
                .join(
                    F.broadcast(ranks.select(F.col("word").alias("src"), "r")),
                    "src",
                )
                .withColumn("c", F.expr("CAST((r * w) DIV ow AS BIGINT)"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            ranks = (
                nodes.join(
                    contribs.select(F.col("dst").alias("word"), "s"),
                    "word",
                    "left",
                )
                .withColumn(
                    "r",
                    F.lit(tele).cast("bigint")
                    + F.expr("CAST((17 * COALESCE(s, 0)) DIV 20 AS BIGINT)"),
                )
                .select("word", "r")
            )
            # r10: cut the lineage each round (the pagerank idiom) — the
            # broadcast of round i otherwise re-plans/re-executes rounds
            # 1..i-1 as nested subplans (~80 Exchanges in the final plan)
            ranks = truncate_lineage(ranks, eager=False)
        # the top-k is materialized while the edge cache is still live
        out = truncate_lineage(
            ranks.select("word", F.col("r").alias("rank_q"))
            .orderBy(F.desc("rank_q"), F.asc("word"))
            .limit(top_k)
        )
    # hand the top-k back to the caller's session (the SCC idiom)
    return G._in_session(out, parent)
