"""DataFrame-native BPE merge training — the vocabulary-induction
step of an LLM data pipeline (Sennrich et al., ACL'16), north-star
scope beside the BPE-ish token counting in functions/text.py.

Algorithm: train on the (word, frequency) table; each word is a
symbol sequence (initially characters). Per merge step: count
adjacent symbol pairs weighted by word frequency, take the most
frequent pair (deterministic tiebreak: count DESC, left ASC, right
ASC), rewrite every word with the pair fused, repeat.

Representation: a word's symbol sequence is one delimited string
``|s1||s2||...|`` — fusing pair (a,b) is then a single JVM
``replace(s, '|a||b|', '|ab|')``, whose left-to-right non-overlapping
scan IS the BPE merge rule (``aaa`` + (a,a) → ``aa,a``), and the full
delimiters make cross-symbol false matches impossible. Words
containing the delimiter are excluded up front.

Scale: each step is one pair-count aggregation over the VOCABULARY
(distinct words, ≪ corpus — frequencies absorb the volume) plus a
map-side rewrite; the only collect is the 1-row argmax per step (the
kmeans-centroid pattern), and `localCheckpoint` keeps the iterative
lineage flat. At 100 TB the corpus is touched exactly once (the word
count); every iteration after that runs on vocab-sized data.

The merge table is oracle-checked: the DuckDB twin unrolls the same
N steps as chained CTEs with scalar-subquery argmaxes (the
textrank_keywords technique), so Spark and DuckDB must agree on every
(step, pair, count) — integer counts, no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from monzo_data_pipeline_spark.ext.lineage import (
    collect_if_small,
    truncate_lineage,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens
from ..session import local_frame

MERGES_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType()),
        T.StructField("left", T.StringType()),
        T.StructField("right", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("pair_count", T.LongType()),
    ]
)


def word_frequencies_for_bpe(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) training table: lowercased whitespace tokens, empty
    and delimiter-containing words excluded."""
    from ..operators.partitioning import fan_out

    w = F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    # r10 (guide §2.5): fan the docs out before the tokenize/explode
    # pass — single-row-group scans otherwise run it on one core
    return (
        fan_out(documents.select(F.col(text_col)))
        .select(w)
        .filter((F.col("w") != "") & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _pair_counts(corpus: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the delimited corpus: zip the
    symbol array against itself shifted by one (slice+arrays_zip —
    no index lambda), weighted by word frequency."""
    syms = F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|\|")
    withs = corpus.select(syms.alias("syms"), "n").filter(F.size("syms") >= 2)
    pair = F.explode(
        F.zip_with(
            F.slice("syms", 1, F.size("syms") - 1),
            F.slice("syms", 2, F.size("syms") - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
    ).alias("p")
    pairs = withs.select(pair, "n").select("p.a", "p.b", "n")
    return pairs.groupBy("a", "b").agg(F.sum("n").alias("cnt"))


# Bounded-state cap for the driver-side merge loop
# (ext/lineage.py::collect_if_small): a vocabulary under this many
# distinct words is collected once (a few MB of delimited strings)
# and the n_merges steps run in plain Python, replacing one pair-count
# aggregation + argmax collect + lazy checkpoint PER STEP (22-27 jobs
# across the BPE queries) with a single collect. Larger vocabularies
# fall through to the unchanged distributed loop, so the cap bounds
# driver memory, not coverage.
BPE_DRIVER_FINISH_WORDS = 65_536


def _py_pair_argmax(corpus: list) -> tuple | None:
    """(a, b, cnt) of the most frequent adjacent pair, tiebreak
    cnt DESC, a ASC, b ASC — the exact argmax the distributed
    `_pair_counts` + orderBy spelling computes (Python str comparison
    is code-point order, which equals Spark's UTF-8 binary order)."""
    cnt: dict = {}
    for s, n in corpus:
        syms = s.strip("|").split("||")
        if len(syms) < 2:
            continue
        for i in range(len(syms) - 1):
            k = (syms[i], syms[i + 1])
            cnt[k] = cnt.get(k, 0) + n
    if not cnt:
        return None
    (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    return a, b, c


def _train(
    documents: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """Shared training loop: returns (merge rows, the FINAL segmented
    corpus), so the apply-side consumers reuse the result instead of
    re-deriving the corpus (the corpus-touched-exactly-once claim).

    The corpus-scale work (word frequencies) is one distributed pass
    either way; the merge loop itself runs driver-side when the
    vocabulary fits BPE_DRIVER_FINISH_WORDS (Python str.replace is
    the same left-to-right non-overlapping scan as Spark's
    ``replace``, and integer counts are exact in both), falling back
    to the per-step distributed loop above the cap."""
    corpus = word_frequencies_for_bpe(documents, text_col).select(
        F.concat(
            F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|")
        ).alias("s"),
        "n",
    )
    spark = documents.sparkSession
    with collect_if_small(corpus, BPE_DRIVER_FINISH_WORDS, ["s"]) as (voc, cached):
        if voc is not None:
            rows: list[tuple] = []
            for step in range(1, n_merges + 1):
                top = _py_pair_argmax(voc)
                if top is None:
                    break
                a, b, cnt = top
                rows.append((step, a, b, a + b, int(cnt)))
                pat, rep = f"|{a}||{b}|", f"|{a}{b}|"
                voc = [(s.replace(pat, rep), n) for s, n in voc]
            return rows, local_frame(spark, voc, "s string, n bigint")
        # distributed fallback: cut the lineage once up front (the
        # first pair count materializes it from the cache) and then
        # per rewrite step
        corpus = truncate_lineage(cached, eager=False)
        rows = []
        for step in range(1, n_merges + 1):
            top = (
                _pair_counts(corpus)
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            rows.append((step, a, b, a + b, cnt))
            corpus = corpus.select(
                F.replace(
                    F.col("s"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
                ).alias("s"),
                "n",
            ).transform(truncate_lineage)
    return rows, corpus


def bpe_merges(
    documents: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Train `n_merges` BPE merges; returns the merge table
    (step, left, right, merged, pair_count) — inherently O(n_merges)
    rows, assembled on the driver like kmeans centroids. Stops early
    if the corpus runs out of pairs."""
    rows, _ = _train(documents, text_col, n_merges)
    return local_frame(documents.sparkSession, rows, MERGES_SCHEMA)


def bpe_merges_oracle_sql(n_merges: int = 6) -> str:
    """DuckDB twin: the same N merge steps unrolled as chained CTEs.
    c{i} = corpus after i merges; p{i}/b{i} = pair counts/argmax of
    step i (scalar subqueries feed the next rewrite).

    Every chained CTE is AS MATERIALIZED: each c{i} is referenced
    several times (the next pair count + three argmax scalar
    subqueries), so default CTE inlining re-evaluates the chain
    exponentially (~4^N expansions of c0 — an effective hang at N=6);
    materialization pins each step to one evaluation."""
    parts = [
        r"""
    WITH w AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
              FROM documents)
        WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY w
    ), c0 AS MATERIALIZED (
        SELECT '|' || array_to_string(
                 list_transform(range(1, length(w) + 1), i -> w[i]), '||')
               || '|' AS s, n
        FROM w
    )"""
    ]
    for i in range(1, n_merges + 1):
        prev = i - 1
        parts.append(
            f""", p{i} AS MATERIALIZED (
        SELECT a, b, SUM(n) AS cnt FROM (
            SELECT unnest(syms[1:len(syms)-1]) AS a,
                   unnest(syms[2:len(syms)]) AS b, n
            FROM (SELECT string_split(trim(s, '|'), '||') AS syms, n FROM c{prev})
            WHERE len(syms) >= 2)
        GROUP BY a, b
    ), b{i} AS MATERIALIZED (
        SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
    ), c{i} AS MATERIALIZED (
        SELECT replace(s,
                 '|' || (SELECT a FROM b{i}) || '||' || (SELECT b FROM b{i}) || '|',
                 '|' || (SELECT a FROM b{i}) || (SELECT b FROM b{i}) || '|') AS s, n
        FROM c{prev}
    )"""
        )
    selects = [
        # CAST: cnt comes from SUM(BIGINT) → DuckDB HUGEINT → pandas
        # float64, which hash-mismatches Spark's int64 in the driver's
        # value hash; the literal step is INT32 for the same reason.
        f"SELECT CAST({i} AS BIGINT) AS step, a AS \"left\", b AS \"right\","
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(selects) + "\n    ORDER BY step")
    return "".join(parts)


def bpe_segment_corpus(
    documents: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Apply-side of BPE: train `n_merges` merges, then return the
    segmented vocabulary — (word frequency, symbol array) after all
    merges. The tokenizer-inference half that completes bpe_merges'
    train half; downstream `explode` turns it into a (symbol, count)
    vocabulary table."""
    # the training loop's final corpus IS the segmented corpus (each
    # step applied its merge and localCheckpoint'ed), so reuse it —
    # re-deriving word frequencies + re-applying the merge chain would
    # triple the corpus-scale work
    _, corpus = _train(documents, text_col, n_merges)
    syms = F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|\|")
    return corpus.select(syms.alias("syms"), "n")


def bpe_segmentation_stats(
    documents: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """One-row corpus compression summary after BPE segmentation:
    distinct words, total word occurrences, total emitted symbols
    (the pre/post-merge token budget an LLM pipeline plans around),
    and distinct symbols (vocabulary size)."""
    # r11: no lineage cut here — the corpus `_train` hands back is
    # either a driver-built literal (re-evaluating it per consumer is
    # free) or the distributed loop's already-checkpointed final
    # rewrite; an extra EAGER checkpoint in the AQE parent session
    # costs a toRdd + materialization job for nothing
    seg = bpe_segment_corpus(documents, text_col, n_merges)
    stats = seg.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_words"),
        F.sum("n").alias("total_words"),
        F.sum(F.size("syms") * F.col("n")).alias("total_symbols"),
    )
    vocab = (
        seg.select(F.explode("syms").alias("sym"))
        .agg(F.countDistinct("sym").alias("vocab_size"))
    )
    return stats.crossJoin(F.broadcast(vocab))


def bpe_stats_oracle_sql(n_merges: int = 6) -> str:
    """DuckDB twin of bpe_segmentation_stats: the same merge chain
    (shared CTE builder) ending in corpus-level symbol statistics
    instead of the merge table."""
    chain = bpe_merges_oracle_sql(n_merges)
    # keep everything up to the final merge-table SELECT, swap the tail
    cut = chain.index("\n    SELECT CAST(1 AS BIGINT) AS step")
    return (
        chain[:cut]
        + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS distinct_words,
           CAST(SUM(n) AS BIGINT) AS total_words,
           CAST(SUM(len(string_split(trim(s, '|'), '||')) * n)
                AS BIGINT) AS total_symbols,
           (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
            FROM (SELECT unnest(string_split(trim(s, '|'), '||')) AS sym
                  FROM c{n_merges})) AS vocab_size
    FROM c{n_merges}
    """
    )
