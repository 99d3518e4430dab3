"""Fuzzy / near-duplicate detection over the `documents` table.

North-star operators (BASELINE.json): n-gram Jaccard, MinHash+LSH,
SimHash. All are pure DataFrame compositions — shingling with
higher-order array functions, hashing with xxhash64, banding with
integer arithmetic — no Python UDFs, no MLlib dependency, so every
stage is Catalyst-planned and shuffle-aware.

Scale design (the 100 TB story):
  * Exact-pairwise Jaccard is O(n²) and never runs globally; pair
    generation is always blocked — by shared shingle (rare for long
    shingles), by LSH band bucket, or by SimHash chunk. The shuffle
    key is the block key, so cost is Σ|block|², not n².
  * MinHash signatures are one groupBy over (doc × shingle) with 64
    min-aggregates — map-side partial min collapses before shuffle.
  * Verification joins carry only (doc_id, shingle-set size), never
    the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from monzo_data_pipeline_spark.ext.lineage import (
    collect_if_small,
    keyed_frame,
    truncate_lineage,
)
from pyspark.sql import functions as F

from ..operators.projection import quote_ident

N_MINHASH = 64  # signature length
LSH_BANDS = 16  # 16 bands x 4 rows: P(candidate) = 1-(1-s^4)^16


def word_shingles(docs: DataFrame, text_col: str = "text", n: int = 5, id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document.

    posexplode tokens → n-1 window leads → concat. The whole path is
    whole-stage codegen; a transform(sequence)+slice higher-order
    formulation generates the same rows but runs interpreted
    per-element (~7× slower measured). The window's doc_id shuffle is
    not wasted: every downstream consumer (signature agg, distinct)
    groups by doc_id, and hash-partitioning on doc_id already
    satisfies their clustering — no second shuffle.

    Short docs (< n tokens) yield one truncated shingle (concat_ws
    skips nulls), matching the oracle's `t[i:i+n-1]` slice semantics.
    """
    # single-file parquet arrives as ONE partition; fan out by id first so
    # shingling/windowing/aggregation use every core, and the hash
    # partitioning on id_col is inherited by every downstream per-doc
    # operation (window, groupBy, distinct) with no further shuffle
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, id_col)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok_rows = docs.select(
        F.col(id_col), F.size(toks).alias("__n_tok"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", k).over(w) for k in range(1, n)]
    last_lead = F.lead("tok", n - 1).over(w)
    return (
        tok_rows.select(
            F.col(id_col),
            F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
            last_lead.alias("__l"),
            "pos",
            "__n_tok",
        )
        .filter(F.col("__l").isNotNull() | ((F.col("pos") == 0) & (F.col("__n_tok") < n)))
        .select(id_col, "shingle")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard ≥ threshold).

    Blocked pair generation: docs only meet if they share a shingle —
    with 5-word shingles, unrelated docs almost never collide, so the
    shingle-equality join IS the blocking strategy. Intersection
    counts stay integers; the single double division at the end is
    exact and cross-engine deterministic.
    """
    # join on the 64-bit shingle hash, not the ~n-word string: same
    # blocking semantics (collision odds ~|shingles|²/2⁶⁵ ≈ 1e-9 here;
    # at any scale you'd join content hashes, not strings), but the
    # shuffle carries 8-byte keys and the join compares longs —
    # measured ~2× on the pair stage at sf0.1.
    sh = word_shingles(docs, n=n, id_col=id_col).select(
        id_col, F.xxhash64("shingle").alias("sh_h")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "sh_h")
    b = sh.select(F.col(id_col).alias("doc_b"), "sh_h")
    inter = (
        a.join(b, "sh_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    shingle_n: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    xxhash64(i, xxhash64(shingle)).

    The expensive variable-length string hash runs ONCE per shingle;
    each of the 64 family members then hashes a fixed 12-byte
    (int, long) pair — flat two-level expressions only. (Two rejected
    designs: hashing the string 64× costs ~6 s/5 k docs; a 64-deep
    chained-hash expression tree sends Catalyst analysis into the
    weeds; affine multiply-mod-2⁶⁴ trips Spark 4's ANSI overflow
    checks.) One groupBy with 64 partial-min accumulators — map-side
    combine collapses shingle rows before the shuffle.
    """
    sh = word_shingles(docs, n=shingle_n, id_col=id_col).withColumn(
        "__h", F.xxhash64("shingle")
    )
    # SQL-string expressions: one py4j round-trip per accumulator
    # instead of four Column-API calls (the simhash r10 build-time fix)
    mins = [
        F.expr(f"MIN(xxhash64({i}, __h))").alias(f"h{i}")
        for i in range(n_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    sig = "array(" + ", ".join(f"h{i}" for i in range(n_hashes)) + ")"
    return agg.select(id_col, F.expr(sig).alias("signature"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band the signatures and emit candidate pairs from shared buckets.

    band key = (band index, xxhash64 of the band's rows): docs agreeing
    on all rows of any band collide. The self-join shuffles on the
    band key — Σ|bucket|², never n².
    """
    banded = band_index(signatures, bands=bands, id_col=id_col)
    left = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _poly_hash62(col) -> "F.Column":
    """Engine-agnostic 62-bit string hash: two independent 31-bit
    polynomial folds (bases 131/137, mod 2³¹−1 — the pseudonymization
    family) concatenated as f131·2³¹ + f137. Every step is integer
    arithmetic both Spark and DuckDB reproduce exactly, so operators
    built on it are oracle-checkable. ASCII inputs (ascii() semantics
    agree there; this corpus is ASCII by construction)."""

    def fold(base: int):
        codes = F.transform(F.split(col, ""), lambda ch: F.ascii(ch).cast("long"))
        return F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * base + x) % 2147483647,
        )

    return fold(131) * F.lit(2147483648) + fold(137)


_P31 = 2147483647  # the fold modulus (2³¹−1, prime)
_PACK = 2147483648  # 2³¹ — the (fold, Bᴸᵉⁿ) pack multiplier


def _packed_fold_sql(base: int) -> str:
    """One-pass packed (fold, baseᴸᵉⁿ) state over a token's chars:
    state = fold·2³¹ + pow, init (0, 1) → 1L. Both halves stay
    < 2³¹−1 and every intermediate < 2⁶², so the expression is
    ANSI-safe; SQL-string spelling keeps plan-build to one py4j
    round-trip (the r10 simhash lesson)."""
    return (
        f"aggregate(split(tok, ''), 1L, (a, c) -> "
        f"((a DIV {_PACK}L) * {base} + ascii(c)) % {_P31} * {_PACK}L"
        f" + (a % {_PACK}L) * {base} % {_P31})"
    )


def word_shingles_poly62(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 5,
    id_col: str = "doc_id",
    with_shingle: bool = True,
) -> DataFrame:
    """word_shingles fused with `_poly_hash62` of each shingle —
    (id_col, shingle, __h), distinct per (id, shingle), __h
    bit-identical to ``_poly_hash62(F.col("shingle"))`` (pinned by
    tests/test_neardup_oracle_parity.py).

    r11 (guide §1.2 per-task work): the char-level polynomial fold
    over every n-word shingle string re-hashed each word ~n times
    (~27 M interpreted lambda steps at sf0.1). Instead each TOKEN is
    folded once into packed (fold, Bᴸᵉⁿ) state, and the shingle hash
    composes the lead tokens' states with 4 multiply-mods per base:
    fold(a∘b) = fold(a)·Bˡᵉⁿ⁽ᵇ⁾ + fold(b) (mod 2³¹−1), with the
    ``" "`` separator folded in as ``(f·B + 32) % p``. Window, keep
    filter and concat_ws spelling are exactly word_shingles', so the
    distinct-(id, shingle) semantics are unchanged.

    Edge cases, matching the char-level spelling exactly: a truncated
    short-doc shingle composes only the non-NULL leads (concat_ws
    skips NULLs); an empty token ([''] from split) folds to 0 and can
    only be a single-token doc's whole shingle, where its (never
    used) pow half is irrelevant."""
    # selectExpr batches throughout: the whole builder is 4 py4j
    # round-trips (plan-build is a real per-call cost in the bench —
    # the r10 simhash lesson; Column-API spelling measured ~0.5 s of
    # socket round-trips per build)
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, id_col
    )
    toks = r"split(trim(lower(`" + text_col + r"`)), '\\s+')"
    tok_rows = docs.selectExpr(
        f"`{id_col}`",
        f"size({toks}) AS __n_tok",
        f"posexplode({toks}) AS (pos, tok)",
    ).selectExpr(
        f"`{id_col}`",
        "pos",
        "__n_tok",
        "tok",
        f"{_packed_fold_sql(131)} AS __s1",
        f"{_packed_fold_sql(137)} AS __s2",
    )
    w = f"OVER (PARTITION BY `{id_col}` ORDER BY pos)"
    lead_exprs = []
    for k in range(1, n):
        lead_exprs += [
            f"lead(tok, {k}) {w} AS __t{k}",
            f"lead(__s1, {k}) {w} AS __a{k}",
            f"lead(__s2, {k}) {w} AS __b{k}",
        ]
    rows = tok_rows.selectExpr(
        f"`{id_col}`", "pos", "__n_tok", "tok", "__s1", "__s2", *lead_exprs
    ).filter(f"__t{n - 1} IS NOT NULL OR (pos = 0 AND __n_tok < {n})")

    # compose per base as ONE nested-CASE expression: the prefix
    # subtree doubles per level but stays tiny (n−1 = 4 levels)
    def comp(base: int, st0: str, lead: str) -> str:
        f = f"({st0} DIV {_PACK}L)"
        for k in range(1, n):
            f = (
                f"CASE WHEN __t{k} IS NULL THEN {f} ELSE "
                f"(({f} * {base} + 32) % {_P31} * ({lead}{k} % {_PACK}L)"
                f" + ({lead}{k} DIV {_PACK}L)) % {_P31} END"
            )
        return f

    h_sql = (
        f"({comp(131, '__s1', '__a')}) * {_PACK}L"
        f" + ({comp(137, '__s2', '__b')}) AS __h"
    )
    if not with_shingle:
        # distinct on (id, hash) — exactly the oracle's
        # `SELECT DISTINCT doc_id, h62` grain; the n-word string is
        # never assembled or shuffled (≈4× fewer distinct-exchange
        # bytes). Identical to distinct-on-string absent a 2⁻⁶²-scale
        # in-doc hash collision — the tolerance the signature/set
        # stages already accept, and the cross-engine hash gate
        # would catch.
        return rows.selectExpr(f"`{id_col}`", h_sql).distinct()
    shingle = (
        "concat_ws(' ', tok, "
        + ", ".join(f"__t{k}" for k in range(1, n))
        + ")"
    )
    return rows.selectExpr(
        f"`{id_col}`",
        f"{shingle} AS shingle",
        h_sql,
    ).distinct()


def _lcg_constants(n: int = 64) -> tuple[list[int], list[int]]:
    """Fixed pseudorandom multipliers/offsets for the engine-agnostic
    affine hash family g_j(h) = (A_j·h + B_j) mod 2³¹−1: a
    deterministic LCG walk, hardcoded identically into the DuckDB
    oracles. LARGE 'random' multipliers matter — small structured ones
    (2j+1) make the hyperplane bits correlated across j and collapse
    SimHash's discrimination (measured: 126× more Hamming-≤6 pairs)."""
    a, out_a, out_b = 88172645463325252 % 2147483647, [], []
    for _ in range(n):
        a = (1103515245 * a + 12345) % 2147483647
        # map into [1, M-1]: a multiplier ≡ 0 (mod M) would be a dead
        # slot / constant hyperplane ('a | 1' could yield M itself)
        out_a.append(a % 2147483646 + 1)
        a = (1103515245 * a + 12345) % 2147483647
        out_b.append(a)
    return out_a, out_b


_AFFINE_A, _AFFINE_B = _lcg_constants(64)


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 5,
    id_col: str = "doc_id",
    max_shingles_per_doc: int | None = None,
    hash_family: str = "xxhash",
) -> DataFrame:
    """MinHash+LSH near-dedup: LSH candidates verified with exact
    Jaccard — in ONE shuffle over the shingle rows.

    A single groupBy produces, per doc, both the 64-slot signature
    (partial-min accumulators) AND the distinct shingle set
    (collect_set, which dedups — so no separate distinct shuffle).
    Banding reads the signature; verification joins each candidate
    pair back to two shingle sets and intersects them IN-ROW
    (array_intersect) — exact Jaccard with zero additional shuffles.

    100 TB shape: signatures+banding prune the pair space to
    near-linear; full shingle sets travel only for candidate docs
    (a vanishing fraction), everything else moves 64 longs per doc.

    ``max_shingles_per_doc`` guards the one unbounded state in the
    plan: a pathological document (machine-generated, concatenated
    crawl) can carry millions of distinct shingles, and its collected
    set must fit in one aggregation buffer. When set, each doc keeps
    only its k smallest-by-hash shingles (a bottom-k sketch —
    deterministic, consistent across docs, so shared shingles survive
    in both sets and |A_k∩B_k|/|A_k∪B_k| estimates true Jaccard).
    Signatures still see every shingle (min is cap-free). Default None
    = exact verification, used by the oracle-checked registry entry.

    ``hash_family``: "xxhash" (default — Spark's native 64-bit hash,
    fastest) or "poly" — the engine-agnostic 62-bit polynomial fold
    plus affine per-slot hashes ((Aᵢ·h + Bᵢ) mod 2³¹−1, fixed
    pseudorandom 31-bit constants — see _lcg_constants), every
    step reproducible in ANSI SQL, which puts the WHOLE minhash→band→
    verify pipeline under the DuckDB oracle gate (the registry's
    `minhash_lsh_near_dup`). Identical plan shape either way.
    """
    if hash_family not in ("xxhash", "poly"):
        raise ValueError(f"hash_family must be 'xxhash' or 'poly', got {hash_family!r}")
    if hash_family == "xxhash":
        exploded = word_shingles(docs, n=shingle_n, id_col=id_col).withColumn(
            "__h", F.xxhash64("shingle")
        )
    else:
        # r11: fused builder — per-token packed folds composed per
        # shingle instead of re-folding every shingle string char by
        # char; __h bit-identical to _poly_hash62("shingle"). The
        # shingle string itself is only materialized when the
        # bottom-k cap needs it as an ordering tiebreak.
        exploded = word_shingles_poly62(
            docs,
            n=shingle_n,
            id_col=id_col,
            with_shingle=max_shingles_per_doc is not None,
        )
    # the verification sets hold the 64-bit shingle hashes, not the
    # n-word strings: same intersect counts absent a 2⁻⁶⁵-scale
    # collision, ~5× smaller aggregation buffers and long-vs-long
    # array_intersect (cf. the hashed join keys in ngram_jaccard_pairs)
    sh_for_set = F.col("__h")
    if max_shingles_per_doc is not None:
        # word_shingles already hash-partitioned by id_col, so this
        # window sorts within partitions without a new exchange
        wk = Window.partitionBy(id_col).orderBy("__h", "shingle")
        exploded = exploded.withColumn("__rk", F.row_number().over(wk))
        # collect_set drops nulls → rows past the cap never enter the buffer
        sh_for_set = F.when(F.col("__rk") <= max_shingles_per_doc, F.col("__h"))
    # ONE SQL-string aggregate expression for all 64 slots (r11: a
    # single py4j round-trip + parse; even one F.expr per slot
    # measured ~0.4 s of socket round-trips per plan build); the
    # poly family's pmod lands in a real column so the 64 slot
    # expressions share it instead of re-deriving it per slot.
    if hash_family == "xxhash":
        sig_sql = "array(" + ", ".join(
            f"MIN(xxhash64({i}, __h))" for i in range(N_MINHASH)
        ) + ")"
    else:
        exploded = exploded.withColumn(
            "__hm", F.pmod(F.col("__h"), F.lit(2147483647))
        )
        sig_sql = "array(" + ", ".join(
            f"MIN(({_AFFINE_A[i]} * __hm + {_AFFINE_B[i]}) % 2147483647)"
            for i in range(N_MINHASH)
        ) + ")"
    per_doc = exploded.groupBy(id_col).agg(
        F.expr(sig_sql).alias("signature"),
        F.collect_set(sh_for_set).alias("sh_set"),
    )
    # per_doc is consumed three times (banding + both verification join
    # sides); persist so the shingle scan + 64-min agg run once, not 3×
    per_doc = per_doc.persist()
    cands = lsh_candidate_pairs(per_doc.select(id_col, "signature"), id_col=id_col)
    a = per_doc.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("sa"))
    b = per_doc.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("sb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("sa") + F.size("sb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def band_index(
    signatures: DataFrame,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
) -> DataFrame:
    """The LSH band table AS A STORED INDEX: (band, bucket, doc_id).

    Persisting this (parquet, partitioned/bucketed by band+bucket)
    turns near-dup detection incremental: signatures are per-doc
    (embarrassingly parallel) and the index is append-only mergeable
    state — a new batch is indexed alone and unioned in, never
    re-shingling the corpus. The companion query path is
    `incremental_candidate_pairs`.
    """
    n = N_MINHASH
    rows = n // bands
    # one SQL-string expression (one py4j round-trip + one parse)
    # instead of the nested Column-API lambda tree — identical
    # operators after parsing (r11; the r10 simhash plan-build fix)
    bb = (
        f"explode(transform(sequence(0, {bands - 1}), b -> struct("
        f"b AS band, xxhash64(concat_ws(',', transform("
        f"slice(signature, b * {rows} + 1, {rows}), "
        f"v -> cast(v AS string)))) AS bucket)))"
    )
    return signatures.select(
        F.col(id_col), F.expr(bb).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def incremental_candidate_pairs(
    new_docs: DataFrame,
    stored_index: DataFrame,
    shingle_n: int = 5,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs contributed by a NEW batch against an existing
    band index, plus the new batch's own index rows to append.

    Returns (pairs, new_index_rows). Pairs cover new×stored and
    new×new — together with the pairs already known for the stored
    corpus that is exactly the full recompute's candidate set
    (verified in tests/test_clean_corpus.py), because a pair's bucket
    collision doesn't depend on which batch each doc arrived in.

    100 TB shape: per batch the work is O(batch shingles) signature
    hashing + one join keyed on (band, bucket) against the stored
    index — the corpus-sized side is never re-shingled, and with the
    index bucketed on the join key that join is shuffle-free on the
    stored side.
    """
    sigs = minhash_signatures(new_docs, shingle_n=shingle_n, id_col=id_col)
    new_idx = band_index(sigs, id_col=id_col)
    a = new_idx.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    # candidate universe for the new batch: stored index ∪ its own rows
    universe = stored_index.unionByName(new_idx)
    b = universe.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    return pairs, new_idx


# Bounded-state cap for the CC driver finisher
# (ext/lineage.py::collect_if_small): a pair set under this many rows
# is collected once and labeled with exact union-find; exact connected
# components are unique (label = the component's minimum id, and
# Python's code-point string order equals Spark's UTF-8 binary order),
# so the result is identical to the converged distributed propagation
# and to the oracle. Larger pair sets keep the distributed loops.
CC_DRIVER_FINISH_PAIRS = 131_072


def _cc_driver_labels(pairs_rows: list) -> dict:
    """{node: min id of its component} by union-find over collected
    (u, v) rows — the driver finisher shared by `near_dup_clusters`
    and `connected_components_star`."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs_rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp: dict = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _cc_driver_frame(raw: DataFrame, prows: list) -> DataFrame:
    """(doc_id, cluster_id) from collected (u, v) pairs, in the id
    column's type."""
    t = raw.schema["u"].dataType
    return keyed_frame(
        raw.sparkSession,
        sorted(_cc_driver_labels(prows).items()),
        "doc_id",
        t,
        "cluster_id",
        t,
    )


def near_dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc in
    a cluster gets the cluster's MINIMUM doc id as its canonical
    representative (the survivor under first-wins dedup).

    Iterative min-label propagation to a fixpoint — the engine's
    iterative-algorithm pattern: a driver loop over DataFrame steps,
    converging when an aggregate (the label sum) stops changing.
    Near-dup graphs are overwhelmingly tiny chains/cliques, so
    convergence takes O(cluster diameter) rounds (≤ a handful); at
    100 TB-scale graphs the large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce") replaces
    the plain propagation — same loop skeleton.

    Returns (doc_id, cluster_id) for every doc appearing in `pairs`;
    a pair with a NULL id is dropped.
    """
    with collect_if_small(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
        CC_DRIVER_FINISH_PAIRS,
        ["u", "v"],
    ) as (prows, raw):
        if prows is not None:
            return _cc_driver_frame(raw, prows)
        edges = (
            raw.unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            # edges sits under EVERY iteration's join: materialize it
            # once (reliable checkpoint when the session has a
            # checkpoint dir — ext/lineage.py)
            .transform(truncate_lineage)
        )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = None
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.u, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jump (path halving): also adopt the label OF one's
        # label — labels are node ids, so a self-join resolves one more
        # hop, turning O(diameter) convergence into O(log diameter).
        # Chains longer than a couple of hops are where plain
        # propagation pays a full round per hop.
        hop = stepped.select(
            F.col("node").alias("__jn"), F.col("label").alias("__jl")
        )
        labels = (
            stepped.join(hop, stepped.label == F.col("__jn"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("__jl"), F.col("label"))
                ).alias("label"),
            )
            # checkpoint, not persist: persist caches DATA but the
            # logical plan still deepens every iteration — analysis/
            # optimization time grows superlinearly and eventually
            # dominates (driver-side, not executor-side). Checkpointing
            # truncates the lineage so iteration i plans against a leaf,
            # the standard posture for iterative graph algorithms.
            # Lazy: the convergence agg below is the action that
            # materializes it — one job per round, not two.
            .transform(lambda d: truncate_lineage(d, eager=False))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the 100 TB-scale variant `near_dup_clusters`'s
    docstring promises: plain min-label propagation pays one round
    per hop of the largest cluster's diameter, while star operations
    contract long chains in O(log²) rounds with per-round work
    proportional to the CURRENT edge set (which shrinks as stars
    form), never to the transitive closure.

      * large-star(u): with Γ(u) the full neighborhood and
        m = min(Γ(u) ∪ {u}), re-point every LARGER neighbor at m —
        edges (v, m) for v ∈ Γ(u), v > u;
      * small-star(u): orient edges toward their larger endpoint;
        with Γ≤(u) the smaller-or-equal neighbors and
        m = min(Γ≤(u) ∪ {u}), emit (v, m) for
        v ∈ Γ≤(u) ∪ {u} \\ {m}.

    Both steps are one groupBy + one join on the edge set — no
    windows, no collect beyond the O(1) convergence scalar. Lineage
    is cut per round via `truncate_lineage` (reliable checkpoint when
    the session has a checkpoint dir). Convergence = the EDGE SET
    goes stationary, detected by an O(1) scalar over the round's
    already-materialized checkpoint: (count, Σu, Σv, Σxxhash64(u,v)).
    Kiveris et al. prove the alternation reaches a fixed point where
    both star operations leave the edge set unchanged; a stationary
    content signature IS that fixpoint, and checking it costs one
    cache-read agg instead of the full label build (sym + groupBy +
    node join) the r5 variant paid every round. Unlike k_core (whose
    edge set only shrinks, so the exact count alone detects change),
    star edge sets are not monotone — the signature is PROBABILISTIC:
    two consecutive distinct edge sets colliding on all four scalars
    requires equal count, equal endpoint sums AND an xxhash64-sum
    collision (~2⁻⁶⁴ per round). The exact count and sums ride in the
    tuple as deterministic anchors; a collision would stop one round
    early with non-fixpoint labels, accepted at that probability.

    Returns (doc_id, cluster_id) — identical output contract (and
    registry oracle) as `near_dup_clusters`: every node labeled with
    its component's minimum id."""
    with collect_if_small(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
        CC_DRIVER_FINISH_PAIRS,
        ["u", "v"],
    ) as (prows, raw):
        if prows is not None:
            return _cc_driver_frame(raw, prows)
        edges = (
            raw.filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(truncate_lineage)
        )
        # nodes from the RAW pairs: a degenerate self-loop-only node
        # must still appear in the output (as its own cluster), exactly
        # as the pointer-jumping variant labels it
        nodes = (
            raw.select(F.col("u").alias("node"))
            .unionByName(raw.select(F.col("v").alias("node")))
            .distinct()
            .transform(truncate_lineage)
        )

    def _labels(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nbr = sym.groupBy("u").agg(F.min("v").alias("mn"))
        return nodes.join(
            nbr, nodes.node == nbr.u, "left"
        ).select(
            "node",
            F.least(
                F.col("node"), F.coalesce(F.col("mn"), F.col("node"))
            ).alias("label"),
        )

    prev_sig = None
    for _ in range(max_iterations):
        # LARGE-STAR: symmetric neighborhoods; larger neighbors
        # re-pointed at the neighborhood minimum. Duplicate (v, m)
        # emissions are NOT deduped here — the small-star groupBy/min
        # is dup-insensitive and the round-end distinct catches the
        # rest, saving one full shuffle per round
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # SMALL-STAR: orient toward the larger endpoint; smaller
        # neighbors (and the center) re-pointed at the minimum
        oriented = large.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        smins = (
            oriented.groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        j = oriented.join(smins, "u")
        e1 = j.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        e2 = smins.select(F.col("u"), F.col("m").alias("v")).filter(
            F.col("u") != F.col("v")
        )
        # lazy truncation: the convergence agg below is the action
        # that materializes the checkpoint — one job per round, not
        # two (materialize + separate label-build agg)
        edges = (
            e1.unionByName(e2)
            .distinct()
            .transform(lambda d: truncate_lineage(d, eager=False))
        )
        # stationarity of the edge-set content signature, read from
        # the checkpoint blocks the same job just wrote
        row = edges.agg(
            F.count(F.lit(1)),
            F.sum("u").cast("decimal(38,0)"),
            F.sum("v").cast("decimal(38,0)"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).collect()[0]
        cur_sig = tuple(row)
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    return _labels(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    min_overlap: int = 3,
    n: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination detection: training documents sharing
    ≥ `min_overlap` distinct word n-gram shingles with any benchmark/
    eval document (the decontamination step every training corpus
    needs before a benchmark claim).

    Same blocked-join shape as `ngram_jaccard_pairs`, but asymmetric:
    the benchmark side is tiny (eval suites are thousands of docs, the
    corpus is billions), so its shingle table broadcasts and the train
    side streams through map-side — no corpus-sized shuffle at all.
    Returns (train_doc, bench_doc, n_overlap).
    """
    # hashed join keys for the same reason as ngram_jaccard_pairs: the
    # broadcast map holds 8-byte longs and every corpus-side probe
    # hashes a long instead of an n-word string
    sh_t = word_shingles(train, n=n, id_col=id_col).select(
        F.col(id_col).alias("train_doc"), F.xxhash64("shingle").alias("sh_h")
    )
    sh_b = word_shingles(benchmark, n=n, id_col=id_col).select(
        F.col(id_col).alias("bench_doc"), F.xxhash64("shingle").alias("sh_h")
    )
    return (
        sh_t.join(F.broadcast(sh_b), "sh_h")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash",
) -> DataFrame:
    """64-bit SimHash per document from token hashes.

    bit j of the fingerprint = sign of Σ_tokens (±1 per token on
    hyperplane j). hash_family="xxhash" (default): the ±1 is bit j of
    xxhash64(token). hash_family="poly": the ±1 is the threshold test
    ((Aⱼ·h + Bⱼ) mod 2³¹−1) > ⌊(2³¹−2)/2⌋ over the engine-agnostic
    polynomial fold, Aⱼ/Bⱼ fixed pseudorandom 31-bit constants
    (_lcg_constants) — 64 independent affine hyperplanes whose every
    step an ANSI-SQL oracle reproduces, which puts the whole
    fingerprint→chunk-block→Hamming pipeline under the DuckDB gate.

    Implementation: explode → one hash aggregate over the token rows,
    in whole-stage codegen (higher-order array folds run interpreted
    per element; an earlier version cost 40 s/5k docs). The aggregate
    holds 32 two-lane sums and ``COUNT(*) AS n``, not 64 ±1 sums:
    accumulator ``s_j`` counts the tokens with bit j set in its low 32
    bits and those with bit j+32 set in its high 32 bits (for xxhash,
    ``SUM(shiftrightunsigned(h, j) & (2³² + 1))``; for poly, the two
    hyperplane tests packed the same way). Bit j is set when
    2·lane > n, which is Σ±1 > 0 — the fingerprint is bit-identical to
    the 64-sum form. A Spark string is under 2 GB, so a document has
    fewer than 2³¹ tokens and a lane never carries into the next. The
    sums and the 64-term pack are one SQL statement, parsed once on
    the JVM side: built as Column chains they cost ~1.4 s per plan
    build.
    """
    if hash_family not in ("xxhash", "poly"):
        raise ValueError(f"hash_family must be 'xxhash' or 'poly', got {hash_family!r}")
    # fan out the single-file scan before the explode (see word_shingles)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, id_col)
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    )
    if hash_family == "xxhash":
        toks = toks.withColumn("h", F.xxhash64("tok"))

        def lanes(j: int) -> str:
            return f"shiftrightunsigned(h, {j}) & 4294967297"

    else:
        toks = toks.withColumn(
            "h", F.pmod(_poly_hash62(F.col("tok")), F.lit(2147483647))
        )

        def test(j: int) -> str:
            return f"({_AFFINE_A[j]} * h + {_AFFINE_B[j]}) % 2147483647 > 1073741823"

        def lanes(j: int) -> str:
            return f"IF({test(j)}, 1, 0) + IF({test(j + 32)}, 4294967296, 0)"

    sums = ", ".join(f"SUM({lanes(j)}) AS s{j}" for j in range(32))
    # bit j from the low lane, bit j+32 from the high one; shiftleft of
    # 1 by 63 is the sign bit, and the terms are disjoint, so OR packs
    packed = " | ".join(
        f"shiftleft(CAST(2 * (s{j} & 4294967295) > n AS BIGINT), {j}) | "
        f"shiftleft(CAST(2 * shiftright(s{j}, 32) > n AS BIGINT), {j + 32})"
        for j in range(32)
    )
    key = quote_ident(id_col)
    return docs.sparkSession.sql(
        f"SELECT {key}, {packed} AS simhash FROM "
        f"(SELECT {key}, {sums}, COUNT(*) AS n FROM {{toks}} GROUP BY {key})",
        toks=toks,
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    hash_family: str = "xxhash",
) -> DataFrame:
    """SimHash near-dup: every pair with Hamming distance ≤ max_hamming,
    each once, as (doc_a, doc_b, hamming) with doc_a < doc_b.

    Blocking (Manku, Jain & Das Sarma, WWW 2007): split the 64-bit
    fingerprint into k = max_hamming + 1 chunks of 64//k or 64//k + 1
    bits. A pair differing in at most k − 1 bits leaves at least one
    chunk equal (pigeonhole), so joining on (chunk index, chunk value)
    finds every such pair. A pair that shares several chunks meets in
    several blocks; it is kept only in the block of the first chunk at
    which sim_a ^ sim_b is zero, so it comes out exactly once and no
    `distinct` is needed. bit_count(xor) then verifies the distance.
    With more than 64 chunks some would be empty, and the pigeonhole
    argument fails: max_hamming must lie in [0, 63].

    The chunk rows are hash-partitioned by (index, value) before the
    self-join, so both join sides read one exchange and the
    fingerprint aggregate under it runs once; at scale this is the
    same shuffle a sort-merge join on the block key would do.
    `hash_family` as in `simhash` ("poly" → oracle-checkable).
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    k = max_hamming + 1
    w, wide = divmod(64, k)  # the first `wide` chunks are one bit wider
    bounds = [i * w + min(i, wide) for i in range(k + 1)]

    def chunk(x: str, i: int) -> str:
        width = bounds[i + 1] - bounds[i]
        mask = -1 if width == 64 else (1 << width) - 1
        return f"shiftrightunsigned({x}, {bounds[i]}) & {mask}L"

    chunk_rows = ", ".join(
        f"named_struct('i', {i}, 'v', {chunk('simhash', i)})" for i in range(k)
    )
    first_zero = " ".join(f"WHEN {chunk('x', i)} = 0 THEN {i}" for i in range(k))
    sh = simhash(docs, id_col=id_col, hash_family=hash_family)
    chunks = sh.selectExpr(
        f"{quote_ident(id_col)} AS doc", "simhash", f"inline(array({chunk_rows}))"
    ).repartition("i", "v")
    return docs.sparkSession.sql(
        "SELECT doc_a, doc_b, bit_count(x) AS hamming FROM ("
        " SELECT a.doc AS doc_a, b.doc AS doc_b, a.i,"
        " a.simhash ^ b.simhash AS x"
        " FROM {chunks} a JOIN {chunks} b ON a.i = b.i AND a.v = b.v"
        " WHERE a.doc < b.doc)"
        f" WHERE bit_count(x) <= {max_hamming} AND CASE {first_zero} END = i",
        chunks=chunks,
    )


def clean_corpus(
    docs: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end training-data dedup: exact first, then fuzzy.

    1. exact pass — group identical normalized text by content hash,
       keep the min-id copy (cheap, removes the bulk: byte-identical
       crawls/re-uploads);
    2. fuzzy pass — MinHash+LSH candidate pairs over the survivors,
       connected components, keep each cluster's min-id representative.

    Returns the surviving rows of ``docs`` (all columns). Exact-first
    ordering matters at scale: byte-duplicates are the majority of
    removals and cost one hash groupBy, so the expensive shingle/LSH
    machinery runs on the smaller exact-deduped set. Idempotent:
    running it on its own output removes nothing
    (tests/test_clean_corpus.py).
    """
    from pyspark.sql import Window

    # 1 — exact: min id per normalized-content hash
    w = Window.partitionBy(F.xxhash64(F.lower(F.trim(F.col(text_col))))).orderBy(
        F.col(id_col).asc()
    )
    exact_survivors = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # 2 — fuzzy: LSH pairs → connected components → min-id survivor
    pairs = minhash_near_dup_pairs(
        exact_survivors, threshold=threshold, shingle_n=shingle_n, id_col=id_col
    )
    clusters = near_dup_clusters(pairs)  # (doc_id, cluster_id); clustered docs only
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return exact_survivors.join(losers, id_col, "left_anti")


def prepare_training_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    source_rates: dict[str, int] | None = None,
    threshold: float = 0.6,
    shingle_n: int = 5,
    min_overlap: int = 3,
    pack_capacity: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The end-to-end training-data preparation pipeline, composed from
    the engine's tested pieces in the order that minimizes work at
    scale:

      1. PII scrub (`functions/text.scrub_pii`) — map-side, free;
      2. source-mixture reweighting (`operators/filters.
         source_mixture_sample`) — a pushdown-eligible filter, so it
         runs BEFORE the expensive stages and shrinks everything after;
      3. exact → fuzzy dedup (`clean_corpus`: hash groupBy, then
         MinHash+LSH → connected components → min-id survivors);
      4. benchmark decontamination (`contamination_check`) — drop
         training docs overlapping the eval set;
      5. sequence packing (`functions/text.pack_sequences`) — bin the
         survivors to a token budget for shard writing.

    Returns (clean_docs, packed_bins). Each stage is individually
    oracle-checked / unit-tested; this composition is smoke-tested for
    idempotence of the doc-set (tests/test_clean_corpus.py).
    """
    from ..functions.text import pack_sequences, scrub_pii
    from ..operators.filters import source_mixture_sample

    work = docs.withColumn(text_col, scrub_pii(F.col(text_col)))
    if source_rates:
        work = source_mixture_sample(work, source_rates, id_col=id_col)
    work = clean_corpus(
        work, threshold=threshold, shingle_n=shingle_n, id_col=id_col, text_col=text_col
    )
    if benchmark is not None:
        contaminated = contamination_check(
            work, benchmark, min_overlap=min_overlap, n=shingle_n, id_col=id_col
        ).select(F.col("train_doc").alias(id_col)).distinct()
        work = work.join(contaminated, id_col, "left_anti")
    packed = pack_sequences(
        work, capacity=pack_capacity, text_col=text_col, id_col=id_col
    )
    return work, packed


def edit_distance_pairs(
    names: DataFrame,
    name_col: str,
    max_dist: int = 3,
    q: int = 3,
) -> DataFrame:
    """All pairs of distinct `name_col` values within levenshtein
    `max_dist`, WITHOUT an all-pairs join — Ed-Join-style q-gram
    prefix filtering (Xiao et al., VLDB'08), a pure DataFrame
    composition.

    Reference analog: the merchant/counterparty name dedup implied by
    /root/reference/src/sql/transform_bronze_to_silver.sql:10-35 —
    generalized to a bounded-edit-distance self-join.

    Why this is complete (no lost pairs):
      * One edit operation destroys at most q of a string's q-grams,
        so edit_dist(a,b) ≤ k ⇒ a and b share ≥ max(|Ga|,|Gb|) − k·q
        grams (multiset), where |G| = len − q + 1.
      * Prefix filter: sort each string's grams by one GLOBAL order
        (ascending document frequency, ties by gram then position);
        if the overlap bound t is met, the first |G| − t + 1 grams of
        each side must intersect.  |G| − t + 1 ≤ k·q + 1 always, so a
        fixed prefix of k·q + 1 grams per side is sufficient.
      * Short strings (len < q + k·q) have t ≤ 0 — the gram bound
        prunes nothing, and two short strings can be within k edits
        while sharing NO gram.  They (and their possible partners,
        len ≤ (q + k·q − 1) + k) are additionally routed to one
        '#SHORT' block.  That block is alphabet-bounded tiny at any
        corpus size; every ≤ max_dist pair provably meets in some
        block.

    Scale shape (100 TB): cost is Σ|block|² over rare-gram blocks —
    the same bounded-block contract as the MinHash/LSH family above.
    Distinct-first, equi-join only (plan contract: no
    BroadcastNestedLoopJoin), gram document frequencies computed with
    one vocabulary-sized aggregate, the residual levenshtein runs only
    on surviving candidates.
    """
    k = max_dist
    pref_len = k * q + 1
    short_len = (q - 1) + k * q  # below this, the gram bound is vacuous

    base = (
        names.select(F.col(name_col).alias("__name")).distinct()
        .withColumn("__len", F.length("__name"))
    )
    base = base.repartition(
        names.sparkSession.sparkContext.defaultParallelism, "__name"
    )

    # positional q-grams (multiset — position keeps repeats distinct)
    grams = base.filter(F.col("__len") >= q).select(
        "__name",
        "__len",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__len") - (q - 1)),
                lambda i: F.substring(F.col("__name"), i, F.lit(q)),
            )
        ).alias("__pos", "__gram"),
    )

    # global rarity order: ascending doc-frequency, ties broken by the
    # gram value then position — one vocabulary-sized aggregate, then a
    # per-name window (partitioned by name: no skew) to take the prefix
    df_freq = grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__name").orderBy("__df", "__gram", "__pos")
    prefix = (
        grams.join(df_freq, "__gram")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= pref_len)
        .select("__name", "__len", F.col("__gram").alias("__block"))
    )

    # short-string safety block: any pair involving len < short_len can
    # only have a partner of len ≤ short_len - 1 + k
    shorts = base.filter(F.col("__len") <= short_len - 1 + k).select(
        "__name", "__len", F.lit("#SHORT").alias("__block")
    )
    keyed = prefix.unionByName(shorts)

    a = keyed.select(
        F.col("__name").alias("name_a"),
        F.col("__len").alias("__len_a"),
        "__block",
    )
    b = keyed.select(
        F.col("__name").alias("name_b"),
        F.col("__len").alias("__len_b"),
        "__block",
    )
    cand = (
        a.join(b, "__block")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (F.abs(F.col("__len_a") - F.col("__len_b")) <= k)
        )
        .select("name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= k)
    )
