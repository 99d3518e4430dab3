"""Window-function operators — SURVEY.md §2 row C9 (+ the rank-window
form of A17/A24).

Scale note: a window partitioned by a key shuffles once on that key
and sorts within partitions — state is bounded per key. A window with
a GLOBAL order (no partitionBy) serializes onto one task and is
forbidden in this engine's hot paths; running totals are always per
entity (customer, month), never whole-table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.deterministic import MONEY_DECIMAL


def top_n_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    n: int,
    descending: bool = True,
    salt_buckets: int | None = None,
) -> DataFrame:
    """C9 — deterministic top-n per group via row_number (callers put a
    unique tiebreak last in order_cols).

    ``salt_buckets`` (r10, guide §2.5 few-fat-groups skew): when the
    group count is far below the cluster width (e.g. 3 return flags),
    the single window sorts each group's whole span on one task. With
    a bucket count set, a FIRST window over (group, salt) — salt a
    deterministic hash of the order columns — keeps each bucket's
    top-n (a superset of the true top-n: dropping a row needs n
    better rows in its OWN bucket, which are n better rows in the
    group), then the exact window runs over ≤ n·salt_buckets rows
    per group. Same ordering both phases → bit-identical rows and
    ranks; rows tied on the FULL ordering are interchangeable
    (callers make the selected row set deterministic), so which
    duplicate survives phase 1 cannot change the output.

    REQUIREMENT when ``salt_buckets`` is set: ``order_cols`` must be
    a total order over the OUTPUT columns the caller consumes — rows
    that tie on the full ordering while differing in other selected
    columns would make phase-1 pruning pick a representative the
    unsalted window might not (advisory r10). The engine's sole
    salted call site orders by a unique key; new callers must do the
    same or leave salting off."""
    ordering = [F.col(c).desc() if descending else F.col(c).asc() for c in order_cols]
    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_buckets)
        )
        w1 = Window.partitionBy(*partition_cols, "__salt").orderBy(*ordering)
        # explicit exchange on (group, salt): the window's
        # ENSURE_REQUIREMENTS exchange would be AQE-coalesced back to
        # one task at entity scale (bytes-based sizing), defeating
        # the salting
        df = (
            df.withColumn("__salt", salt)
            .repartition(
                df.sparkSession.sparkContext.defaultParallelism,
                *partition_cols,
                "__salt",
            )
            .withColumn("__pr", F.row_number().over(w1))
            .filter(F.col("__pr") <= n)
            .drop("__pr", "__salt")
        )
    w = Window.partitionBy(*partition_cols).orderBy(*ordering)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= n)
    )


def running_total(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
) -> DataFrame:
    """C9 — per-entity running balance (rows UNBOUNDED PRECEDING..CURRENT).

    Sums in DECIMAL then casts double so the prefix sums are
    order-exact and oracle-comparable (functions/deterministic.py).
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col, F.sum(F.col(value_col).cast(MONEY_DECIMAL)).over(w).cast("double")
    )


def rolling_range_sum(
    df: DataFrame,
    partition_cols: list[str],
    ts_col: str,
    value_col: str,
    lookback_seconds: int,
    out_col: str = "rolling_sum",
) -> DataFrame:
    """C9 — time-based RANGE frame: per entity, sum of ``value_col``
    over rows whose timestamp lies within ``lookback_seconds`` before
    the current row's timestamp (inclusive both ends).

    Spark's ``rangeBetween`` needs a numeric ORDER BY, so the frame is
    ordered by epoch seconds (``unix_timestamp``). RANGE frames are
    tie-deterministic (all peers of the current timestamp are in the
    frame), so the output is stable no matter how rows land in
    partitions — unlike a ROWS frame over a non-unique ordering.

    Scale: one shuffle on ``partition_cols``; per-key state is a
    sliding sum, memory bounded by the widest window per key.
    """
    epoch = F.unix_timestamp(F.col(ts_col)).alias("__epoch")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("__epoch").asc())
        .rangeBetween(-lookback_seconds, 0)
    )
    return (
        df.withColumn("__epoch", epoch)
        .withColumn(
            out_col, F.sum(F.col(value_col).cast(MONEY_DECIMAL)).over(w).cast("double")
        )
        .drop("__epoch")
    )


def rank_distribution(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
) -> DataFrame:
    """C9 — percent_rank + cume_dist within each partition.

    Both functions are tie-stable by definition (peers share a value),
    so they are deterministic on non-unique orderings. The emitted
    scores are integer-quantized (floor(x·10⁶), the engine's standard
    for float outputs): decimal `round()` differs across engines on
    exact .xxxxxx5 ties — HALF_UP in Spark, HALF_EVEN in DuckDB — and
    such ties really occur (a 640-row partition makes every cume_dist
    m/640 binary-exact with a 7th digit of 5). floor over the shared
    IEEE double is bit-identical everywhere.
    """
    w = Window.partitionBy(*partition_cols).orderBy(F.col(order_col).asc())
    return df.select(
        *partition_cols,
        order_col,
        F.floor(F.percent_rank().over(w) * 1_000_000)
        .cast("long")
        .alias("pct_rank_micro"),
        F.floor(F.cume_dist().over(w) * 1_000_000)
        .cast("long")
        .alias("cume_dist_micro"),
    )


def period_over_period(
    df: DataFrame,
    group: str,
    period: str,
    value: str,
) -> DataFrame:
    """Period-over-period change per group: each row gains the previous
    observed period's value and the quantized relative change
    ⌊1e6·(cur−prev)/prev⌋ (week-over-week "top movers" shape).

    The lag is over OBSERVED periods only (a silent gap compares
    against the last period that had data; densify with a calendar
    spine first if gap-as-zero semantics are wanted). One window
    shuffle on the group key; the fixed-order double expression
    (sub, div, mul, floor) is IEEE-exact-rounded so engines agree.
    """
    w = Window.partitionBy(group).orderBy(F.asc(period))
    return (
        df.withColumn("prev_value", F.lag(value).over(w))
        .filter(F.col("prev_value").isNotNull() & (F.col("prev_value") != 0))
        .withColumn(
            "change_q",
            F.floor(
                (F.col(value) - F.col("prev_value"))
                / F.col("prev_value")
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )


def exact_ntile(
    df: DataFrame,
    n_buckets: int,
    value_col: str,
    tiebreak_col: str,
    out_col: str = "nt",
    range_buckets: int = 256,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY value, tiebreak)`` WITHOUT a
    global-order window — the one construct this engine forbids (it
    serializes the whole table onto one task; see the module note).

    Same physics as the PQ/k-means trainers: heavy passes stay
    cluster-side, only O(k) scalars cross the driver.

      1. one agg → (N, min, max); driver derives the n−1 boundary row
         ranks from ntile's size law (first N%n buckets get one extra);
      2. distinct-value counts (map-side-combined groupBy), range-
         bucketed by value into `range_buckets` deterministic buckets;
         per-bucket totals (≤ range_buckets rows) give each bucket's
         global rank offset, so the cumulative-count window is
         PARTITIONED by bucket — never global;
      3. the value containing each boundary rank + its residual tie
         index pop out of one explode/filter pass (n−1 rows);
      4. tied rows of just those ≤ n−1 values resolve the boundary
         tiebreak with a window partitioned by value (n−1 rows back);
      5. assignment is pure map-side: bucket = 1 + Σₖ [row > cutₖ]
         over the n−1 broadcast-literal cut pairs.

    Requires non-null (value, tiebreak) with a unique tiebreak — the
    ntile contract this engine's callers already obey. At 100 TB the
    cost is three fact scans (distinct-count build, boundary-tie
    resolve, final assignment) + ONE distinct-value shuffle — the
    distinct table is persisted (MEMORY_AND_DISK) so the stats,
    bucket-total, and boundary passes reuse one materialization; no
    stage sees unbounded per-task state.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if n_buckets == 1:  # ntile(1): every row lands in bucket 1
        return df.withColumn(out_col, F.lit(1).cast("int"))
    v, t = F.col(value_col), F.col(tiebreak_col)
    pc0 = (
        df.groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .persist()
    )
    try:
        stats = pc0.agg(
            F.sum("__cnt").alias("n"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        ).collect()[0]
        n_rows = stats["n"] or 0
        if n_rows == 0:
            return df.withColumn(out_col, F.lit(None).cast("int"))

        base, extra = divmod(n_rows, n_buckets)
        ranks, cum = [], 0
        for k in range(1, n_buckets):
            cum += base + (1 if k <= extra else 0)
            ranks.append((k, max(cum - 1, 0)))  # 0-based rank of bucket k's last row

        # deterministic range bucket over the value domain (skew in the
        # distinct-value table only shifts work between tiny aggs)
        if stats["hi"] == stats["lo"]:
            bucket = F.lit(0)
        else:
            span = float(stats["hi"]) - float(stats["lo"])
            # subtract in double: for value domains where hi-lo exceeds
            # int64, the native long subtraction wraps silently under
            # non-ANSI mode and breaks bucket monotonicity (the result
            # only feeds a coarse range bucket, so double's precision
            # loss is harmless while overflow is not)
            bucket = F.least(
                F.lit(range_buckets - 1),
                F.floor(
                    (F.col("__v").cast("double") - F.lit(float(stats["lo"])))
                    / F.lit(span) * range_buckets
                ).cast("int"),
            )
        pc = pc0.withColumn("__b", bucket)
        btot = {r["__b"]: r["t"] for r in
                pc.groupBy("__b").agg(F.sum("__cnt").alias("t")).collect()}
        offsets, acc = {}, 0
        for b in sorted(btot):
            offsets[b] = acc
            acc += btot[b]
        # which buckets hold boundary ranks → pushdown filter for pass 3
        needed = set()
        for _, r in ranks:
            for b in sorted(btot):
                if offsets[b] <= r < offsets[b] + btot[b]:
                    needed.add(b)
                    break
        off_expr = F.lit(0)
        for b in needed:
            off_expr = F.when(F.col("__b") == b, F.lit(offsets[b])).otherwise(off_expr)
        cumw = Window.partitionBy("__b").orderBy("__v")
        bnds = F.array(
            *[F.struct(F.lit(k).alias("k"), F.lit(r).cast("long").alias("r"))
              for k, r in ranks]
        )
        hits = (
            pc.filter(F.col("__b").isin(list(needed)))
            .withColumn(
                "__gcum", off_expr + F.sum("__cnt").over(cumw) - F.col("__cnt")
            )
            .select("__v", "__cnt", "__gcum", F.explode(bnds).alias("bk"))
            .filter(
                (F.col("bk.r") >= F.col("__gcum"))
                & (F.col("bk.r") < F.col("__gcum") + F.col("__cnt"))
            )
            .select(
                F.col("bk.k").alias("k"),
                F.col("__v").alias("v"),
                (F.col("bk.r") - F.col("__gcum")).alias("j"),
                "__cnt",
            )
            .collect()
        )
        # CLEAN cuts need no tiebreak: a boundary on the LAST row of
        # its value group splits between distinct values (j+1 == cnt),
        # which on near-distinct data is nearly every boundary — the
        # exact_ntile_multi clean-cut rule (r6); only the rest pay the
        # boundary-tie resolve pass
        cuts = [
            (h["k"], h["v"], None) for h in hits if h["j"] + 1 == h["__cnt"]
        ]
        want = {
            (h["v"], h["j"] + 1) for h in hits if h["j"] + 1 != h["__cnt"]
        }
        tie_at = {}
        if want:
            tw = Window.partitionBy(value_col).orderBy(tiebreak_col)
            cond = None
            for bv, rn in want:
                c = (v == F.lit(bv)) & (F.col("__rn") == F.lit(rn))
                cond = c if cond is None else (cond | c)
            tied = (
                df.filter(v.isin([bv for bv, _ in want]))
                .select(value_col, tiebreak_col)
                .withColumn("__rn", F.row_number().over(tw))
                .filter(cond)
                .collect()
            )
            tie_at = {(r[value_col], r["__rn"]): r[tiebreak_col] for r in tied}
        cuts += [
            (h["k"], h["v"], tie_at[(h["v"], h["j"] + 1)])
            for h in hits
            if h["j"] + 1 != h["__cnt"]
        ]
    finally:
        pc0.unpersist()
    # map-side assignment against the broadcast-literal cut pairs
    expr = F.lit(1)
    for _, cv, ct in cuts:
        if ct is None:
            after = v > F.lit(cv)  # clean cut between distinct values
        else:
            after = (v > F.lit(cv)) | ((v == F.lit(cv)) & (t > F.lit(ct)))
        expr = expr + after.cast("int")
    return df.withColumn(out_col, expr.cast("int"))


def exact_ntile_multi(
    df: DataFrame,
    specs: list[tuple[int, str, str, str]],
    range_buckets: int = 256,
) -> DataFrame:
    """K ``exact_ntile`` assignments in ONE fused pass — same
    algorithm, same outputs, ~1/k the job count. ``specs`` is a list
    of ``(n_buckets, value_col, tiebreak_col, out_col)``; the result
    is ``df`` plus one int bucket column per spec, each bit-identical
    to the corresponding single ``exact_ntile`` call.

    Why: chaining k exact_ntile calls costs ~4 driver collects EACH
    (stats, bucket totals, boundary hits, tie resolve) — 12+ Spark
    jobs for an RFM triple, pure scheduling overhead at bench scale.
    Here the k distinct-value tables are STACKED under a spec-id key
    (one union scan, one (spec, value) shuffle) so each driver
    round-trip serves every spec at once; per-spec state stays
    O(buckets + n_buckets) scalars, exactly as before.

    r10: the range bucket (which needed a prior min/max job) is
    replaced by the stat-free ORDER bucket from the rank family
    (`rankstats._order_bucket` — sign-aware ⌊log₂⌋ refined by
    mantissa bits, monotone by construction, ≤ ~2·64·64 populated
    buckets per spec), so per-spec row counts and per-bucket totals
    come back in ONE collect: 4 driver round-trips → 3 (2 when every
    cut is clean). ``range_buckets`` is retained for signature
    compatibility but no longer used.

    Contract (all engine callers comply): value columns are
    integer-typed (cast to long losslessly — the stack needs one
    common type) and NON-NULL — a NULL value has no position in the
    ntile order, so a NULL in the value column of a spec with
    ``n_buckets > 1`` raises ``ValueError`` (it lands in the NULL
    order bucket, which the per-(spec, bucket) collect reports: no
    extra job); tiebreak columns share one type across specs and are
    unique + non-null per the ntile contract.
    """
    if not specs:
        return df
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for nb, vc, _, _ in specs:
        if nb < 1:
            raise ValueError(f"n_buckets must be >= 1, got {nb}")
        # the stack casts every value column to long; a fractional
        # input would TRUNCATE silently and order differently than the
        # single-column exact_ntile — reject instead
        if not isinstance(df.schema[vc].dataType, integral):
            raise TypeError(
                f"exact_ntile_multi needs integer-typed value columns; "
                f"{vc!r} is {df.schema[vc].dataType.simpleString()}"
            )
    all_specs = [
        (i, nb, vc, tc, oc) for i, (nb, vc, tc, oc) in enumerate(specs)
    ]
    # ntile(1) needs no statistics; exclude from the stacked pass but
    # keep its slot so output columns land in the caller's spec order
    live = [s for s in all_specs if s[1] > 1]
    if not live:
        out = df
        for i, nb, vc, tc, oc in all_specs:
            out = out.withColumn(oc, F.lit(1).cast("int"))
        return out
    stk = None
    for i, nb, vc, tc, oc in live:
        s = df.select(
            F.lit(i).alias("__si"), F.col(vc).cast("long").alias("__v")
        )
        stk = s if stk is None else stk.unionAll(s)
    from .rankstats import _order_bucket

    pc0 = (
        stk.groupBy("__si", "__v")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__b", _order_bucket("__v"))
        .persist()
    )
    try:
        # ONE collect: per-(spec, bucket) totals; per-spec row counts
        # are their sums (the order bucket needs no prior stats job)
        btot: dict[int, dict[int, int]] = {}
        for r in (
            pc0.groupBy("__si", "__b").agg(F.sum("__cnt").alias("t")).collect()
        ):
            if r["__b"] is None:
                vc = next(vc for i, _, vc, _, _ in live if i == r["__si"])
                raise ValueError(
                    f"exact_ntile_multi: value column {vc!r} holds NULL; "
                    "a NULL has no position in the ntile order"
                )
            btot.setdefault(r["__si"], {})[r["__b"]] = r["t"]
        stats = {i: {"n": sum(bs.values())} for i, bs in btot.items()}
        # per-spec boundary row ranks from ntile's size law
        ranks: dict[int, list[tuple[int, int]]] = {}
        for i, nb, vc, tc, oc in live:
            st = stats.get(i)
            n_rows = (st["n"] if st else 0) or 0
            if n_rows == 0:
                ranks[i] = []
                continue
            base_sz, extra = divmod(n_rows, nb)
            rs, cum = [], 0
            for k in range(1, nb):
                cum += base_sz + (1 if k <= extra else 0)
                rs.append((k, max(cum - 1, 0)))
            ranks[i] = rs
        pc = pc0
        offsets: dict[int, dict[int, int]] = {}
        needed: dict[int, set[int]] = {}
        for i in btot:
            offs, acc = {}, 0
            for b in sorted(btot[i]):
                offs[b] = acc
                acc += btot[i][b]
            offsets[i] = offs
            nd = set()
            for _, r in ranks.get(i, []):
                for b in sorted(btot[i]):
                    if offs[b] <= r < offs[b] + btot[i][b]:
                        nd.add(b)
                        break
            needed[i] = nd
        any_needed = [(i, b) for i in needed for b in needed[i]]
        cuts: dict[int, list[tuple[int, int, object]]] = {i: [] for i, *_ in live}
        if any_needed:
            filt = None
            off_expr = F.lit(0)
            for i, b in any_needed:
                c = (F.col("__si") == i) & (F.col("__b") == b)
                filt = c if filt is None else (filt | c)
                off_expr = F.when(c, F.lit(offsets[i][b])).otherwise(off_expr)
            # per-spec boundary arrays selected by a when-chain on __si
            bnds = None
            for i, nb, vc, tc, oc in live:
                if not ranks.get(i):
                    continue
                arr = F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"),
                            F.lit(r).cast("long").alias("r"),
                        )
                        for k, r in ranks[i]
                    ]
                )
                bnds = arr if bnds is None else F.when(
                    F.col("__si") == i, arr
                ).otherwise(bnds)
            cumw = Window.partitionBy("__si", "__b").orderBy("__v")
            hits = (
                pc.filter(filt)
                .withColumn(
                    "__gcum",
                    off_expr + F.sum("__cnt").over(cumw) - F.col("__cnt"),
                )
                .select(
                    "__si", "__v", "__cnt", "__gcum",
                    F.explode(bnds).alias("bk"),
                )
                .filter(
                    (F.col("bk.r") >= F.col("__gcum"))
                    & (F.col("bk.r") < F.col("__gcum") + F.col("__cnt"))
                )
                .select(
                    "__si",
                    F.col("bk.k").alias("k"),
                    F.col("__v").alias("v"),
                    (F.col("bk.r") - F.col("__gcum")).alias("j"),
                    "__cnt",
                )
                .collect()
            )
            # CLEAN cuts first: a boundary that lands on the LAST row
            # of its value group (j+1 == cnt) splits between distinct
            # values — the cut is value-only and needs NO tiebreak
            # lookup. On near-distinct data (cents columns) that is
            # nearly every boundary, and the whole tie-resolve pass
            # (one more driver round-trip + df scan) is skipped.
            for h in hits:
                if h["j"] + 1 == h["__cnt"]:
                    cuts[h["__si"]].append((h["k"], h["v"], None))
            # one stacked boundary-tie pass for the rest: filter each
            # spec to its ≤ n−1 boundary values BEFORE the union
            # (scan pushdown)
            want: dict[int, set[tuple[int, int]]] = {}
            for h in hits:
                if h["j"] + 1 == h["__cnt"]:
                    continue
                want.setdefault(h["__si"], set()).add((h["v"], h["j"] + 1))
            tstk = None
            for i, nb, vc, tc, oc in live:
                if i not in want:
                    continue
                bvals = [bv for bv, _ in want[i]]
                s = (
                    df.filter(F.col(vc).cast("long").isin(bvals))
                    .select(
                        F.lit(i).alias("__si"),
                        F.col(vc).cast("long").alias("__v"),
                        F.col(tc).alias("__t"),
                    )
                )
                tstk = s if tstk is None else tstk.unionAll(s)
            tie_at: dict[tuple[int, int, int], object] = {}
            if tstk is not None:
                tw = Window.partitionBy("__si", "__v").orderBy("__t")
                cond = None
                for i in want:
                    for bv, rn in want[i]:
                        c = (
                            (F.col("__si") == i)
                            & (F.col("__v") == F.lit(bv))
                            & (F.col("__rn") == F.lit(rn))
                        )
                        cond = c if cond is None else (cond | c)
                tied = (
                    tstk.withColumn("__rn", F.row_number().over(tw))
                    .filter(cond)
                    .collect()
                )
                tie_at = {
                    (r["__si"], r["__v"], r["__rn"]): r["__t"] for r in tied
                }
            for h in hits:
                if h["j"] + 1 == h["__cnt"]:
                    continue  # clean cut, already recorded above
                cuts[h["__si"]].append(
                    (
                        h["k"],
                        h["v"],
                        tie_at[(h["__si"], h["v"], h["j"] + 1)],
                    )
                )
    finally:
        pc0.unpersist()
    # map-side assignment per spec against broadcast-literal cut pairs,
    # in the caller's original spec order
    out = df
    for i, nb, vc, tc, oc in all_specs:
        if nb == 1:
            out = out.withColumn(oc, F.lit(1).cast("int"))
            continue
        st = stats.get(i)
        if st is None or (st["n"] or 0) == 0:
            out = out.withColumn(oc, F.lit(None).cast("int"))
            continue
        v, t = F.col(vc).cast("long"), F.col(tc)
        expr = F.lit(1)
        for _, cv, ct in sorted(cuts[i], key=lambda c: c[0]):
            if ct is None:
                # clean cut: the bucket boundary falls between two
                # DISTINCT values — strictly-greater is exact
                after = v > F.lit(cv)
            else:
                after = (v > F.lit(cv)) | (
                    (v == F.lit(cv)) & (t > F.lit(ct))
                )
            expr = expr + after.cast("int")
        out = out.withColumn(oc, expr.cast("int"))
    return out


def salted_topk_per_group(
    df: DataFrame,
    partition_cols: list[str],
    value_col: str,
    tiebreak_col: str,
    n: int,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-proof top-n per group: identical output to
    `top_n_per_group`, different physics. A single rank window sorts
    EVERY row of a group on one task — a hot group (one key holding a
    double-digit % of a 100 TB fact) stalls the stage. Two phases fix
    the ceiling:

      1. local top-n within (group, salt) — salt = deterministic hash
         of the tiebreak (rand() would break task retry), so each of
         the S sub-partitions sorts ~1/S of the hot group;
      2. global top-n over the ≤ S·n survivors per group — trivially
         small by construction.

    Correct because the global top-n of a group is contained in the
    union of its per-salt top-n sets. Both windows carry the same
    (value DESC, tiebreak ASC) total order, so the result — ranks
    included — is bit-identical to the single-window form.
    """
    salt = F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(salt_buckets))
    ordering = [F.col(value_col).desc(), F.col(tiebreak_col).asc()]
    w1 = Window.partitionBy(*partition_cols, "__salt").orderBy(*ordering)
    survivors = (
        df.withColumn("__salt", salt)
        .withColumn("__lr", F.row_number().over(w1))
        .filter(F.col("__lr") <= n)
        .drop("__lr")
    )
    w2 = Window.partitionBy(*partition_cols).orderBy(*ordering)
    return (
        survivors.withColumn("rank_in_group", F.row_number().over(w2))
        .filter(F.col("rank_in_group") <= n)
        .drop("__salt")
    )
