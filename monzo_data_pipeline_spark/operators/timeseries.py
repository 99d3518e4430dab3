"""Time-series resample + gap fill.

The reference keeps append-only snapshot logs (`bronze_balance`,
`bronze_pots` — /root/reference/src/load/load.py:140,174) and reads
"latest per key" in its notebook; the general time-series form every
analytics pipeline needs on such logs is RESAMPLE: bucket irregular
observations onto a fixed grid, densify the missing cells, and fill
gaps (forward-fill for step semantics, linear interpolation for
continuous signals).

Plan shape (all built-in, codegen'd):
  1. bucket    — `date_trunc` + hash agg (map-side combinable);
  2. spine     — per-key `sequence(min, max, step)` + explode: the
                 grid is generated cluster-side from one row per key,
                 never enumerated on the driver;
  3. densify   — left join buckets onto the spine (broadcastable when
                 the grid is small; co-partitioned on the key
                 otherwise);
  4. fill      — ONE window shuffle per key ordered by bucket:
                 `last(ignorenulls)` forward + `first(ignorenulls)`
                 backward give the bracketing observations, and the
                 interpolation is pure row-local arithmetic.

At 100 TB the cost is the per-key window sort — the same shuffle an
as-of join pays (operators/joins.py::asof_join), and it partitions
cleanly by key; no iteration, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.deterministic import davg
from ..session import local_frame


def resample_gap_fill(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    granularity: str = "hour",
) -> DataFrame:
    """Resample `value_col` onto a per-key `granularity` grid.

    Returns one row per (keys, bucket) for EVERY bucket between each
    key's first and last observation, with:
      * ``v``       — deterministic mean of observations in the bucket
                      (null for gap buckets);
      * ``ffill_v`` — forward-filled value (step/"last known" fill);
      * ``lerp_v``  — linear interpolation between the bracketing
                      observed buckets (falls back to nearest endpoint
                      at the edges).

    The interpolation expression is written in one fixed operation
    order so IEEE-754 doubles reproduce bit-for-bit across engines.
    """
    step = f"interval 1 {granularity}"
    h = F.date_trunc(granularity, F.col(ts_col)).alias("h")

    buckets = df.select(*keys, h, F.col(value_col)).groupBy(*keys, "h").agg(
        davg(value_col, "decimal(18,6)").alias("v")
    )
    spine = (
        buckets.groupBy(*keys)
        .agg(F.min("h").alias("__h0"), F.max("h").alias("__h1"))
        .select(
            *keys,
            F.explode(F.expr(f"sequence(__h0, __h1, {step})")).alias("h"),
        )
    )
    dense = spine.join(buckets, [*keys, "h"], "left")

    w_back = (
        Window.partitionBy(*keys)
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    filled = dense.select(
        *keys,
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("__pv"),
        F.last(obs_h, ignorenulls=True).over(w_back).alias("__ph"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("__nv"),
        F.first(obs_h, ignorenulls=True).over(w_fwd).alias("__nh"),
    )

    def _epoch(c: str) -> Column:
        return F.unix_timestamp(F.col(c)).cast("double")

    frac = (_epoch("h") - _epoch("__ph")) / (_epoch("__nh") - _epoch("__ph"))
    lerp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("__pv").isNull(), F.col("__nv"))
        .when(F.col("__nv").isNull(), F.col("__pv"))
        .otherwise(F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac)
    )
    return filled.select(
        *keys,
        "h",
        "v",
        F.col("__pv").alias("ffill_v"),
        lerp.alias("lerp_v"),
    )


def autocorrelation(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
    max_lag: int = 3,
    quant: int = 1_000,
    chunk_granularity: str | None = "day",
) -> DataFrame:
    """Per-key autocorrelation function (ACF) at lags 1..max_lag — the
    seasonality / momentum screen over an event-value series (e.g.
    "does yesterday's spend predict today's" on the reference's
    balance snapshot log, /root/reference/src/load/load.py:140).

    Pearson r between the series and its k-step LEAD, computed from
    EXACT integer moment sums of the quantized values: x is quantized
    to ``floor(v·quant + 0.5)`` (a BIGINT), all five sums (Σx Σy Σxy
    Σx² Σy²) are exact DECIMAL(38,0) accumulators — order-independent,
    so partial aggregation over any partitioning is bit-stable — and
    only the final Pearson expression runs in IEEE doubles in one
    fixed operation order, making the floor'd ppm output identical
    across engines (the spend_trend_slopes idiom extended with
    second moments). Constant series (zero variance) yield NULL.

    Scale posture — the FEW-long-series problem: a per-key window
    serializes each key's whole series onto one task, so 5 event
    types over 10⁹ rows would sort on 5 tasks no matter the cluster
    (measured 40× wall at 100× data in SCALING.md before this). With
    ``chunk_granularity`` set (default "day"), the series is windowed
    per (key, date_trunc(chunk)) instead — parallelism = keys ×
    periods — and exactness across chunk boundaries is restored by a
    CARRY: the first max_lag rows of every chunk (a tiny heads frame)
    are re-attached to each PRECEDING chunk via a bounded range join,
    so every row still sees its true next-k series successors even
    when intervening chunks hold fewer than max_lag rows. Lead pairs
    are computed per (key, chunk) over base+carry and carry rows are
    then dropped — pairing is bit-identical to the single-window
    form (property-tested), so the oracle twin is unchanged. Pass
    ``chunk_granularity=None`` to force the plain one-window plan.
    """
    # the series is the NON-NULL observation sequence: drop null
    # values before the window so lead(k) pairs k-apart observations.
    # NULL timestamps are dropped too — an unplaceable observation has
    # no series position, and NULL ordering differs between engines
    # (Spark NULLS FIRST asc, DuckDB NULLS LAST)
    df = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    q = F.floor(F.col(value_col) * quant + F.lit(0.5)).cast("long")
    if chunk_granularity is None:
        w = Window.partitionBy(*keys).orderBy(ts_col, order_tiebreak)
        with_leads = df.select(
            *keys,
            q.alias("__x"),
            *[
                F.lead(q, k).over(w).alias(f"__y{k}")
                for k in range(1, max_lag + 1)
            ],
        )
    else:
        base = df.select(
            *keys,
            F.col(ts_col),
            F.col(order_tiebreak),
            q.alias("__x"),
            F.date_trunc(chunk_granularity, F.col(ts_col)).alias("__ck"),
            F.lit(True).alias("__real"),
        )
        # heads: the first max_lag rows of every (key, chunk) — the
        # only rows any earlier chunk can ever need as successors
        # (they cover the next max_lag series rows even if the
        # following chunks hold a single row each)
        wck = Window.partitionBy(*keys, "__ck").orderBy(
            ts_col, order_tiebreak
        )
        heads = (
            base.withColumn("__rn", F.row_number().over(wck))
            .filter(F.col("__rn") <= max_lag)
            .drop("__rn")
        )
        h = heads.select(
            *[F.col(k).alias(f"__h_{k}") for k in keys],
            F.col("__ck").alias("__hck"),
            F.col(ts_col).alias("__hts"),
            F.col(order_tiebreak).alias("__htb"),
            F.col("__x").alias("__hx"),
        )
        chunks = base.select(*keys, "__ck").distinct()
        # bounded range join: |chunks| × |heads| per key (periods ×
        # max_lag·periods — chunk-level cardinality, never row-level)
        cond = [chunks[k] == h[f"__h_{k}"] for k in keys] + [
            h["__hck"] > chunks["__ck"]
        ]
        wrk = Window.partitionBy(*keys, "__ck").orderBy("__hts", "__htb")
        carries = (
            chunks.join(h, cond)
            .withColumn("__rk", F.row_number().over(wrk))
            .filter(F.col("__rk") <= max_lag)
            .select(
                *keys,
                F.col("__hts").alias(ts_col),
                F.col("__htb").alias(order_tiebreak),
                F.col("__hx").alias("__x"),
                "__ck",
                F.lit(False).alias("__real"),
            )
        )
        aug = base.unionByName(carries)
        wl = Window.partitionBy(*keys, "__ck").orderBy(
            ts_col, order_tiebreak
        )
        with_leads = (
            aug.select(
                *keys,
                "__x",
                "__real",
                *[
                    F.lead("__x", k).over(wl).alias(f"__y{k}")
                    for k in range(1, max_lag + 1)
                ],
            )
            .filter(F.col("__real"))
            .drop("__real")
        )
    pairs = with_leads.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col("__x").alias("x"),
                        F.col(f"__y{k}").alias("y"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("p"),
    ).select(*keys, "p.lag", "p.x", "p.y").filter(F.col("y").isNotNull())

    def d38(c):
        return F.sum(F.col(c).cast("decimal(38,0)")).cast("double")

    m = pairs.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        d38("x").alias("__sx"),
        d38("y").alias("__sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("__sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("__sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    corr_ppm = F.when(
        (vx > 0) & (vy > 0),
        F.floor(num / (F.sqrt(vx) * F.sqrt(vy)) * F.lit(1_000_000.0)).cast(
            "long"
        ),
    )
    return m.select(
        *keys, "lag", "n_pairs", corr_ppm.alias("acf_ppm")
    ).orderBy(*keys, "lag")


def cusum_changepoint(
    series: DataFrame,
    key_col: str,
    t_col: str,
    x_col: str,
) -> DataFrame:
    """Per-series CUSUM changepoint screen: the grid point where the
    cumulative deviation from the series mean peaks — the standard
    single-changepoint location estimate (argmax |Σ_{i≤t}(xᵢ − μ)|)
    for a level shift in a daily metric (volume drop after a deploy,
    a source going quiet).

    All-integer: the running deviation is scaled by the series length
    n (S'ₜ = n·Σ_{i≤t}xᵢ − t·Σx — same argmax, no division), the
    reported strength is ⌊|S'peak|·10⁶ / (n·Σx)⌋ ppm, and the argmax
    tiebreak is the EARLIEST grid point, so the result is hash-exact
    against a plain window-SQL twin.

    Plan: one window per key ordered by t (cumulative sum +
    row_number), one per-key totals agg joined back (key-grain, AQE
    broadcasts it), one max(struct) argmax agg. Series length is
    grid-proportional (days), not fact-proportional — the caller
    aggregates facts to the (key, t, x) grain first.

    NB column hygiene: Spark resolution is case-insensitive, so no
    internal name here differs from another only by case (a `__T`
    next to `__t` reads as AMBIGUOUS_REFERENCE).
    """
    s = series.select(
        F.col(key_col).alias("__k"),
        F.col(t_col).alias("__t"),
        F.col(x_col).cast("long").alias("__x"),
    ).filter(F.col("__k").isNotNull() & F.col("__t").isNotNull())
    w = Window.partitionBy("__k").orderBy("__t")
    cum = s.select(
        "__k",
        "__t",
        F.sum("__x").over(w).alias("__cum"),
        F.row_number().over(w).alias("__i"),
    )
    tot = s.groupBy("__k").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").alias("__tot"),
    )
    dev = cum.join(tot, on="__k").select(
        "__k",
        "__t",
        "__n",
        "__tot",
        (F.col("__n") * F.col("__cum") - F.col("__i") * F.col("__tot")).alias(
            "__s"
        ),
    )
    # argmax |s| with earliest-t tiebreak: lexicographic max over
    # (|s|, −epoch_micros) — t is re-derived from the winning struct
    picked = dev.groupBy("__k").agg(
        F.max(
            F.struct(
                F.abs(F.col("__s")).alias("a"),
                (
                    F.lit(0) - F.unix_micros(F.col("__t").cast("timestamp"))
                ).alias("negt"),
                F.col("__s").alias("s"),
                F.col("__t").alias("t"),
                F.col("__n").alias("n"),
                F.col("__tot").alias("tot"),
            )
        ).alias("m")
    )
    return picked.select(
        F.col("__k").alias(key_col),
        F.col("m.n").alias("n_points"),
        F.col("m.tot").alias("total_x"),
        F.col("m.t").alias("cp_t"),
        F.col("m.s").alias("cusum_peak"),
        F.when(
            F.col("m.tot") > 0,
            # widen BEFORE the ×10⁶: m.a is bounded only by n·tot, so
            # the plain-BIGINT product wraps int64 silently (non-ANSI)
            # once n_points·total_x crosses ~9.2e12 — DECIMAL(38,0)
            # keeps the module's exactness posture to lake scale
            F.expr(
                "(CAST(m.a AS DECIMAL(38,0)) * 1000000)"
                " DIV (CAST(m.n AS DECIMAL(38,0)) * m.tot)"
            ),
        ).alias("strength_ppm"),
    ).orderBy(key_col)


def seasonal_decompose_monthly(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Classical additive seasonal decomposition of a monthly series
    (trend = the standard centered 2×12 moving average; seasonal =
    per-calendar-month mean deviation from trend; residual = the
    rest), in pure integer arithmetic so the output hash-checks
    cross-engine.

    Construction (everything in cents / ppm-of-a-cent BIGINTs):
      * the series is the per-(year, month) exact-cents SUM of
        `value_col` — the decomposition runs on the AGGREGATED frame
        (≤ 12 rows/year), so at 100 TB the fact table is touched once
        by an ordinary partial-agg'd groupBy and everything after is
        broadcast-sized;
      * trend via the 2×12 MA as one bounded OFFSET SELF-JOIN — a
        13-row (offset, weight) frame (w=1 at ±6, w=2 within ±5,
        denominator 24) joined on month-index equality — NOT a global
        window: the no-unpartitioned-window contract holds and the
        plan stays shuffle-free after the first agg. Months missing
        any of their 13 neighbors get NULL trend (the standard edge
        behavior);
      * trend_ppm = Σ(w·cents)·10⁶ DIV 24 (positive ⇒ DIV = floor,
        matching DuckDB's //); detrended d_ppm = cents·10⁶ − trend_ppm,
        computed in DECIMAL(38,0) like the trend (cents·10⁶ wraps
        BIGINT once a month exceeds ~9.2e12 cents);
      * seasonal_ppm per calendar month = floor(Σ d_ppm / n), spelled
        sign-safely as (s − pmod(s, n)) DIV n because Spark's DIV
        truncates toward zero while floor-division is wanted for the
        (routinely negative) deviations — DuckDB's // already floors;
      * residual_ppm = d_ppm − seasonal_ppm (NULL where trend is).

    Output: (order_month 'yyyy-MM', revenue_cents, trend_ppm,
    seasonal_ppm, residual_ppm)."""
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    m = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.year(ts_col).alias("__yr"), F.month(ts_col).alias("__mo")
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .withColumn("__idx", F.col("__yr") * 12 + F.col("__mo"))
    )
    # m is consumed twice (series + neighbors) and its downstream is
    # re-planned for the seasonal join: truncate lineage so the fact
    # scan + agg run ONCE (the attach_count_below lesson)
    from ..ext.lineage import truncate_lineage

    m = truncate_lineage(m)
    spark = df.sparkSession
    offsets = local_frame(
        spark,
        [(o, 1 if abs(o) == 6 else 2) for o in range(-6, 7)],
        "__off int, __w int",
    )
    a = m.alias("a")
    b = m.select(
        F.col("__idx").alias("__bidx"),
        F.col("revenue_cents").alias("__brc"),
    ).alias("b")
    tr = (
        a.join(F.broadcast(offsets))
        .join(
            F.broadcast(b),
            F.col("__bidx") == F.col("a.__idx") + F.col("__off"),
        )
        .groupBy("a.__yr", "a.__mo", "a.revenue_cents")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__brc") * F.col("__w")).alias("__t2"),
        )
        .select(
            F.col("__yr"),
            F.col("__mo"),
            F.col("revenue_cents"),
            F.when(
                F.col("__n") == 13,
                F.expr(
                    "CAST(CAST(__t2 AS DECIMAL(38,0)) * 1000000"
                    " DIV 24 AS BIGINT)"
                ),
            ).alias("trend_ppm"),
        )
        .withColumn(
            # detrend in DECIMAL(38,0): cents*1e6 wraps BIGINT once a
            # month tops ~9.2e12 cents, well inside the 100 TB design
            # envelope (the trend path already guards this magnitude)
            "__d_ppm",
            F.col("revenue_cents").cast("decimal(38,0)")
            * F.lit(1_000_000)
            - F.col("trend_ppm"),
        )
    )
    si = (
        tr.filter(F.col("__d_ppm").isNotNull())
        .groupBy("__mo")
        .agg(
            F.sum("__d_ppm").alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            F.col("__mo"),
            F.expr(
                "CAST((__s - pmod(__s, __n)) DIV __n AS BIGINT)"
            ).alias("seasonal_ppm"),
        )
    )
    return (
        tr.join(F.broadcast(si), "__mo", "left")
        .select(
            F.format_string(
                "%04d-%02d", F.col("__yr"), F.col("__mo")
            ).alias("order_month"),
            "revenue_cents",
            "trend_ppm",
            "seasonal_ppm",
            (F.col("__d_ppm") - F.col("seasonal_ppm"))
            .cast("long")
            .alias("residual_ppm"),
        )
    )


def holt_linear_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    horizons: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Holt's linear-trend exponential smoothing (double smoothing)
    over the monthly series of `value_col`, with the h-step-ahead
    forecast — the trend-aware companion to the EWMA fold and the
    forecasting half of `seasonal_decompose_monthly`.

    alpha = beta = 1/2 so every smoothing step is an exact integer
    FLOOR halving (arithmetic shift on Spark, // in the oracle —
    floor on both engines even when the trend goes negative), making
    level/trend/forecast bit-identical cross-engine:

        l_t = floor((y_t + l_{t-1} + b_{t-1}) / 2)
        b_t = floor((l_t - l_{t-1} + b_{t-1}) / 2)
        init l_2 = y_2, b_2 = y_2 - y_1 (recurrence from t = 3;
        a length-1 series forecasts flat at y_1)
        forecast(h) = l_T + h * b_T

    Scale shape: the fact table is touched ONCE by the partial-agg'd
    monthly groupBy (the seasonal_decompose contract); the recurrence
    is inherently sequential, so it runs as ONE `F.aggregate` fold
    over the bounded sorted month array (≤ 12 rows/year — the
    ewma_user_values idiom with a struct accumulator), never a
    driver loop or a window. Output: one row per horizon
    (h, level_cents, trend_cents, forecast_cents)."""
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    m = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.year(ts_col).alias("__yr"), F.month(ts_col).alias("__mo")
        )
        .agg(F.sum(cents).alias("__y"))
        .select(
            (F.col("__yr") * 12 + F.col("__mo")).alias("__idx"), "__y"
        )
    )
    series = m.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__idx"), F.col("__y")))
        ).alias("__s")
    )
    init = F.struct(
        F.lit(0).cast("int").alias("i"),
        F.lit(0).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
    )

    def step(acc, e):
        y = e["__y"]
        first = acc["i"] == 0
        second = acc["i"] == 1
        l_new = F.shiftright(y + acc["l"] + acc["b"], 1)
        b_new = F.shiftright(l_new - acc["l"] + acc["b"], 1)
        return F.struct(
            (acc["i"] + 1).alias("i"),
            F.when(first | second, y).otherwise(l_new).alias("l"),
            F.when(first, F.lit(0).cast("long"))
            .when(second, y - acc["l"])
            .otherwise(b_new)
            .alias("b"),
        )

    fitted = series.select(
        F.aggregate(F.col("__s"), init, step).alias("__f")
    ).select(
        F.col("__f.i").alias("__n"),
        F.col("__f.l").alias("level_cents"),
        F.col("__f.b").alias("trend_cents"),
    )
    hs = F.explode(
        F.array(*[F.lit(int(h)) for h in horizons])
    ).alias("h")
    return (
        fitted.filter(F.col("__n") > 0)
        .select("level_cents", "trend_cents", hs)
        .select(
            F.col("h").cast("int").alias("h"),
            "level_cents",
            "trend_cents",
            (
                F.col("level_cents")
                + F.col("h") * F.col("trend_cents")
            ).alias("forecast_cents"),
        )
        .orderBy("h")
    )
