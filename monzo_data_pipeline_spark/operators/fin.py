"""Banking-analytics operators — the query family a user of the
reference (a personal-finance ETL: /root/reference/src/sql/
transform_bronze_to_silver.sql aggregates card transactions) runs on
top of the warehouse: recurring-payment detection, round-up savings,
time-weighted balances, duplicate-charge flags, first-digit (Benford)
profiling.

All pure DataFrame built-ins (no Python in the hot path) and
all-integer arithmetic where results feed the oracle gate, so every
query here is hash-exact against its DuckDB twin.

At 100 TB: every operator is a single keyed shuffle (groupBy/window on
the natural key — customer or user), so it scales like the flagship
aggregations; the only broadcast is a 1-row grand-total scalar
(benford). No collects, no cross joins beyond the 1-row scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _cents(price) -> "F.Column":
    """Exact integer cents from a double price: floor(p·100 + 0.5) —
    one IEEE multiply-add, bit-identical across engines (unlike
    round(), whose half-way rule differs between Spark and DuckDB)."""
    col = F.col(price) if isinstance(price, str) else price
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def subscription_streaks(orders: DataFrame, min_streak: int = 3) -> DataFrame:
    """Recurring-payment (subscription-like) detection via
    gaps-and-islands: months with ≥1 order per customer, grouped into
    runs of consecutive months by the classic `month_index −
    dense_rank` trick; keep runs of ≥ min_streak months.

    Scale: the dense_rank window partitions by customer over the tiny
    distinct (customer, month) set — one shuffle on the natural key,
    no global sort.
    """
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("int")
    months = orders.select("o_custkey", mi.alias("mi")).distinct()
    w = Window.partitionBy("o_custkey").orderBy("mi")
    islands = months.withColumn("grp", F.col("mi") - F.dense_rank().over(w))
    return (
        islands.groupBy("o_custkey", "grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("streak_months"),
            F.min("mi").alias("first_month"),
            F.max("mi").alias("last_month"),
        )
        .filter(F.col("streak_months") >= min_streak)
        .select("o_custkey", "streak_months", "first_month", "last_month")
    )


def roundup_pots(orders: DataFrame, unit_cents: int = 1000, top_n: int = 20) -> DataFrame:
    """Round-up savings (the reference product's round-up-to-a-pot
    feature): for each order, the top-up to the next `unit_cents`
    (default £10); total per customer, top N savers.

    All-integer: cents → (unit − cents mod unit) mod unit → SUM."""
    cents = _cents("o_totalprice")
    roundup = (F.lit(unit_cents) - cents % unit_cents) % unit_cents
    return (
        orders.select("o_custkey", roundup.alias("roundup"))
        .groupBy("o_custkey")
        .agg(
            F.sum("roundup").alias("total_roundup_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .orderBy(F.desc("total_roundup_cents"), "o_custkey")
        .limit(top_n)
    )


def time_weighted_balance(events: DataFrame) -> DataFrame:
    """Time-weighted average of `value` per user: each observation is
    weighted by the whole seconds until the user's next event (last
    event carries no weight — standard step-function TWA, the way an
    interest-bearing balance accrues).

    Integer-exact: value quantized to milli-units, durations in whole
    seconds, one integer division at the end. Σ(value_q·dur_s) stays
    ≪ 2⁶³ for month-scale windows (dur ≤ 2.6e6 s, value_q ≤ ~1e6).
    """
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur_s = (F.lead(us).over(w) - us) / F.lit(1_000_000)
    step = events.select(
        "user_id",
        F.floor(F.col("value") * 1000).alias("value_q"),
        F.floor(dur_s).cast("long").alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return (
        step.groupBy("user_id")
        .agg(
            F.sum(F.col("value_q") * F.col("dur_s")).alias("wsum"),
            F.sum("dur_s").alias("tsum"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
        .filter(F.col("tsum") > 0)
        .select(
            "user_id",
            # floor division regardless of sign (DuckDB's // floors;
            # Spark's DIV truncates — subtracting pmod makes the
            # numerator exactly divisible, so DIV == floor even when
            # an overdrawn balance makes wsum negative)
            F.expr("(wsum - pmod(wsum, tsum)) DIV tsum").alias("twa_value_q"),
            "n_intervals",
        )
    )


def double_charge_flags(
    events: DataFrame, event_type: str = "purchase", max_gap_s: int = 300
) -> DataFrame:
    """Accidental duplicate-charge detection: consecutive `purchase`
    events for the same user within `max_gap_s` seconds — flag the
    later event with its gap. (The reference's dedup_key guards the
    ingest side; this is the analytical screen over the fact table.)

    One window shuffle keyed by user; the type filter pushes to the
    scan."""
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.filter(F.col("event_type") == event_type)
        .select("user_id", "event_id", "ts", us.alias("us"))
        .withColumn("gap_s", (F.col("us") - F.lag("us").over(w)) / F.lit(1_000_000))
    )
    return (
        gaps.filter(F.floor("gap_s").cast("long") <= max_gap_s)
        .select("user_id", "event_id", F.floor("gap_s").cast("long").alias("gap_s"))
    )


def benford_digits(orders: DataFrame) -> DataFrame:
    """First-significant-digit distribution of order amounts (cents) —
    the Benford's-law screen used in financial anomaly detection.
    Counts plus ppm share (integer micro-fraction of total).

    The grand total is a 1-row broadcast scalar (no collect)."""
    digit = F.substring(_cents("o_totalprice").cast("string"), 1, 1).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select("digit", "n", F.expr("(n * 1000000) DIV total").alias("share_ppm"))
        .orderBy("digit")
    )


def spend_trend(orders: DataFrame) -> DataFrame:
    """Per-customer OLS spending trend over monthly totals: the
    closed-form slope numerator/denominator from the moment sums,
    num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² (x = month index,
    y = monthly spend cents). Emitted as the exact integer (num, den)
    pair rather than a quotient: slope sign/compare needs no division
    (den > 0), and Spark's DIV truncates toward zero while DuckDB's
    // floors — dividing would silently diverge on negative slopes.

    x is re-based (mi − 24000, ≈ year 2000) purely to shrink
    intermediate magnitudes; the slope moments are shift-invariant so
    the result is unchanged. Two keyed shuffles total (month agg,
    then customer agg), both partial-aggregated.
    """
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long") - 24000
    monthly = (
        orders.select(
            "o_custkey", mi.alias("x"), _cents("o_totalprice").alias("cents")
        )
        .groupBy("o_custkey", "x")
        .agg(F.sum("cents").alias("y"))
    )
    return (
        monthly.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n_months") >= 2)
        .select(
            "o_custkey",
            "n_months",
            (F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
                "slope_num"
            ),
            (F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
                "slope_den"
            ),
        )
    )


def frequently_bought_together(
    lineitem: DataFrame, min_support: int = 3, top_n: int = 20
) -> DataFrame:
    """Market-basket pair mining: part pairs co-occurring in the same
    order, with support cut and top-N by count — the co-occurrence
    primitive under recommenders ("customers also bought").

    Shape: collect the (bounded ≤ 7-item) basket per order, emit its
    C(k,2) pairs map-side via nested array lambdas, then ONE pair
    count. No self-join — a fact⋈fact join on orderkey would shuffle
    the table twice and explode on hot orders; baskets are bounded by
    schema (order line limit), so per-row work is O(k²) with tiny k.
    """
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.filter(F.size("parts") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("parts") - 1),
                    lambda i: F.transform(
                        F.slice(F.col("parts"), i + 1, F.size("parts") - i),
                        lambda b: F.struct(
                            F.element_at("parts", i).alias("part_a"),
                            b.alias("part_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(top_n)
    )


def ewma_user_values(events: DataFrame) -> DataFrame:
    """Per-user exponentially weighted moving value with α = 1/2 —
    the power-of-two half-life makes every step an exact integer
    halving (acc_new = (acc + value_q) DIV 2), so the smoothed value
    is bit-identical across engines with zero float accumulation.

    One groupBy shuffle; the chronological fold runs map-side over the
    user's sorted event array (bounded by events-per-user). The
    truncating DIV matches on non-negative balances (values ≥ 0 here,
    as in time_weighted_balance).
    """
    ordered = events.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("event_id"),
                    F.floor(F.col("value") * 1000).cast("long").alias("value_q"),
                )
            )
        ).alias("evs")
    )
    # (acc + v) DIV 2 as an arithmetic shift — exact integer halving,
    # floor == truncate on the non-negative domain
    fold = F.aggregate(
        F.col("evs"),
        F.lit(0).cast("long"),
        lambda acc, e: F.shiftright(acc + e["value_q"], 1),
    )
    return ordered.select(
        "user_id",
        fold.alias("ewma_q"),
        F.size("evs").cast("long").alias("n_events"),
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation — the CRM/marketing classic: quartile
    each customer's Recency / Frequency / Monetary value and compose a
    3-digit segment code (e.g. 144 = lapsed big spender). The anchor
    date is the corpus max order date (deterministic — never
    wall-clock), recency in whole days below it.

    The three quartile assignments run through ONE fused
    `exact_ntile_multi` pass (operators/windows.py) — broadcast cut
    pairs, NO global-order window — over the per-customer aggregate,
    which is |customers| rows, not the fact. Fusing collapses the
    r/f/m triple from ~12 driver round-trips to 4 (one stacked
    distinct table serves all three margins); the aggregate is
    persisted so the fact scans exactly once.
    """
    from .windows import exact_ntile_multi

    # r10 (guide §1.2 fewer passes): the anchor is the max over the
    # per-customer maxima, so it reads off the persisted aggregate —
    # the job that fetches it doubles as the cache materializer, and
    # the fact is scanned ONCE instead of twice (anchor pass + agg).
    cust0 = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.unix_seconds(F.col("o_orderdate"))).alias("last_s"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("monetary_cents"),
        )
        .persist()
    )
    anchor_s = cust0.agg(F.max("last_s").alias("a")).collect()[0]["a"]
    if anchor_s is None:  # empty input: anchor is moot, output is empty
        anchor_s = 0
    cust = cust0.select(
        "o_custkey",
        # non-negative by construction → DIV == floor cross-engine
        F.expr(f"({anchor_s} - last_s) DIV 86400").alias("recency_days"),
        "n_orders",
        "monetary_cents",
    )
    # NOTE: cust stays persisted for the returned lazy plan (an
    # explicit unpersist here would evict before the caller's action);
    # the cache is |customers|-sized and Spark reclaims it with the DF.
    out = exact_ntile_multi(
        cust,
        [
            (4, "recency_days", "o_custkey", "r_nt"),
            (4, "n_orders", "o_custkey", "f_nt"),
            (4, "monetary_cents", "o_custkey", "m_nt"),
        ],
    )
    return out.select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary_cents",
        "r_nt",
        "f_nt",
        "m_nt",
        (F.col("r_nt") * 100 + F.col("f_nt") * 10 + F.col("m_nt"))
        .cast("int")
        .alias("segment"),
    )


def reversal_matching(
    events: DataFrame,
    purchase_type: str = "purchase",
    reversal_type: str = "error",
    max_gap_s: int = 86400 * 30,
    unit_scale: int = 1,
) -> DataFrame:
    """Payment-reversal reconciliation screen: for each purchase, the
    EARLIEST later event of `reversal_type` by the same user with the
    same quantized amount (⌊value·unit_scale⌋) within `max_gap_s` —
    the candidate refund/chargeback pairing an ops team reviews. A
    screen, not ledger matching: one reversal may pair with several
    purchases of the same amount (document-reviewed downstream).

    Plan: both sides filter at the scan (type pushdown), equi-join on
    (user, amount) — blocked pair generation, never user×user — with
    the time window as a residual; the earliest-reversal pick is one
    min(struct) aggregate, no window. At 100 TB this is one keyed
    shuffle on (user, amount).
    """
    amt = F.floor(F.col("value") * unit_scale).cast("long")
    us = F.unix_micros("ts")
    p = events.filter(F.col("event_type") == purchase_type).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("p_us"),
        amt.alias("amt"),
    )
    r = events.filter(F.col("event_type") == reversal_type).select(
        "user_id",
        F.col("event_id").alias("reversal_id"),
        us.alias("r_us"),
        amt.alias("amt"),
    )
    j = p.join(r, ["user_id", "amt"]).filter(
        (F.col("r_us") > F.col("p_us"))
        & (F.col("r_us") <= F.col("p_us") + F.lit(max_gap_s * 1_000_000))
    )
    picked = j.groupBy("user_id", "purchase_id", "p_us", "amt").agg(
        F.min(F.struct("r_us", "reversal_id")).alias("m")
    )
    return picked.select(
        "user_id",
        "purchase_id",
        F.col("m.reversal_id").alias("reversal_id"),
        "amt",
        F.expr("(m.r_us - p_us) DIV 1000000").alias("gap_s"),
    )


def gini_concentration(
    keyed_cents: DataFrame,
    value_col: str = "spend_cents",
) -> DataFrame:
    """Exact Gini coefficient of a per-entity value distribution (how
    concentrated spend is across customers — the inequality twin of
    rfm_segments). One row out: (n_keys, total_cents, gini_ppm) with
    gini_ppm = ⌊(2·Σᵢ i·xᵢ − (n+1)·Σx) · 10⁶ / (n·Σx)⌋ over the values
    sorted ascending — all-integer, hash-exact vs a DuckDB window twin.

    NO global-order window and NO per-row rank (the exact_ntile
    lesson, operators/windows.py:154): ties at a value v occupy a
    consecutive rank run whose Σ is closed-form (Rᵥ·cᵥ + cᵥ(cᵥ+1)/2),
    so the statistic needs only the DISTINCT-value table with each
    value's global count-below Rᵥ — attached by the shared
    ``attach_count_below`` primitive (r10: mantissa-refined exponent
    buckets, offsets in-plan — ONE lazy plan, no persist/collect/
    checkpoint; n rides a 1-row broadcast cross join whose Σ branch
    reuses the value-grain exchange). At 100 TB: one groupBy(value)
    on the entity table, one bucketed window over the distinct table
    — nothing fact-proportional past the caller's first agg.
    """
    from .rankstats import attach_count_below

    v = F.col(value_col).cast("long")
    pc = (
        keyed_cents.filter(v.isNotNull())
        .groupBy(v.alias("__x"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    ranked = attach_count_below(pc)
    n1 = pc.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("__n")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # Σ ranks of value v's tie run = Rᵥ·cᵥ + cᵥ(cᵥ+1)/2 — integer
    # (cᵥ·(cᵥ+1) is even), kept in DECIMAL(38,0) so the global sums
    # never overflow int64 at scale
    tie_run = d(F.col("__r")) * d(F.col("__c")) + d(
        F.expr("__c * (__c + 1) DIV 2")
    )
    agg = ranked.crossJoin(F.broadcast(n1)).agg(
        # the cross join leaves zero rows on empty input: coalesce n
        # back to the documented 0 (one row out either way)
        F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("__nk"),
        F.sum(d(F.col("__x")) * d(F.col("__c"))).alias("__s0"),
        F.sum(d(F.col("__x")) * tie_run).alias("__s1"),
    )
    return agg.select(
        F.col("__nk").alias("n_keys"),
        F.col("__s0").cast("long").alias("total_cents"),
        # numerator is provably ≥ 0; a NEGATIVE total would make
        # Spark's truncating DIV and DuckDB's flooring // diverge,
        # and Gini is ill-defined there — emit NULL instead
        F.when(
            F.col("__s0") > 0,
            F.expr(
                "((2 * `__s1` - (CAST(`__nk` AS DECIMAL(38,0)) + 1)"
                " * `__s0`) * 1000000)"
                " DIV (CAST(`__nk` AS DECIMAL(38,0)) * `__s0`)"
            ),
        ).alias("gini_ppm"),
    )


# Benford expected first-digit shares, floor'd to ppm: log10(1+1/d).
# HARDCODED literals (identical in every oracle twin) — computing them
# at runtime would pull libm log10 into a hash-checked output, the one
# cross-engine divergence class these queries are designed to avoid.
_BENFORD_PPM = [
    (1, 301029),
    (2, 176091),
    (3, 124938),
    (4, 96910),
    (5, 79181),
    (6, 66946),
    (7, 57991),
    (8, 51152),
    (9, 45757),
]


def benford_screen(df: DataFrame, amount_col: str) -> DataFrame:
    """Benford's-law first-significant-digit conformance screen over a
    positive integer amount column (quantize money to cents first) —
    the classic fabricated-data / fraud tripwire on a spend ledger.

    Output: one row per digit 1-9 (digits with zero observations
    included): (digit, n_amounts, observed_ppm, expected_ppm,
    dev_ppm = observed − expected, signed). All-integer: the first
    digit comes from the integer's decimal string (substring, not
    log10 — no libm anywhere), shares are exact floor-ppm, and the
    expected shares are hardcoded literals shared with the oracle.

    Plan: one map-side digit projection + one 9-key partial-agg'd
    groupBy, 9-row spine broadcast, 1-row total broadcast — the fact
    table is touched once, nothing driver-side. Empty input → 9 rows
    with n_amounts 0 and NULL ppm (division by a zero total is
    ill-defined; the oracle twin emits the same)."""
    v = F.col(amount_col)
    digits = df.filter(v > 0).select(
        F.substring(v.cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    # r10: `counts` (≤ 9 rows) feeds BOTH the spine join and the total
    # — without a lineage cut each consumer re-executes the fact scan
    # + digit aggregate in its own job (measured 8 jobs per call);
    # the lazy localCheckpoint materializes it once.
    from ..ext.lineage import truncate_lineage

    counts = truncate_lineage(
        digits.groupBy("digit").agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        ),
        eager=False,
    )
    spine = F.broadcast(
        local_frame(df.sparkSession, _BENFORD_PPM, "digit int, expected_ppm bigint")
    )
    total = F.broadcast(
        counts.agg(F.sum("__n").cast("long").alias("__tot"))
    )
    obs = F.when(
        F.col("__tot") > 0,
        F.expr("n_amounts * 1000000 DIV `__tot`"),
    )
    return (
        spine.join(counts, on="digit", how="left")
        .select(
            "digit",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias(
                "n_amounts"
            ),
            "expected_ppm",
        )
        .crossJoin(total)
        .select(
            "digit",
            "n_amounts",
            obs.cast("long").alias("observed_ppm"),
            "expected_ppm",
            (obs - F.col("expected_ppm")).cast("long").alias("dev_ppm"),
        )
        .orderBy("digit")
    )
