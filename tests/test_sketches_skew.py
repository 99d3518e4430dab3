"""Mergeable distinct-state (HLL / bitmap) and salted-join parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.operators import sketches as SK
from monzo_data_pipeline_spark.operators.skew import salted_join


def test_bitmap_distinct_is_exact(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    got = {
        r["event_type"]: r["n_distinct"]
        for r in SK.bitmap_distinct(ev, ["event_type"], "user_id").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_bitmap_state_merge_invariance(spark, sf_dir):
    """state(b1) ⊕ state(b2) == state(b1 ∪ b2), and re-merging the
    same batch is idempotent (OR is idempotent — partial SUM is not)."""
    ev = load_table(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    keys = ["event_type"]

    split = SK.bitmap_merge(
        SK.bitmap_state(b1, keys, "user_id"),
        SK.bitmap_state(b2, keys, "user_id"),
        keys=keys,
    )
    whole = SK.bitmap_state(ev, keys, "user_id")
    norm = lambda st: sorted(map(tuple, SK.bitmap_finalize(st, keys).collect()))
    assert norm(split) == norm(whole)

    # idempotence under duplicate delivery (at-least-once pipelines)
    dup = SK.bitmap_merge(
        split, SK.bitmap_state(b1, keys, "user_id"), keys=keys
    )
    assert norm(dup) == norm(whole)


def test_hll_state_merge_invariance(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    keys = ["event_type"]

    split = SK.hll_merge(
        SK.hll_state(b1, keys, "user_id"),
        SK.hll_state(b2, keys, "user_id"),
        keys=keys,
    )
    whole = SK.hll_state(ev, keys, "user_id")
    norm = lambda st: sorted(map(tuple, SK.hll_finalize(st, keys).collect()))
    assert norm(split) == norm(whole)

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for etype, est in SK.hll_finalize(whole, keys).collect():
        assert abs(est - exact[etype]) <= max(3, 0.05 * exact[etype])


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    salted = (
        salted_join(li, orders, "l_orderkey", "o_orderkey", salt_buckets=8)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
        )
    )
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
        )
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """Every salt bucket of a hot key must receive rows — the salt
    actually sprays (not all rows landing in one bucket)."""
    li = load_table(spark, sf_dir, "lineitem")
    hot = li.limit(2000)  # plenty of rows across orderkeys
    salt = F.pmod(F.xxhash64(*hot.columns), F.lit(8))
    n_buckets = hot.withColumn("__s", salt).select("__s").distinct().count()
    assert n_buckets == 8


def test_cms_estimate_bounds_and_merge(spark, sf_dir):
    """Count-min: estimate >= true count for every key; merged state
    from two batches == state built from the whole; error within the
    ε·N bound for the default 5×2048 sketch at sf0.001 volumes."""
    ev = load_table(spark, sf_dir, "events")
    state = SK.cms_state(ev, "event_type")
    est = {
        r["event_type"]: r["est_count"]
        for r in SK.cms_estimate(
            state, ev.select("event_type"), "event_type"
        ).collect()
    }
    true = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(true.values())
    eps_bound = (2.718281828 / SK.CMS_WIDTH) * n_total
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t)
        assert est[k] <= t + max(eps_bound, 1), (k, est[k], t)

    # batching invariance: state(b1) ⊕ state(b2) == state(whole)
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    merged = SK.cms_merge(SK.cms_state(b1, "event_type"), SK.cms_state(b2, "event_type"))
    whole = sorted(map(tuple, state.collect()))
    assert sorted(map(tuple, merged.collect())) == whole


def test_cms_state_survives_parquet_roundtrip(spark, sf_dir, tmp_path):
    """The maintenance loop a 100 TB pipeline runs: persist sketch
    state, read it back next batch, merge the delta — must equal the
    sketch built from all data at once."""
    ev = load_table(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    path = str(tmp_path / "cms_state")

    SK.cms_state(b1, "event_type").write.mode("overwrite").parquet(path)
    restored = spark.read.parquet(path)
    merged = SK.cms_merge(restored, SK.cms_state(b2, "event_type"))
    whole = SK.cms_state(ev, "event_type")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_salted_topk_equals_plain_topk_on_hot_group(spark):
    from monzo_data_pipeline_spark.operators.windows import salted_topk_per_group

    # one hot group with 5000 rows, several small groups
    rows = [("hot", float(i % 997), i) for i in range(5000)] + [
        (f"g{g}", float(i), 10_000 + g * 100 + i) for g in range(5) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "k string, v double, id bigint")
    # plain single-window form with the same (v DESC, id ASC) order
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("id").asc())
    plain = {
        (r.k, r.id, r.rank_in_group)
        for r in df.withColumn("rank_in_group", F.row_number().over(w))
        .filter("rank_in_group <= 7")
        .collect()
    }
    salted = {
        (r.k, r.id, r.rank_in_group)
        for r in salted_topk_per_group(df, ["k"], "v", "id", n=7, salt_buckets=16).collect()
    }
    assert salted == plain


def test_exact_ntile_matches_window_ntile(spark):
    """exact_ntile (broadcast cut pairs, no global window) must be
    bit-identical to ntile() OVER a global order — including heavy
    ties, N not divisible by n, and N < n."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from monzo_data_pipeline_spark.operators.windows import exact_ntile

    cases = [
        # (values, n_buckets): heavy ties around every boundary
        ([5.0] * 37 + [1.0] * 13 + [9.0] * 50, 4),
        # uneven N % n with distinct values
        ([float(i % 53) for i in range(101)], 7),
        # fewer rows than buckets
        ([2.0, 1.0, 3.0], 5),
        # single distinct value (degenerate range bucketing)
        ([4.2] * 25, 4),
    ]
    for vals, nb in cases:
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], "v double, id bigint"
        )
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        plain = {
            (r.id, r.nt)
            for r in df.withColumn("nt", F.ntile(nb).over(w)).collect()
        }
        got = {
            (r.id, r.nt)
            for r in exact_ntile(df, nb, "v", "id", range_buckets=8).collect()
        }
        assert got == plain, f"mismatch for case n={nb}"


def test_exact_ntile_empty_input(spark):
    from monzo_data_pipeline_spark.operators.windows import exact_ntile

    df = spark.createDataFrame([], "v double, id bigint")
    assert exact_ntile(df, 4, "v", "id").count() == 0


def test_exact_ntile_single_bucket_and_validation(spark):
    from monzo_data_pipeline_spark.operators.windows import exact_ntile

    df = spark.createDataFrame([(1.0, 1), (2.0, 2)], "v double, id bigint")
    # ntile(1): every row in bucket 1, no jobs needed
    assert {r.nt for r in exact_ntile(df, 1, "v", "id").collect()} == {1}
    import pytest as _pt

    with _pt.raises(ValueError):
        exact_ntile(df, 0, "v", "id")


def test_exact_ntile_extreme_long_domain_no_overflow(spark):
    """Value domains where hi - lo exceeds int64 must not wrap in the
    range-bucket expression (non-ANSI long subtraction is silent):
    buckets would lose monotonicity and the boundary cuts — hence the
    ntile assignments — would be wrong. The subtraction now runs in
    double, where the coarse 256-way bucket tolerates precision loss."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from monzo_data_pipeline_spark.operators.windows import exact_ntile

    lo, hi = -(2**62), 2**62  # hi - lo = 2**63 > int64 max
    vals = [lo, lo + 1, -5, 0, 7, hi - 1, hi, lo // 2, hi // 2, 42]
    df = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(vals)], "v bigint, id bigint"
    )
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    plain = {
        (r.id, r.nt) for r in df.withColumn("nt", F.ntile(4).over(w)).collect()
    }
    got = {
        (r.id, r.nt)
        for r in exact_ntile(df, 4, "v", "id", range_buckets=8).collect()
    }
    assert got == plain


def test_exact_ntile_multi_matches_chained_single(spark):
    """exact_ntile_multi (one stacked pass for k assignments) must be
    bit-identical to k chained exact_ntile calls — heavy ties, uneven
    N % n, single-distinct degenerate columns, and ntile(1) specs."""
    import random

    from monzo_data_pipeline_spark.operators.windows import (
        exact_ntile,
        exact_ntile_multi,
    )

    rng = random.Random(7)
    rows = [
        (
            i,
            rng.randrange(0, 12),        # heavy ties
            rng.randrange(-500, 500),    # wide-ish domain
            3,                           # single distinct value
        )
        for i in range(137)
    ]
    df = spark.createDataFrame(rows, "id bigint, a int, b bigint, c int")
    specs = [
        (4, "a", "id", "a_nt"),
        (7, "b", "id", "b_nt"),
        (5, "c", "id", "c_nt"),
        (1, "a", "id", "one_nt"),
    ]
    want = df
    for nb, vc, tc, oc in specs:
        want = exact_ntile(want, nb, vc, tc, out_col=oc, range_buckets=8)
    got = exact_ntile_multi(df, specs, range_buckets=8)
    wset = {tuple(r) for r in want.collect()}
    gset = {tuple(r) for r in got.collect()}
    assert got.columns == want.columns
    assert gset == wset


def test_exact_ntile_multi_empty_and_validation(spark):
    import pytest as _pt

    from monzo_data_pipeline_spark.operators.windows import exact_ntile_multi

    df = spark.createDataFrame([], "v bigint, id bigint")
    out = exact_ntile_multi(df, [(4, "v", "id", "nt")])
    assert out.count() == 0
    assert "nt" in out.columns
    df2 = spark.createDataFrame([(1, 1)], "v bigint, id bigint")
    with _pt.raises(ValueError):
        exact_ntile_multi(df2, [(0, "v", "id", "nt")])
    # no specs: identity
    assert exact_ntile_multi(df2, []).columns == df2.columns


def test_exact_ntile_multi_rejects_null_values(spark, jobs_in):
    """A NULL value has no position in the ntile order: it raises,
    naming the column, instead of leaving its row out of the buckets.
    The check reads the per-(spec, bucket) collect, so it adds no job:
    a failing call runs fewer eager jobs than a clean one."""
    import pytest as _pt

    from monzo_data_pipeline_spark.operators.windows import exact_ntile_multi

    rows = [(i, i, i if i != 5 else None) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "id bigint, a bigint, b bigint")
    specs = [(4, "a", "id", "a_nt"), (4, "b", "id", "b_nt")]
    with _pt.raises(ValueError, match="'b' holds NULL"):
        jobs_in("ntile-null", lambda: exact_ntile_multi(df, specs))
    failed = spark.sparkContext.statusTracker().getJobIdsForGroup("ntile-null")
    # the same input with the NULL filled runs that collect and more
    clean = df.fillna(0, subset=["b"])
    _, ok = jobs_in("ntile-clean", lambda: exact_ntile_multi(clean, specs))
    assert 0 < len(failed) < len(ok)
    # an ntile(1) spec needs no order: NULLs there are fine
    out = exact_ntile_multi(df, [(1, "b", "id", "b_nt")]).collect()
    assert {r.b_nt for r in out} == {1}


def test_exact_ntile_multi_rejects_fractional_value_columns(spark):
    import pytest as _pt

    from monzo_data_pipeline_spark.operators.windows import exact_ntile_multi

    df = spark.createDataFrame([(1.5, 1)], "v double, id bigint")
    with _pt.raises(TypeError, match="integer-typed"):
        exact_ntile_multi(df, [(4, "v", "id", "nt")])


# --- deterministic count-min (r9) -------------------------------------------


def test_cms_det_estimate_dominates_true_counts(spark, sf_dir):
    """CMS point estimates are guaranteed >= the true count for EVERY
    key (cells only over-count), and exact for the heavy keys at this
    width/cardinality."""
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.catalog import load_table
    from monzo_data_pipeline_spark.operators.sketches import (
        cms_estimate_det,
        cms_state_det,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    state = cms_state_det(li, "l_partkey")
    true = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("t")
    )
    est = cms_estimate_det(state, true.select("k"), "k")
    joined = est.join(true, "k")
    assert joined.filter(F.col("est_count") < F.col("t")).count() == 0
    # total state is bounded: at most d*w counter rows
    assert state.count() <= 4 * 512


def test_cms_det_merge_law_state_equality(spark, sf_dir):
    """Counter addition merges state EXACTLY: half+half == one-shot,
    row-for-row."""
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.catalog import load_table
    from monzo_data_pipeline_spark.operators.sketches import (
        cms_merge,
        cms_state_det,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    whole = cms_state_det(o, "o_custkey")
    merged = cms_merge(
        cms_state_det(o.filter("o_orderkey % 2 = 0"), "o_custkey"),
        cms_state_det(o.filter("o_orderkey % 2 != 0"), "o_custkey"),
    )
    a = sorted(tuple(r) for r in whole.collect())
    b = sorted(tuple(r) for r in merged.collect())
    assert a == b


def test_cms_det_nulls_and_missing_probe(spark):
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.operators.sketches import (
        cms_estimate_det,
        cms_state_det,
    )

    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,)], "k long"
    )
    state = cms_state_det(df, "k")
    # NULL keys are excluded from the state
    assert state.agg(F.sum("cnt")).collect()[0][0] == 3 * 4
    probes = spark.createDataFrame([(1,), (99,)], "k long")
    got = {
        r.k: r.est_count
        for r in cms_estimate_det(state, probes, "k").collect()
    }
    assert got[1] >= 2
    # a never-seen key can only collide upward from 0
    assert got[99] >= 0


def test_cms_det_negative_keys_cross_engine(spark, tmp_path):
    """r10: NEGATIVE integer keys hash to the same cells in both
    engines — Spark uses pmod (non-negative) while bare SQL `%` is
    sign-preserving, so the oracle twin folds with ((x%P)+P)%P.
    Before the fix the two engines placed negative keys in different
    cells (gate-invisible because TPC-H keys are positive)."""
    import duckdb
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.operators.sketches import (
        cms_det_oracle_sql,
        cms_estimate_det,
        cms_state_det,
    )

    rows = [(k,) for k in range(-200, 50)] + [(-7,)] * 9 + [(None,)]
    df = spark.createDataFrame(rows, "k long")
    pq = str(tmp_path / "neg_keys.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(pq)

    probes = spark.createDataFrame(
        [(-7,), (-200,), (-1,), (49,)], "k long"
    )
    est = cms_estimate_det(cms_state_det(df, "k"), probes, "k")
    spark_got = {r.k: r.est_count for r in est.collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW src AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    sql = cms_det_oracle_sql(
        "src",
        "k",
        "SELECT UNNEST([-7, -200, -1, 49]) AS k",
    )
    duck_got = {
        k: est for k, _t, est in con.execute(sql).fetchall()
    }
    assert spark_got == duck_got
    assert spark_got[-7] >= 10


# --- deterministic Bloom filter (r9) -----------------------------------------


def test_bloom_no_false_negatives_and_bounded_state(spark, sf_dir):
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.catalog import load_table
    from monzo_data_pipeline_spark.operators.sketches import (
        bloom_probe,
        bloom_state,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    state = bloom_state(cust, "c_custkey")
    assert state.count() <= 65536 // 64
    # every inserted key passes its own filter
    passed = bloom_probe(state, cust, "c_custkey")
    assert passed.count() == cust.count()


def test_bloom_merge_is_union(spark):
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.operators.sketches import (
        bloom_merge,
        bloom_state,
    )

    a = spark.createDataFrame([(i,) for i in range(100)], "k long")
    b = spark.createDataFrame(
        [(i,) for i in range(100, 200)], "k long"
    )
    both = a.unionByName(b)
    merged = bloom_merge(
        bloom_state(a, "k"), bloom_state(b, "k")
    )
    whole = bloom_state(both, "k")
    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        tuple(r) for r in whole.collect()
    )


def test_bloom_false_positive_rate_sane(spark):
    from monzo_data_pipeline_spark.operators.sketches import (
        bloom_probe,
        bloom_state,
    )

    build = spark.createDataFrame(
        [(i,) for i in range(2000)], "k long"
    )
    probe = spark.createDataFrame(
        [(i,) for i in range(1_000_000, 1_010_000)], "k long"
    )
    state = bloom_state(build, "k")
    fp = bloom_probe(state, probe, "k").count()
    # n=2000, m=65536, k=4 -> fp ~ (1-e^-0.122)^4 ~ 0.02%; allow 10x
    assert fp <= 25


# --- A-ES weighted reservoir sampling (r10) ----------------------------------


def test_ares_merge_law_state_equality(spark, sf_dir):
    """merge(state(A), state(B)) == state(A ∪ B), row-for-row — the
    KMV bottom-k law: the priority is a pure function of (key,
    weight), so partial states compose exactly. Checked on a
    disjoint split AND an overlapping split."""
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.catalog import load_table
    from monzo_data_pipeline_spark.operators.sketches import (
        ares_merge,
        weighted_sample_ares,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("w"),
    )
    whole = weighted_sample_ares(o, "o_orderkey", "w", n=64)
    for pred_a, pred_b in [
        ("o_orderkey % 2 = 0", "o_orderkey % 2 != 0"),   # disjoint
        ("o_orderkey % 3 != 0", "o_orderkey % 3 != 1"),  # overlapping
    ]:
        merged = ares_merge(
            weighted_sample_ares(o.filter(pred_a), "o_orderkey", "w", n=64),
            weighted_sample_ares(o.filter(pred_b), "o_orderkey", "w", n=64),
            n=64,
        )
        a = [tuple(r) for r in whole.collect()]
        b = [tuple(r) for r in merged.collect()]
        assert a == b


def test_ares_selection_tracks_weight(spark):
    """Weight-proportionality smoke: with two weight classes (1 vs
    100) over 2000 keys, the heavy class must dominate the sample
    far beyond its 50% population share."""
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.operators.sketches import (
        weighted_sample_ares,
    )

    df = spark.createDataFrame(
        [(i, 100 if i % 2 == 0 else 1) for i in range(2000)],
        "k long, w long",
    )
    got = weighted_sample_ares(df, "k", "w", n=100)
    heavy = got.filter(F.col("key") % 2 == 0).count()
    assert heavy > 80  # expected ≈ 99; far above the 50% base rate


def test_ares_excludes_null_and_nonpositive_weights(spark):
    from monzo_data_pipeline_spark.operators.sketches import (
        weighted_sample_ares,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -4), (4, None), (None, 9), (5, 1)],
        "k long, w long",
    )
    got = weighted_sample_ares(df, "k", "w", n=10).collect()
    assert sorted(r.key for r in got) == [1, 5]


def test_aqe_skew_join_split_fires(spark, tmp_path):
    """r10 plan contract: on a deliberately hot-keyed SortMergeJoin,
    AQE's skew-join optimization must actually split the hot
    partition (the executed plan's SMJ carries skew=true) and the
    result must equal the skew-off run. Thresholds are lowered to
    make the local shuffle sizes trip the same detector a 100 TB
    cluster trips at its defaults (256 MB / factor 5)."""
    import pyspark.sql.functions as F

    # key 0: 400k rows; 200 cold keys: 2k rows each
    hot = spark.range(0, 400_000).select(
        F.lit(0).alias("k"), (F.col("id") % 997).alias("v")
    )
    cold = spark.range(0, 400_000).select(
        (F.col("id") % 200 + 1).alias("k"), (F.col("id") % 997).alias("v")
    )
    big_path = str(tmp_path / "skew_big")
    dim_path = str(tmp_path / "skew_dim")
    hot.unionByName(cold).write.parquet(big_path)
    spark.range(0, 201).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("w")
    ).write.parquet(dim_path)
    big, dim = spark.read.parquet(big_path), spark.read.parquet(dim_path)

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        j = big.join(dim, "k").selectExpr("sum(v * w) AS s")
        got = j.collect()[0][0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        j2 = big.join(dim, "k").selectExpr("sum(v * w) AS s")
        want = j2.collect()[0][0]
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in plan2
        assert got == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
