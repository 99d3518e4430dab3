"""Data-quality gates + physical-plan regression tests (the plan
properties PLANS.md documents must not silently regress)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.pipeline import quality as DQ
from monzo_data_pipeline_spark.registry import queries


def test_quality_single_pass_and_enforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    rules = [
        DQ.not_null("o_orderkey"),
        DQ.in_range("o_totalprice", lo=0),
        DQ.accepted_values("o_orderstatus", ["F", "O", "P"]),
    ]
    assert all(v == 0 for v in DQ.check(orders, rules).values())
    DQ.enforce(orders, rules, "orders")  # no raise

    # violations are counted and enforcement raises with rule names
    bad_rule = DQ.in_range("o_totalprice", hi=100)
    counts = DQ.check(orders, rules + [bad_rule])
    assert counts[bad_rule.name] > 0
    with pytest.raises(ValueError, match="in_range"):
        DQ.enforce(orders, [bad_rule], "orders")


def test_unique_key_check(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    assert DQ.unique_key(li, ["l_orderkey", "l_linenumber", "l_partkey"]).count() >= 0
    dups = DQ.unique_key(li, ["l_orderkey"])  # definitely non-unique
    assert dups.count() > 0


def test_pipeline_failure_propagates(spark, tmp_path):
    """The reference swallows transform failures (transform.py:13-16);
    this engine must NOT (SURVEY §7.4): the full silver transform over
    a missing bronze table raises instead of logging-and-continuing."""
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
    from monzo_data_pipeline_spark.pipeline.sql_path import transform_silver_sql

    wh = AtomicWarehouse(spark, str(tmp_path / "empty_wh"))
    with pytest.raises(Exception):
        transform_silver_sql(wh, inserted_at="2025-01-01T00:00:00")


@pytest.mark.parametrize(
    "query,markers",
    [
        ("date_range_filter", ["PushedFilters: [IsNotNull(l_shipdate)", "GreaterThanOrEqual"]),
        ("pricing_summary", ["PushedFilters: [IsNotNull(l_shipdate)", "LessThanOrEqual"]),
        ("fk_star_join", ["BroadcastHashJoin"]),
        ("broadcast_enrich_rates", ["BroadcastHashJoin"]),
        ("top_k_orders", ["TakeOrderedAndProject"]),
        # Q7 shape: both dims must broadcast — the fact shuffles only
        # for the join on orderkey and the final agg.
        ("volume_shipping_q7", ["BroadcastHashJoin"]),
        # exists-fold must plan a semi join, not a full join + distinct
        ("exists_agg_priority", ["LeftSemi"]),
        # Q6: every conjunct reaches the parquet scan
        (
            "forecast_revenue_q6",
            [
                "GreaterThanOrEqual(l_shipdate",
                "LessThan(l_shipdate",
                "GreaterThanOrEqual(l_discount",
                "LessThan(l_quantity",
            ],
        ),
        # Q19: the common p_partkey key carries the join (broadcast);
        # the OR-of-ANDs disjunction survives as a filter, not a
        # cartesian product
        ("disjunctive_revenue_q19", ["BroadcastHashJoin"]),
        # Q11: the fraction-of-total scalar joins as a broadcast, not a
        # driver collect
        ("important_parts_q11", ["BroadcastNestedLoopJoin"]),
        # Q18: the HAVING-gated IN-subquery plans as a semi join
        ("large_volume_customers_q18", ["LeftSemi"]),
        # Q22: NOT EXISTS plans as an anti join
        ("waiting_customers_q22", ["LeftAnti"]),
        # SCD2 lookup: containment rides an equi hash join — a plan
        # with BroadcastNestedLoopJoin would be the O(n·m) failure
        ("scd2_temporal_lookup", ["BroadcastHashJoin"]),
        # BM25: corpus stats and df reach the tf rows as broadcasts
        ("bm25_keyword_search", ["BroadcastHashJoin", "BroadcastNestedLoopJoin"]),
        # stopword filter: the rewrite is map-side off ONE broadcast
        # array row — no per-doc shuffle join
        ("adaptive_stopword_filter", ["BroadcastNestedLoopJoin"]),
        # transitions: exactly the user-key window shuffle + broadcast
        # totals
        ("event_transition_matrix", ["BroadcastHashJoin", "Window"]),
        # equi-depth histogram: cutpoints broadcast; NO global Sort
        # before the bucket agg (ntile's failure shape)
        ("equi_depth_histogram", ["BroadcastNestedLoopJoin"]),
        # KMV state build: the NOT NULL reaches the scan, the distinct
        # partial-aggregates map-side, and the k-smallest is a
        # TakeOrderedAndProject — never a global Sort
        (
            "kmv_distinct_parts",
            ["PushedFilters: [IsNotNull(l_partkey)", "TakeOrderedAndProject"],
        ),
    ],
)
def test_plan_contract(spark, sf_dir, query, markers):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        queries()[query](spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    for marker in markers:
        assert marker in plan, f"{query}: expected {marker!r} in plan"


def test_fuzzy_name_pairs_is_blocked(spark, sf_dir):
    """The edit-distance self-join must NEVER plan an all-pairs
    comparison: Ed-Join q-gram prefix blocking makes every join an
    equi-join on a block key, with levenshtein only as a residual
    filter on candidates (ext/dedup_fuzzy.py::edit_distance_pairs).
    """
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        queries()["fuzzy_name_pairs"](spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_edit_distance_pairs_short_string_completeness(spark):
    """Strings too short for the q-gram bound (t ≤ 0) can be within
    k edits while sharing no gram — the '#SHORT' block must still
    pair them (the completeness edge the prefix filter alone misses).
    """
    from monzo_data_pipeline_spark.ext.dedup_fuzzy import edit_distance_pairs

    names = spark.createDataFrame(
        [("abc",), ("xyz",), ("ab",), ("a" * 30,), ("a" * 29 + "b",)],
        ["nm"],
    )
    got = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in edit_distance_pairs(names, "nm", max_dist=3).collect()
    }
    # brute-force truth
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    vals = ["abc", "xyz", "ab", "a" * 30, "a" * 29 + "b"]
    want = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(sorted(vals), 2)
        if lev(a, b) <= 3
    }
    assert got == want


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """At 100 TB the big win on selective fact⟕dim joins is Spark's
    runtime bloom-filter injection (InjectRuntimeFilter): the small
    (filtered) side builds a bloom sketch and the fact scan drops
    non-matching rows BEFORE the shuffle. Default thresholds
    (creation side ≤ 10 MB, application scan ≥ 10 GB) target cluster
    scale; here we lower the scan threshold to prove the rule fires
    on our join shape — the contract is the shape, not the size."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # keep the build side from broadcasting: bloom injection only
        # helps shuffle joins (broadcast already prunes at the probe)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("qty"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        # and it still computes the right thing
        assert joined.count() == 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_bloom_filter_written_and_readable(spark, tmp_path):
    """write_table(bloom_filter_cols=...) lands per-column bloom
    filters in the parquet files; neither pyarrow 16 nor duckdb 1.0
    surfaces the footer offsets, so verify behaviorally: the bloomed
    copy of identical data carries the (fixed-size) filter bytes, and
    point lookups on the bloomed column still read correctly."""
    import glob
    import os

    from monzo_data_pipeline_spark.sources.io import write_table

    df = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 1_000_003).alias("tx_id"),
        F.col("id").alias("seq"),
    )
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    write_table(df, plain, target_files=2)
    write_table(df, bloomed, target_files=2, bloom_filter_cols=["tx_id"])

    def bytes_of(p: str) -> int:
        return sum(os.path.getsize(f) for f in glob.glob(p + "/*.parquet"))

    # parquet-mr sizes an un-hinted bloom filter at up to 1 MB/row
    # group; identical data, so any meaningful growth IS the filter
    assert bytes_of(bloomed) > bytes_of(plain) + 10_000

    back = spark.read.parquet(bloomed)
    probe = df.limit(1).collect()[0]["tx_id"]
    assert back.filter(F.col("tx_id") == probe).count() >= 1
    assert back.count() == 10_000


def test_projection_prunes_scan(spark, sf_dir):
    """A 4-column projection of lineitem must read 4 columns, not 11."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        queries()["project_cast_stamp"](spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    struct_part = read_schema.split("struct<", 1)[1]
    assert struct_part.count(":") == 4  # 4 fields in the pruned schema

def test_no_python_eval_in_oracle_checked_plans(registry_plans):
    """Global contract: no ORACLE-CHECKED query contains a ROW-LOOP
    Python node (BatchEvalPython/ArrowEvalPython/PythonUDF). The
    sanctioned Python surface is Arrow-batched mapInPandas (a distinct
    MapInPandas node) — the real media decoders and the numpy-matmul
    random projection, all vectorized per batch. Guards against a
    future operator quietly introducing a per-row UDF into a hot
    path."""
    import contextlib
    import io

    offenders = []
    for built in registry_plans:
        frame = built.result()
        if built.spec.oracle is None:
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("extended")
        plan = buf.getvalue()
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "PythonUDF" in plan:
            offenders.append(built.spec.name)
    assert offenders == []


def test_no_unpartitioned_window_in_any_registry_plan(registry_plans):
    """Global contract: NO registry query — oracle-checked or not —
    plans a global-order window (WindowExec with no partition spec),
    neither in the frame it returns nor in any plan it materializes
    while building it (the `registry_plans` fixture watches those).
    ntile_quartiles was the one offender (r2 verdict); it now computes
    broadcast cut pairs instead. A global window moves the entire
    table through ONE task — the canonical 100 TB scale-killer."""
    from conftest import unpartitioned_windows

    offenders: set = set()
    for built in registry_plans:
        if built.windowed or unpartitioned_windows(built.result()):
            offenders.add(built.spec.name)
    assert sorted(offenders) == []


def test_schema_drift_report_and_policy():
    from pyspark.sql import types as T

    from monzo_data_pipeline_spark.pipeline.quality import (
        enforce_schema_policy,
        schema_drift,
    )

    expected = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.LongType()),
            T.StructField("note", T.StringType()),
        ]
    )
    actual = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),  # the §7.1 money bug
            T.StructField("extra", T.StringType()),  # additive
        ]
    )
    report = schema_drift(expected, actual)
    changes = {(r["column"], r["change"]) for r in report}
    assert changes == {
        ("extra", "added"),
        ("note", "removed"),
        ("amount", "type_changed"),
    }
    with pytest.raises(ValueError, match="type_changed"):
        enforce_schema_policy(expected, actual)
    # additive-only drift passes under the default policy
    additive_only = T.StructType(list(expected.fields) + [T.StructField("x", T.IntegerType())])
    assert enforce_schema_policy(expected, additive_only) == [
        {"column": "x", "change": "added", "type": "int"}
    ]



def test_correlation_matrix_exact_and_degenerate(spark):
    from monzo_data_pipeline_spark.pipeline.quality import correlation_matrix

    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (2.0, 4.0, 5.0), (3.0, 6.0, 5.0), (4.0, 8.0, 5.0)],
        "x double, y double, z double",
    )
    out = {
        (r.col_a, r.col_b): r.corr_micro
        for r in correlation_matrix(df, ["x", "y", "z"], scale=100).collect()
    }
    # y = 2x exactly -> corr 1.0 -> 1_000_000 micro
    assert out[("x", "y")] == 1_000_000
    # z is constant -> zero variance -> undefined -> NULL
    assert out[("x", "z")] is None and out[("y", "z")] is None
    # anti-correlated pair
    df2 = spark.createDataFrame(
        [(1.0, 4.0), (2.0, 3.0), (3.0, 2.0), (4.0, 1.0)], "x double, y double"
    )
    o2 = {
        (r.col_a, r.col_b): r.corr_micro
        for r in correlation_matrix(df2, ["x", "y"]).collect()
    }
    assert o2[("x", "y")] == -1_000_000
