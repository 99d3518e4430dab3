"""Incremental join-view maintenance (pipeline/ivm.py, r8).

The delta rule and the agg-state fold are exact laws under insert-only
updates — tests assert set/bit equality against full recomputation,
including the persisted warehouse lane.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.pipeline import atomic as A
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
from monzo_data_pipeline_spark.pipeline.ivm import (
    join_view_delta,
    maintain_view_state,
    merge_agg_state,
)


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_join_delta_equals_new_minus_old(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k"), "o_totalprice"
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    a_old = a.filter("o_orderkey % 3 != 0")
    a_delta = a.filter("o_orderkey % 3 = 0")
    b_old = b.filter("k % 4 != 0")
    b_delta = b.filter("k % 4 = 0")

    got = join_view_delta(a_old, a_delta, b_old, b_delta, ["k"])
    want = a.join(b, "k").exceptAll(a_old.join(b_old, "k"))
    assert _sorted_rows(got) == _sorted_rows(want)


def test_join_delta_empty_deltas(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k")
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    none_a = a.filter("1 = 0")
    none_b = b.filter("1 = 0")
    assert join_view_delta(a, none_a, b, none_b, ["k"]).count() == 0
    # delta on one side only == that side's join against the other
    only_a = join_view_delta(
        a.filter("o_orderkey % 2 != 0"),
        a.filter("o_orderkey % 2 = 0"),
        b,
        none_b,
        ["k"],
    )
    want = a.filter("o_orderkey % 2 = 0").join(b, "k")
    assert _sorted_rows(only_a) == _sorted_rows(want)


def test_merge_agg_state_any_batching_bit_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_extendedprice").cast("decimal(18,4)").alias("v"),
    )

    def partial(df):
        return df.groupBy("l_orderkey").agg(
            F.sum("v").cast("decimal(28,4)").alias("v"),
            F.count(F.lit(1)).alias("n"),
        )

    one_shot = partial(li)

    state = None
    for i in range(4):
        state = merge_agg_state(
            state,
            partial(li.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == i)),
            ["l_orderkey"],
        )
    assert state.dtypes == one_shot.dtypes  # dtype stable across folds
    assert _sorted_rows(state) == _sorted_rows(one_shot)


def test_maintain_view_state_persisted(spark, sf_dir, tmp_path):
    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.sum("v").cast("decimal(28,2)").alias("v"),
            F.count(F.lit(1)).alias("n"),
        )

    for i in range(3):
        maintain_view_state(
            wh,
            "rev_state",
            partial(orders.filter(F.pmod(F.col("o_custkey"), F.lit(3)) == i)),
            ["o_custkey"],
        )
    got = wh.read("rev_state")
    want = partial(orders)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_maintain_view_state_failed_commit_keeps_state(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A fold whose commit fails (a driver crash before the manifest
    swap) leaves the previous state whole: re-running the batch folds
    it into the full history — it is never folded into nothing, and
    the state is never re-initialized from the partial."""
    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.sum("v").cast("decimal(28,2)").alias("v"),
            F.count(F.lit(1)).alias("n"),
        )

    b0 = orders.filter(F.pmod(F.col("o_custkey"), F.lit(2)) == 0)
    b1 = orders.filter(F.pmod(F.col("o_custkey"), F.lit(2)) == 1)
    maintain_view_state(wh, "rev_state", partial(b0), ["o_custkey"])
    state_b0 = _sorted_rows(wh.read("rev_state"))

    def crash(self):
        raise RuntimeError("driver died before the manifest swap")

    with monkeypatch.context() as m:
        m.setattr(A._Transaction, "_commit", crash)
        with pytest.raises(RuntimeError):
            maintain_view_state(wh, "rev_state", partial(b1), ["o_custkey"])
    assert _sorted_rows(wh.read("rev_state")) == state_b0
    maintain_view_state(wh, "rev_state", partial(b1), ["o_custkey"])
    got = wh.read("rev_state")
    want = partial(orders)
    assert _sorted_rows(got) == _sorted_rows(want)


def test_retraction_folds_out_and_drops_empty_groups(spark):
    from monzo_data_pipeline_spark.pipeline.ivm import negate_partial

    rows = [(1, 10.0), (1, 20.0), (2, 5.0), (3, 7.0)]
    df = spark.createDataFrame(rows, "k int, v double")

    def partial(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("s"),
        )

    state = merge_agg_state(None, partial(df), ["k"])
    # delete one of k=1's rows and ALL of k=2
    dels = spark.createDataFrame([(1, 20.0), (2, 5.0)], "k int, v double")
    state = merge_agg_state(state, negate_partial(partial(dels), ["k"]), ["k"])
    live = {r.k: (r.n, float(r.s)) for r in state.filter("n > 0").collect()}
    assert live == {1: (1, 10.0), 3: (1, 7.0)}
    # dtype stable through negation + fold
    assert dict(state.dtypes)["s"] == "decimal(28,2)"


def test_join_retraction_equals_old_minus_new(spark, sf_dir):
    """The delete-side delta rule is exact: the retracted rows are
    precisely old-join minus survivor-join, for deletes on both
    sides at once."""
    from monzo_data_pipeline_spark.pipeline.ivm import (
        join_view_retraction,
    )

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k"), "o_totalprice"
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    a_del = a.filter("o_orderkey % 3 = 0")
    a_new = a.filter("o_orderkey % 3 != 0")
    b_del = b.filter("k % 4 = 0")
    b_new = b.filter("k % 4 != 0")

    got = join_view_retraction(a_new, a_del, b, b_del, ["k"])
    want = a.join(b, "k").exceptAll(a_new.join(b_new, "k"))
    assert _sorted_rows(got) == _sorted_rows(want)


def test_join_retraction_empty_deltas(spark, sf_dir):
    from monzo_data_pipeline_spark.pipeline.ivm import (
        join_view_retraction,
    )

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k")
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    none_a = a.filter("1 = 0")
    none_b = b.filter("1 = 0")
    assert join_view_retraction(a, none_a, b, none_b, ["k"]).count() == 0
    # deletes on one side only == the deleted side joined to the other
    only_a = join_view_retraction(
        a.filter("o_orderkey % 2 != 0"),
        a.filter("o_orderkey % 2 = 0"),
        b,
        none_b,
        ["k"],
    )
    want = a.filter("o_orderkey % 2 = 0").join(b, ["k"])
    assert _sorted_rows(only_a) == _sorted_rows(want)


def test_join_retraction_folds_into_view_state(spark, sf_dir):
    """Counting-IVM fold over a JOIN view: state built before the
    deletes, retraction partials negated in, count-0 groups dropped
    — bit-exactly the one-shot aggregate over the surviving join."""
    from monzo_data_pipeline_spark.pipeline.ivm import (
        join_view_retraction,
        negate_partial,
    )

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("k"), "o_totalprice"
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )

    def partial(rows):
        return rows.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("s"),
        )

    a_del = a.filter("o_orderkey % 13 = 0")
    a_new = a.filter("o_orderkey % 13 != 0")
    b_del = b.filter("k % 17 = 0")
    b_new = b.filter("k % 17 != 0")

    state = partial(a.join(b, ["k"]))
    retracted = join_view_retraction(a_new, a_del, b, b_del, ["k"])
    state = merge_agg_state(
        state, negate_partial(partial(retracted), ["k"]), ["k"]
    )
    got = state.filter(F.col("n") > 0)
    want = partial(a_new.join(b_new, ["k"]))
    assert _sorted_rows(got) == _sorted_rows(want)
