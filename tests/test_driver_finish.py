"""The bounded driver finish shared by the iterative operators
(ext/lineage.py::collect_if_small): NULL ids are dropped identically on
the driver and distributed paths, an input over the cap is executed
once, and no call leaves a cache behind."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.ext import bpe as B
from monzo_data_pipeline_spark.ext import dedup_fuzzy as DF
from monzo_data_pipeline_spark.ext import graph as G
from monzo_data_pipeline_spark.ext import search as SRCH
from monzo_data_pipeline_spark.ext.lineage import collect_if_small


def _force_distributed(monkeypatch) -> None:
    for mod, cap in (
        (G, "ITER_DRIVER_FINISH_NODES"),
        (G, "ITER_DRIVER_FINISH_EDGES"),
        (DF, "CC_DRIVER_FINISH_PAIRS"),
        (B, "BPE_DRIVER_FINISH_WORDS"),
    ):
        monkeypatch.setattr(mod, cap, 0)


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _graph(spark):
    rng = random.Random(5)
    edges = sorted(
        {(rng.randrange(10), rng.randrange(10), rng.randint(1, 9)) for _ in range(30)}
    )
    edges = [(s, d, w) for s, d, w in edges if s != d]
    edges += [(None, 1, 4), (2, None, 5), (3, 4, None)]
    nodes = spark.createDataFrame(
        [(n,) for n in range(10)] + [(None,)], "node long"
    )
    return nodes, spark.createDataFrame(edges, "src long, dst long, w long")


def _pairs(spark):
    rows = [(1, 2), (2, 3), (5, 6), (7, 7), (1, None), (None, 8), (None, None)]
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def _documents(spark):
    return spark.createDataFrame(
        [(1, "low lower lowest new newer"), (2, None), (3, "new low wide wider")],
        "doc_id long, text string",
    )


def _seeds(spark):
    return spark.createDataFrame([(0,), (3,), (None,)], "node long")


def _hits(spark):
    _, e = _graph(spark)
    hubs, auth = G.hits_bipartite(e)
    return _rows(hubs) + [("auth",)] + _rows(auth)


OPERATORS = {
    "pagerank": lambda spark, forced: _rows(G.pagerank(*_graph(spark))),
    "personalized_pagerank": lambda spark, forced: _rows(
        G.personalized_pagerank(*_graph(spark), _seeds(spark))
    ),
    "sssp": lambda spark, forced: _rows(
        G.sssp(_seeds(spark), _graph(spark)[1], max_rounds=6)
    ),
    "strongly_connected_components": lambda spark, forced: _rows(
        G.strongly_connected_components(
            _graph(spark)[1], 8, 40, **({"driver_finish_nodes": 0} if forced else {})
        )
    ),
    "hits_bipartite": lambda spark, forced: _hits(spark),
    "textrank_keywords": lambda spark, forced: _rows(
        SRCH.textrank_keywords(_documents(spark))
    ),
    "bpe_merges": lambda spark, forced: _rows(
        B.bpe_merges(_documents(spark), n_merges=4)
    ),
    "near_dup_clusters": lambda spark, forced: _rows(
        DF.near_dup_clusters(_pairs(spark))
    ),
    "connected_components_star": lambda spark, forced: _rows(
        DF.connected_components_star(_pairs(spark))
    ),
}


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_null_ids_agree_on_driver_and_distributed_paths(spark, monkeypatch, op):
    """Every input holds a NULL id. The driver finisher (caps at their
    defaults) and the distributed rounds (caps forced to 0) must return
    the same rows: both drop the NULL ids."""
    run = OPERATORS[op]
    driver = run(spark, False)
    _force_distributed(monkeypatch)
    distributed = run(spark, True)
    assert driver == distributed and len(driver) > 0
    assert all(None not in row for row in driver)


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _counting(spark, df, col: str, dtype: str):
    """``df`` with ``col`` routed through a UDF that counts every row
    evaluation. Nondeterministic, so the optimizer never copies the UDF
    into a pushed-down filter: the count is plan executions, not
    expression copies."""
    acc = spark.sparkContext.accumulator(0)

    def tick(v):
        acc.add(1)
        return v

    udf = F.udf(tick, dtype).asNondeterministic()
    return df.withColumn(col, udf(col)), acc


OVER_CAP = {
    "near_dup_clusters": (
        DF, "CC_DRIVER_FINISH_PAIRS", lambda df: DF.near_dup_clusters(df).collect()
    ),
    "connected_components_star": (
        DF,
        "CC_DRIVER_FINISH_PAIRS",
        lambda df: DF.connected_components_star(df).collect(),
    ),
    "bpe_train": (
        B, "BPE_DRIVER_FINISH_WORDS", lambda df: B._train(df, "text", 3)[1].collect()
    ),
}


@pytest.mark.parametrize("op", sorted(OVER_CAP))
def test_over_cap_input_runs_once_and_leaks_no_cache(
    spark, monkeypatch, checkpoint_dir, op
):
    """An input over the cap is one shuffle stage (the word count, or a
    distinct() over the pairs), so a bounded read must run all of it:
    the distributed path must then reuse it, not run it again. With
    reliable checkpoints no RDD is persisted on purpose, so any new
    persistent RDD after a call is a leaked cache."""
    mod, cap, run = OVER_CAP[op]
    if op == "bpe_train":
        words = [f"w{i}x{i % 7}" for i in range(40)]
        rows = [(i, " ".join(words[i : i + 5])) for i in range(30)]
        raw = spark.createDataFrame(rows, "doc_id long, text string")
        col, dtype, dedup = "text", "string", False
    else:
        rng = random.Random(3)
        rows = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(40)})
        raw = spark.createDataFrame(rows, "doc_a long, doc_b long")
        col, dtype, dedup = "doc_a", "long", True
    for cap_value in (getattr(mod, cap), 2):  # driver path, then over the cap
        monkeypatch.setattr(mod, cap, cap_value)
        df, evaluated = _counting(spark, raw, col, dtype)
        if dedup:
            df = df.distinct()
        before = _persistent_rdd_ids(spark)
        assert len(run(df)) > 0
        assert evaluated.value == len(rows), (cap_value, evaluated.value)
        assert _persistent_rdd_ids(spark) - before == set()


def test_collect_if_small_contract(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, None), (4, "d")], "k long, v string"
    )
    before = _persistent_rdd_ids(spark)
    with collect_if_small(df, 2, ["k", "v"]) as (rows, cached):
        assert sorted(rows) == [(1, "a"), (4, "d")]
    with collect_if_small(df, 1, ["k"]) as (rows, cached):
        assert rows is None
        assert cached.count() == 3  # NULL keys dropped, cache reusable
    assert _persistent_rdd_ids(spark) - before == set()
