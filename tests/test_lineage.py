"""truncate_lineage (ext/lineage.py): reliable checkpoint when the
session has a checkpoint dir, localCheckpoint fallback otherwise —
and identical results either way for the iterative operators."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from monzo_data_pipeline_spark.ext.dedup_fuzzy import near_dup_clusters
from monzo_data_pipeline_spark.ext.lineage import truncate_lineage


def _pairs(spark):
    # two chains + one singleton-free clique: clusters {1..4}, {7,8}, {10,11,12}
    rows = [(1, 2), (2, 3), (3, 4), (7, 8), (10, 11), (11, 12), (10, 12)]
    return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")


EXPECTED = {
    (1, 1), (2, 1), (3, 1), (4, 1),
    (7, 7), (8, 7),
    (10, 10), (11, 10), (12, 10),
}


def test_local_fallback_without_checkpoint_dir(spark):
    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    out = {
        (r.doc_id, r.cluster_id)
        for r in near_dup_clusters(_pairs(spark)).collect()
    }
    assert out == EXPECTED


def test_reliable_checkpoint_used_when_dir_set(
    spark, checkpoint_dir, monkeypatch
):
    # force the DISTRIBUTED loop (r11 added a bounded driver finisher
    # that needs no checkpoints) — this test pins the reliable-
    # checkpoint plumbing the distributed rounds use
    from monzo_data_pipeline_spark.ext import dedup_fuzzy as DF

    monkeypatch.setattr(DF, "CC_DRIVER_FINISH_PAIRS", 0)
    out = {
        (r.doc_id, r.cluster_id)
        for r in near_dup_clusters(_pairs(spark)).collect()
    }
    assert out == EXPECTED
    # the reliable path actually wrote RDD checkpoint files
    found = []
    for root, _, files in os.walk(checkpoint_dir):
        found.extend(files)
    assert found, "no checkpoint files written under the checkpoint dir"


def test_truncate_lineage_preserves_rows(spark, checkpoint_dir):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = truncate_lineage(df)
    assert out.collect() == df.collect()


def test_star_cc_matches_pointer_jumping_on_random_graphs(spark):
    """connected_components_star == near_dup_clusters on random
    graphs: chains (worst case for plain propagation), cliques,
    sparse random, and a mix — both label every node with its
    component minimum."""
    import random

    from monzo_data_pipeline_spark.ext.dedup_fuzzy import (
        connected_components_star,
    )

    rng = random.Random(13)
    cases = []
    # long chain: 0-1-2-...-60
    cases.append([(i, i + 1) for i in range(60)])
    # two cliques + a bridge
    k1 = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    k2 = [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    cases.append(k1 + k2 + [(105, 200)])
    # sparse random
    cases.append(
        [(rng.randrange(0, 300), rng.randrange(0, 300)) for _ in range(150)]
    )
    for rows in cases:
        rows = [(a, b) for a, b in rows if a != b]
        df = spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")
        star = {
            (r.doc_id, r.cluster_id)
            for r in connected_components_star(df).collect()
        }
        plain = {
            (r.doc_id, r.cluster_id)
            for r in near_dup_clusters(df).collect()
        }
        assert star == plain


def test_star_cc_uses_reliable_checkpoint_when_dir_set(
    spark, checkpoint_dir, monkeypatch
):
    import os

    from monzo_data_pipeline_spark.ext import dedup_fuzzy as DF
    from monzo_data_pipeline_spark.ext.dedup_fuzzy import (
        connected_components_star,
    )

    # force the DISTRIBUTED loop (see
    # test_reliable_checkpoint_used_when_dir_set)
    monkeypatch.setattr(DF, "CC_DRIVER_FINISH_PAIRS", 0)
    out = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_star(_pairs(spark)).collect()
    }
    assert out == EXPECTED
    found = []
    for root, _, files in os.walk(checkpoint_dir):
        found.extend(files)
    assert found


def test_star_cc_keeps_self_loop_only_nodes(spark):
    from monzo_data_pipeline_spark.ext.dedup_fuzzy import (
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(1, 2), (9, 9)], "doc_a bigint, doc_b bigint"
    )
    star = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_star(df).collect()
    }
    plain = {
        (r.doc_id, r.cluster_id) for r in near_dup_clusters(df).collect()
    }
    assert star == plain == {(1, 1), (2, 1), (9, 9)}


def test_cc_driver_finish_matches_distributed(spark, monkeypatch):
    """r11: both CC variants gained a bounded union-find driver
    finisher (CC_DRIVER_FINISH_PAIRS collect cap). Force the
    distributed loops by zeroing the cap and assert identical labels
    on a seeded random pair set (exact CC labels are unique)."""
    import random

    from monzo_data_pipeline_spark.ext import dedup_fuzzy as DF
    from monzo_data_pipeline_spark.ext.dedup_fuzzy import (
        connected_components_star,
        near_dup_clusters,
    )

    rng = random.Random(23)
    pairs = sorted(
        {(rng.randrange(40), rng.randrange(40)) for _ in range(50)}
    )
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    drv_p = {(r.doc_id, r.cluster_id) for r in near_dup_clusters(df).collect()}
    drv_s = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_star(df).collect()
    }
    monkeypatch.setattr(DF, "CC_DRIVER_FINISH_PAIRS", 0)
    dist_p = {
        (r.doc_id, r.cluster_id) for r in near_dup_clusters(df).collect()
    }
    dist_s = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_star(df).collect()
    }
    assert drv_p == dist_p == drv_s == dist_s and len(drv_p) > 0
