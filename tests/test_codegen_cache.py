"""The session's compiled-class cache holds a whole curation pass: run
twice over the same inputs, the second pass compiles no class."""

from __future__ import annotations

from pyspark.sql import functions as F

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.ext import dedup_fuzzy, search, similarity
from monzo_data_pipeline_spark.registry import specs


def _curation_pass(spark, sf_dir):
    """The five steps of a corpus curation pass, each collected."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    quality = next(s for s in specs() if s.name == "quality_scores")
    dedup_fuzzy.clean_corpus(docs).select("doc_id").collect()
    dedup_fuzzy.simhash_near_dup_pairs(docs).collect()
    quality.fn(spark, sf_dir).collect()
    search.bm25_scores(docs, top_k=20).collect()
    similarity.knn_join(emb, queries, k=3).collect()


def test_second_curation_pass_compiles_nothing(spark, sf_dir):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    _curation_pass(spark, sf_dir)
    before = compiles.getCount()
    _curation_pass(spark, sf_dir)
    assert compiles.getCount() - before == 0
