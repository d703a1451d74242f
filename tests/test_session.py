"""Session construction: the generated-code cache holds a warm pass."""

from __future__ import annotations

from pyspark.sql import functions as F

from elb_log_to_mysql_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_build_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_corpus_pass_reuses_compiled_classes(spark, sf_dir):
    """The four batch corpus cells, run a second time in the same
    session, find their generated classes in the cache instead of
    recompiling them (Spark's 100-entry default recompiled ~250)."""
    from elb_log_to_mysql_spark.operators import dedup, similarity
    from elb_log_to_mysql_spark.queries import QUERIES
    from elb_log_to_mysql_spark.sources.tables import load_table

    def corpus_pass():
        QUERIES["ngram_jaccard"](spark, sf_dir).collect()
        dedup.near_dedup_minhash(load_table(spark, sf_dir, "documents")).collect()
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.similarity_topk_lsh(
            emb, emb.filter(F.col("vec_id") < 20), k=10, n_planes=3, n_tables=24
        ).collect()
        QUERIES["corpus_pipeline"](spark, sf_dir).collect()

    corpus_pass()
    before = _compiles(spark)
    corpus_pass()
    assert _compiles(spark) - before <= 5
