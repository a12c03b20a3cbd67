"""Session-level behaviour of ``session.get_spark``: the generated-class
cache size and the conf-precedence warning on an already-live session."""

import logging

from text_sentiment_classification_hadoop_spark_spark import session as S


def _compiles(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_keeps_a_repeated_pass_compiled(spark):
    """A pass over 150 distinct plans (more than Spark's default cache
    of 100 classes) must not recompile anything when it is re-run: the
    cache is an LRU, so an undersized one misses on every class of a
    cycle longer than itself."""
    def one_pass():
        for i in range(150):
            # the literals are inlined into the generated source, so
            # every i is a distinct class
            spark.range(0, 8, 1, 1).selectExpr(f"id * {i} + {i} AS v").collect()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) == before


def test_get_spark_warns_when_live_session_drops_conf(spark, caplog):
    """Static confs only apply when get_spark starts the JVM; asking for
    one on a live session returns that session unchanged and says so."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        again = S.get_spark(shuffle_partitions=parts, extra_conf={
            "spark.sql.codegen.cache.maxEntries": "5"})
    assert again is spark
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == cache
    warned = [r.getMessage() for r in caplog.records if r.name == S.__name__]
    assert len(warned) == 1
    assert "spark.sql.codegen.cache.maxEntries" in warned[0]

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        S.get_spark(shuffle_partitions=parts)
    assert not [r for r in caplog.records if r.name == S.__name__]
