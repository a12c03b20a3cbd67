"""Session-level behaviour of ``session.get_spark`` (the generated-class
cache size and the dropped-conf warning on an already-live session) and
of ``session.local_frame``'s Arrow and pickled paths, and
``session.widen``'s partition read."""

import datetime
import decimal
import logging

import pytest
from pyspark.errors import ParseException
from pyspark.sql import types as T

from text_sentiment_classification_hadoop_spark_spark import session as S
from text_sentiment_classification_hadoop_spark_spark.plans.explain import plan_string


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


def _local_scan(df) -> bool:
    return "LocalTableScan" in plan_string(df, "simple")


def test_local_frame_nested_rows_plan_as_local_table_scan(spark):
    ddl = ("id long, tags array<string>, attrs map<string, int>, "
           "pt struct<x: double, ys: array<long>>, price decimal(10,2)")
    rows = [(1, ["a", None], {"k": 1, "z": None}, (1.5, [1, 2]),
             decimal.Decimal("3.10")),
            (2, [], {}, None, None),
            (3, None, None, (None, None), decimal.Decimal("-0.01"))]
    # a generator: the rows are materialized once, so the frame is full
    df = S.local_frame(spark, iter(rows), ddl)
    assert _local_scan(df)
    assert df.collect() == spark.createDataFrame(rows, ddl).collect()


@pytest.mark.parametrize("ddl,rows", [
    # no Arrow mapping for timestamps in local_frame
    ("id long, t timestamp",
     [(1, datetime.datetime(2024, 1, 2, 3, 4, 5)), (2, None)]),
    # Spark reads a NULL struct-keyed Arrow map back as {}
    ("m map<struct<a: int>, int>", [({(1,): 1},), (None,)]),
], ids=["timestamp", "struct_key_map"])
def test_local_frame_falls_back_to_pickled_rows(spark, ddl, rows):
    df = S.local_frame(spark, rows, ddl)
    assert not _local_scan(df)
    assert df.collect() == spark.createDataFrame(rows, ddl).collect()


def test_local_frame_zero_rows_keep_declared_schema(spark):
    ddl = "n long, s string, xs array<double>"
    df = S.local_frame(spark, [], ddl)
    assert df.schema == T.StructType.fromDDL(ddl)
    assert df.collect() == []


def test_local_frame_rejects_a_bad_ddl(spark):
    with pytest.raises(ParseException):
        S.local_frame(spark, [(1,)], "a long,,")


def test_widen_reads_a_broadcast_joins_partitions_without_running_it(
        spark, tmp_path, jobs_started):
    """Over a broadcast join whose streamed side is a one-file scan,
    ``widen`` takes the scan's partition count from the plan: it starts
    no job (the broadcast runs when the result is collected, not while
    the query is built) and still spreads the join's output."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "scan.parquet")
    spark.range(0, 64, 1, 1).selectExpr("id % 8 AS k", "id").write.parquet(path)
    scan = spark.read.parquet(path)
    small = spark.range(0, 8).selectExpr("id AS k", "id * 10 AS v")

    def joined():
        return scan.join(F.broadcast(small), "k")
    target = max(2, spark.sparkContext.defaultParallelism)
    wide, jobs = jobs_started(lambda: S.widen(joined(), min_parts=target))
    assert jobs == 0
    assert joined().rdd.getNumPartitions() == 1
    assert wide.rdd.getNumPartitions() == target
    assert sorted(wide.collect()) == sorted(joined().collect())
