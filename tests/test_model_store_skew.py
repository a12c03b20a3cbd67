"""Model persistence round-trip (S5-S7) and skew utilities."""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
from text_sentiment_classification_hadoop_spark_spark.operators import sentiment as S
from text_sentiment_classification_hadoop_spark_spark.operators.skew import salted_count, salted_join
from text_sentiment_classification_hadoop_spark_spark.sources import model_store as MS


@pytest.fixture(scope="module")
def nb_model(spark, sf_dir):
    train, _ = S.train_test(S.labeled_documents(spark, sf_dir))
    model, _stats = NB.nb_train(train)
    return model


def test_model_roundtrip(spark, nb_model, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("models") / "nb")
    MS.save_model(nb_model, path)
    MS.save_model(nb_model, path)  # S7: overwrite is idempotent
    back = MS.load_model(spark, path)
    # nullability flags may differ after a parquet round-trip; names and
    # types must not
    assert [(f.name, f.dataType) for f in back.schema.fields] \
        == [(f.name, f.dataType) for f in nb_model.schema.fields]
    orig = sorted(nb_model.collect())
    assert sorted(back.collect()) == orig


def test_reference_format_export(spark, nb_model, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("models") / "nb_txt")
    MS.export_reference_format(nb_model, path, fmt="nb")
    lines = spark.read.text(path).collect()
    # word\tpos@neg, word-sorted (NB.java:100-102 layout)
    words = []
    for r in lines:
        word, v = r["value"].split("\t")
        pos, neg = v.split("@")
        int(pos), int(neg)
        words.append(word)
    assert words == sorted(words) and len(words) == nb_model.count()


def test_salted_count_equals_naive(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.functions.tokenize import explode_tokens
    docs = S.labeled_documents(spark, sf_dir)
    toks = explode_tokens(docs, text_col="text").select("word")
    naive = {r["word"]: r["n"] for r in
             toks.groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["word"]: r["n"] for r in salted_count(toks, "word").collect()}
    assert salted == naive


def test_salted_join_equals_naive(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name") \
        .withColumnRenamed("c_custkey", "o_custkey")
    naive = orders.join(cust, "o_custkey").count()
    salted = salted_join(orders, cust, "o_custkey").count()
    assert salted == naive


def test_aqe_skew_join_engages_on_zipf_word_key(spark):
    """SCALE.md §8 closing the loop: the skew
    story claims AQE's runtime skew-join split handles the Zipfian hot
    keys a word-keyed shuffle join produces. Demonstrate it: a corpus
    where one word ("the") carries 90% of rows, shuffle-joined to a
    vocabulary table, must come back with `SortMergeJoin(skew=true)` in
    the EXECUTED plan (AQE only marks the final plan; thresholds are
    lowered to make test-sized partitions register as skewed — at real
    scale the defaults trip on the same shape). Note the split only
    applies when no downstream op needs the join's hash partitioning
    (a groupBy right after would veto it unless forceOptimizeSkewedJoin
    is set) — which is why the assert is on the bare join."""
    from pyspark.sql import functions as F

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "16KB")
        docs = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("the"))
             .otherwise(F.concat(F.lit("w"),
                                 (F.col("id") % 5000).cast("string")))
             .alias("word"),
            F.col("id").alias("doc_id"))
        dim = spark.range(5001).select(
            F.when(F.col("id") == 5000, F.lit("the"))
             .otherwise(F.concat(F.lit("w"), F.col("id").cast("string")))
             .alias("word"),
            (F.col("id") % 7).alias("weight"))
        j = docs.join(dim, "word").select("word", "doc_id", "weight")
        assert j.count() == 200_000  # every word resolves, hot key included
        j.collect()  # finalize THIS DataFrame's adaptive plan
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple")
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
