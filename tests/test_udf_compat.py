"""The pandas_udf escape hatch agrees with the native chains, and the
plan shows Arrow evaluation (not row-at-a-time python)."""

from pathlib import Path

from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.functions.cleaning import clean_chain_a, clean_chain_b
from text_sentiment_classification_hadoop_spark_spark.functions.udf_compat import (
    clean_chain_a_pudf,
    clean_chain_b_pudf,
)
from text_sentiment_classification_hadoop_spark_spark.plans.explain import plan_string
from text_sentiment_classification_hadoop_spark_spark.sources.tweets import read_tweets_naive

FIXTURE = str(Path(__file__).resolve().parents[1] / "fixtures" / "tweets_fixture.csv")


def test_pudf_chains_agree_with_native(spark):
    df = read_tweets_naive(spark, FIXTURE, mode="nb").na.fill({"text": ""})
    out = df.select(
        clean_chain_a(F.col("text")).alias("na"),
        clean_chain_a_pudf(F.col("text")).alias("pa"),
        clean_chain_b(F.col("text")).alias("nb"),
        clean_chain_b_pudf(F.col("text")).alias("pb"),
    )
    bad = out.filter((F.col("na") != F.col("pa")) | (F.col("nb") != F.col("pb"))).count()
    assert bad == 0


def test_pudf_is_arrow_not_row_python(spark):
    df = read_tweets_naive(spark, FIXTURE, mode="nb")
    plan = plan_string(df.select(clean_chain_a_pudf(F.col("text"))))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
