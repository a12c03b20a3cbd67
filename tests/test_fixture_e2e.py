"""Golden end-to-end compat runs on the committed tweets fixture
(SURVEY.md §5.2 item 2): exact confusion-matrix counts for the
NB-compat and effective-SVM-compat pipelines, plus the six NB scalar
stats — any change to parse/clean/train/score semantics breaks these.

Goldens were computed once from the committed fixture
(fixtures/tweets_fixture.csv) and are asserted literally; they are NOT
derived from the code under test at runtime.
"""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.functions.cleaning import clean_chain_a, clean_chain_b
from text_sentiment_classification_hadoop_spark_spark.operators import metrics as M
from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
from text_sentiment_classification_hadoop_spark_spark.operators import svm as SVM
from text_sentiment_classification_hadoop_spark_spark.sources.tweets import label_col, read_tweets_naive

REPO = Path(__file__).resolve().parents[1]
FIXTURE = str(REPO / "fixtures" / "tweets_fixture.csv")


@pytest.fixture(scope="module")
def nb_docs(spark):
    # NB pairing: naive stitch parse + chain A, label recode P6;
    # NULL text (the <4-field row) becomes empty — reference NB would
    # crash there (documented divergence in sources.tweets)
    return read_tweets_naive(spark, FIXTURE, mode="nb").select(
        F.col("tweet_id").alias("doc_id"), label_col().alias("label"),
        clean_chain_a(F.col("text")).alias("text")).na.fill({"text": ""})


def test_nb_compat_golden_confusion(spark, nb_docs):
    model, stats = NB.nb_train(nb_docs)
    scored = NB.nb_score(nb_docs, model, stats)
    got = sorted((r["prediction"], r["label"], r["cnt"])
                 for r in M.confusion_matrix(scored).collect())
    assert got == [(0.0, 0.0, 17), (0.0, 1.0, 1), (1.0, 1.0, 14)]


def test_nb_golden_stats(spark, nb_docs):
    model, stats = NB.nb_train(nb_docs)
    assert (stats.tweets_size, stats.pos_tweets_size, stats.neg_tweets_size,
            stats.pos_words_size, stats.neg_words_size, stats.features_size) \
        == (32, 15, 17, 61, 68, 96)


def test_svm_compat_golden_confusion(spark):
    # SVM-Hadoop pairing: truncate parse (drops the short row) + chain B
    docs = read_tweets_naive(spark, FIXTURE, mode="svm").select(
        F.col("tweet_id").alias("doc_id"), label_col().alias("label"),
        clean_chain_b(F.col("text")).alias("text"))
    w = SVM.svm_effective_train(docs)
    scored = SVM.svm_score(docs, w)
    got = sorted((r["prediction"], r["label"], r["cnt"])
                 for r in M.confusion_matrix(scored).collect())
    assert got == [(0.0, 0.0, 15), (1.0, 0.0, 1), (1.0, 1.0, 15)]


def test_bench_headline_names_resolve_in_registry():
    """Every bench headline name must be a live queries() key — a
    registry rename must fail HERE, not in the driver's bench run."""
    import importlib.util

    import __spark_entry__ as entry
    spec = importlib.util.spec_from_file_location(
        "bench_mod", REPO / "bench.py")
    bench_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_mod)
    qs = set(entry.queries())
    missing = [n for n in bench_mod.HEADLINE_QUERIES if n not in qs]
    assert not missing, missing
    assert len(set(bench_mod.HEADLINE_QUERIES)) == len(bench_mod.HEADLINE_QUERIES)
