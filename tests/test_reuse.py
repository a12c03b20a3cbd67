"""The session-scoped reuse context (``reuse.py``): one fit per artifact
per session, keys that follow the input files, and release of the
blocks an entry owns."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import __spark_entry__ as E
from text_sentiment_classification_hadoop_spark_spark.reuse import (
    PER_KIND,
    ReuseContext,
    fingerprint,
    reuse_context,
)
from text_sentiment_classification_hadoop_spark_spark.sources.tables import table_path

DEFAULT_BPE_BUILDERS = [
    E._pack_sequences_ffd, E._bpe_merges, E._bpe_token_counts,
    E._bpe_vocab_curve, E._bpe_doc_token_counts, E._bpe_fertility,
    E._bpe_merges_roundtrip,
]


@pytest.fixture()
def docs_copy(tmp_path, sf_dir):
    """A private copy of the documents table: its own fingerprint, so
    counts start from a cold entry whatever ran earlier in the session."""
    shutil.copy(table_path("documents", sf_dir), table_path("documents", str(tmp_path)))
    return str(tmp_path)


def _delta(spark, before, kind):
    hits, misses = reuse_context(spark).counts().get(kind, (0, 0))
    h0, m0 = before.get(kind, (0, 0))
    return hits - h0, misses - m0


def test_default_bpe_builders_train_once(spark, docs_copy):
    before = reuse_context(spark).counts()
    for build in DEFAULT_BPE_BUILDERS:
        build(spark, docs_copy).collect()
    assert _delta(spark, before, "bpe_merges") == (6, 1)


def test_bpe_parameter_sets_get_their_own_entries(spark, docs_copy):
    before = reuse_context(spark).counts()
    default = E._bpe_merges(spark, docs_copy).collect()
    batched = E._bpe_merges_batched(spark, docs_copy).collect()
    h16 = E._bpe_merges_headroom16(spark, docs_copy).collect()
    assert _delta(spark, before, "bpe_merges") == (0, 3)
    assert len(h16) == E.BPE_H16_MERGES
    assert E._bpe_merges_batched(spark, docs_copy).collect() == batched
    assert E._bpe_merges(spark, docs_copy).collect() == default
    assert _delta(spark, before, "bpe_merges") == (2, 3)


def test_rewritten_table_is_not_answered_from_the_old_one(spark, sf_dir, tmp_path):
    path = table_path("documents", str(tmp_path))
    spark.read.parquet(table_path("documents", sf_dir)).write.parquet(path)
    before = E.queries()["nb_stats"](spark, str(tmp_path)).collect()[0]
    full = spark.read.parquet(path)
    assert before["tweets_size"] == full.filter("doc_id % 8 NOT IN (0, 5)").count()

    (spark.read.parquet(table_path("documents", sf_dir)).limit(50)
     .write.mode("overwrite").parquet(path))
    fresh = spark.read.parquet(path)
    assert fresh.count() == 50
    after = E.queries()["nb_stats"](spark, str(tmp_path)).collect()[0]
    assert after["tweets_size"] == fresh.filter("doc_id % 8 NOT IN (0, 5)").count()
    assert after["tweets_size"] < before["tweets_size"]


# Registry queries that share one model fit per session, by reuse kind.
MODEL_QUERIES = {
    "mllib_confusion": ["mllib_nb_confusion", "mllib_svm_confusion"],
    "kmeans_codebook": ["kmeans_cells", "kmeans_quality", "cluster_keywords"],
}
# Jobs a build starts besides the fit, so also on a warm call: Spark
# reads a parquet table's footer in a job (kmeans_quality reads the
# embeddings; cluster_keywords reads embeddings and documents).
# ctfidf_keywords' widen() reads the docs-cells join's partition count
# off its plan, so building cluster_keywords runs no broadcast.
WARM_BUILD_JOBS = {"mllib_nb_confusion": 0, "mllib_svm_confusion": 0,
                   "kmeans_cells": 0, "kmeans_quality": 1,
                   "cluster_keywords": 2}


@pytest.fixture()
def tables_copy(tmp_path, sf_dir):
    """Private copies of the documents and embeddings tables."""
    for name in ("documents", "embeddings"):
        shutil.copy(table_path(name, sf_dir), table_path(name, str(tmp_path)))
    return str(tmp_path)


def _no_fit(*_args, **_kwargs):
    raise AssertionError("refit")


@pytest.mark.parametrize("kind", sorted(MODEL_QUERIES))
def test_model_queries_fit_once_per_session(spark, tables_copy, kind, monkeypatch,
                                            jobs_started):
    """Called twice, each query fits at most on its first call: the
    second call's build runs no fit and starts no job beyond the
    build's table reads, and it returns the same rows. The kind counts
    one miss per fit, then hits."""
    from text_sentiment_classification_hadoop_spark_spark.operators import similarity, svm
    before = reuse_context(spark).counts()
    deltas = []
    for name in MODEL_QUERIES[kind]:
        def build(name=name):
            return E.queries()[name](spark, tables_copy)
        first = build().collect()
        deltas.append(_delta(spark, before, kind))
        with monkeypatch.context() as m:
            m.setattr(similarity, "kmeans_fit", _no_fit)
            m.setattr(svm, "mllib_pipeline", _no_fit)
            df, warm_jobs = jobs_started(build)
        assert warm_jobs == WARM_BUILD_JOBS[name], name
        assert df.collect() == first, name
        deltas.append(_delta(spark, before, kind))
    if kind == "mllib_confusion":   # one fit per algorithm
        assert deltas == [(0, 1), (1, 1), (1, 2), (2, 2)]
    else:                           # one fit for the three queries
        assert deltas == [(0, 1)] + [(i, 1) for i in range(1, 6)]


def test_rewritten_embeddings_refit_the_codebook(spark, sf_dir, tmp_path):
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import kmeans_fit
    path = table_path("embeddings", str(tmp_path))
    shutil.copy(table_path("embeddings", sf_dir), path)
    before = reuse_context(spark).counts()
    first = E._kmeans_cells(spark, str(tmp_path)).collect()
    assert E._kmeans_cells(spark, str(tmp_path)).collect() == first
    assert _delta(spark, before, "kmeans_codebook") == (1, 1)

    # without vector 0 the first-8 seed, and so the codebook, changes
    (spark.read.parquet(table_path("embeddings", sf_dir)).filter("vec_id > 0")
     .write.mode("overwrite").parquet(path))
    after = E._kmeans_cells(spark, str(tmp_path)).collect()
    assert _delta(spark, before, "kmeans_codebook") == (1, 2)
    assert after != first
    assert after == kmeans_fit(spark.read.parquet(path)).orderBy("cell_id", "d").collect()


def _cached_rdd_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_clear_and_eviction_release_owned_blocks(spark, sf_dir):
    ctx = ReuseContext(spark.sparkContext.applicationId)
    docs = [table_path("documents", sf_dir)]

    def owned(kind, params):
        return set(ctx._entries[kind][(params, fingerprint(spark, docs))].rdd_ids)

    def frame(n):
        df = spark.range(n * 10).selectExpr("id", "id % 3 AS k").cache()
        df.count()
        return df.groupBy("k").count().localCheckpoint(eager=True)

    for n in range(1, PER_KIND + 1):
        ctx.get(spark, "probe", docs, n, lambda n=n: frame(n))
    # an entry built on top of entry 1 goes when entry 1 goes
    ctx.get(spark, "probe_top", docs, (),
            lambda: ctx.get(spark, "probe", docs, 1, lambda: frame(1))
            .localCheckpoint(eager=True))
    first, top = owned("probe", 1), owned("probe_top", ())
    assert first and top and not first & top
    assert first | top <= _cached_rdd_ids(spark)

    # one more entry than PER_KIND evicts the least recently used: 2,
    # because building probe_top used (and so refreshed) entry 1
    second = owned("probe", 2)
    ctx.get(spark, "probe", docs, PER_KIND + 1, lambda: frame(PER_KIND + 1))
    assert not second & _cached_rdd_ids(spark)
    assert first | top <= _cached_rdd_ids(spark)
    assert ctx.counts() == {"probe": (1, PER_KIND + 1), "probe_top": (0, 1)}

    ctx._evict(spark, "probe", (1, fingerprint(spark, docs)))
    assert not (first | top) & _cached_rdd_ids(spark)
    assert not ctx._entries["probe_top"]

    live = ctx.owned_rdd_ids()
    assert live and live <= _cached_rdd_ids(spark)
    ctx.clear(spark)
    assert not live & _cached_rdd_ids(spark)
    assert not ctx.owned_rdd_ids()


_NEW_SESSION_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from text_sentiment_classification_hadoop_spark_spark.reuse import reused, reuse_context
from text_sentiment_classification_hadoop_spark_spark.session import get_spark
calls = []
def build():
    calls.append(1)
    return len(calls)
paths = [{path!r}]
spark = get_spark(master="local[1]")
first = [reused(spark, "probe", paths, (), build) for _ in range(2)]
spark.stop()
spark = get_spark(master="local[1]")
second = reused(spark, "probe", paths, (), build)
print("RESULT " + json.dumps([first, second, reuse_context(spark).counts()]))
spark.stop()
"""


def test_new_session_starts_with_an_empty_context(sf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _NEW_SESSION_SCRIPT.format(
        repo=repo, path=table_path("documents", sf_dir))
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=300, stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    first, second, counts = json.loads(lines[-1][len("RESULT "):])
    assert first == [1, 1]
    assert second == 2
    assert counts == {"probe": [0, 1]}
