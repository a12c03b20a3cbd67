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
