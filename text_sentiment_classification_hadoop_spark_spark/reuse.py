"""Session-scoped reuse of trained artifacts and shared frames.

Several registry queries start from the same intermediate: the cleaned,
labeled corpus, the NB model, the default BPE merge list, the unigram
vocab, the declared-SVM weights. Every query stays independently
callable. The first call in a session builds the artifact, and later
calls with the same inputs and parameters get the same object back.
This is the in-memory reuse between jobs that the reference's report
credits for Spark's gain over MapReduce (report §4.2 p.23), made
explicit: one context per SparkContext instead of ad-hoc module globals.

An entry's key is
- its kind, one name per artifact (``"bpe_merges"``);
- the trainer's parameters (any hashable value);
- a fingerprint of its input tables: ``(path, length, modification
  time)`` of every file under each input path, read from the Hadoop
  FileSystem listing, so computing it runs no Spark job. A table
  rewritten during the session gets a new key and is never answered
  from the old data.

Each kind keeps at most :data:`PER_KIND` entries; the least recently
used one is evicted. An entry owns the RDDs its build persisted
(checkpoints, caches) that no nested entry claimed. Eviction and
:meth:`ReuseContext.clear` unpersist them through the JVM RDD handle. An
entry whose build used another entry is evicted with it, so no live
entry is left reading a released checkpoint.

Only the registry (``__spark_entry__``) and the sentiment pipelines over
the registry tables (``operators/sentiment.py``) call :func:`reused`.
The other operators stay pure, and the CLI tweets path never touches
the context.
"""

from __future__ import annotations

from collections import Counter, OrderedDict
from collections.abc import Callable, Hashable, Iterable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from .session import persisted_rdd_ids, unpersist_rdds

# Entries kept per kind: enough that a session alternating a few scale
# dirs (the sf0.001 / sf0.01 test data, a rewritten table) keeps each
# warm, while a long session over many inputs holds a bounded amount.
PER_KIND = 4


@dataclass
class _Entry:
    value: Any
    rdd_ids: set[int]
    # (kind, key) of the entries whose build used this one
    dependents: set[tuple[str, tuple]] = field(default_factory=set)


def fingerprint(spark: SparkSession, paths: Iterable[str]) -> tuple:
    """``(path, length, modification time)`` of every file under each
    path, from the Hadoop FileSystem listing. A missing path
    fingerprints as ``(path, -1, -1)`` and the build reports it."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    files = []
    for p in paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            files.append((p, -1, -1))
            continue
        it = fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            files.append((st.getPath().toString(), st.getLen(),
                          st.getModificationTime()))
    return tuple(sorted(files))


class ReuseContext:
    """Reused artifacts of one Spark application, with hit and miss
    counts per kind."""

    def __init__(self, app_id: str):
        self.app_id = app_id
        self.hits: Counter[str] = Counter()
        self.misses: Counter[str] = Counter()
        self._entries: dict[str, OrderedDict[tuple, _Entry]] = {}
        self._building: list[tuple[str, tuple]] = []

    def get(self, spark: SparkSession, kind: str, inputs: Iterable[str],
            params: Hashable, build: Callable[[], Any]) -> Any:
        key = (params, fingerprint(spark, inputs))
        entries = self._entries.setdefault(kind, OrderedDict())
        entry = entries.get(key)
        if entry is not None:
            self.hits[kind] += 1
            entries.move_to_end(key)
        else:
            self.misses[kind] += 1
            before = persisted_rdd_ids(spark)
            self._building.append((kind, key))
            try:
                value = build()
            finally:
                self._building.pop()
            entry = _Entry(value, persisted_rdd_ids(spark) - before
                           - self.owned_rdd_ids())
            entries[key] = entry
            while len(entries) > PER_KIND:
                self._evict(spark, kind, next(iter(entries)))
        if self._building:
            entry.dependents.add(self._building[-1])
        return entry.value

    def _evict(self, spark: SparkSession, kind: str, key: tuple) -> None:
        entry = self._entries.get(kind, {}).pop(key, None)
        if entry is None:
            return
        unpersist_rdds(spark, entry.rdd_ids)
        for dep_kind, dep_key in entry.dependents:
            self._evict(spark, dep_kind, dep_key)

    def clear(self, spark: SparkSession) -> None:
        """Drop every entry and unpersist the RDDs they own."""
        for kind, entries in self._entries.items():
            for key in list(entries):
                self._evict(spark, kind, key)

    def owned_rdd_ids(self) -> set[int]:
        """Ids of the persisted RDDs the live entries own."""
        return {i for es in self._entries.values()
                for e in es.values() for i in e.rdd_ids}

    def counts(self) -> dict[str, tuple[int, int]]:
        """``{kind: (hits, misses)}`` since the context was created."""
        return {k: (self.hits[k], self.misses[k])
                for k in sorted(set(self.hits) | set(self.misses))}


_current: ReuseContext | None = None


def reuse_context(spark: SparkSession) -> ReuseContext:
    """The context of ``spark``'s application. A new application (a
    session started after ``stop()``) gets a new, empty context; the old
    one's blocks went away with its SparkContext."""
    global _current
    app_id = spark.sparkContext.applicationId
    if _current is None or _current.app_id != app_id:
        _current = ReuseContext(app_id)
    return _current


def reused(spark: SparkSession, kind: str, inputs: Iterable[str],
           params: Hashable, build: Callable[[], Any]) -> Any:
    """``build()``'s result, built once per application for each
    ``(kind, params, fingerprint(inputs))``."""
    return reuse_context(spark).get(spark, kind, inputs, params, build)
