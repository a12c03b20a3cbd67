"""Exact in-row vocabulary lookup: a driver-built cuckoo table shipped
as one value, so a per-word model meets each row without a join.

The scorers and the declared SVM trainer need, for every token of a
row, the token's entry in a vocabulary-sized table (NB log
probabilities, SVM weights, a token id). Exploding the tokens and
joining the model moves every token through an exchange and has to
regroup the row afterwards; here each row looks its tokens up in place.

- **Getting the vocabulary.** The driver reads the model's words
  together with Spark's own ``xxhash64(word)`` and ``hash(word)``
  through Arrow (:func:`from_frame`). The hashes come from Spark, so the
  row-side probe computes exactly the slots the driver chose.
- **Building the table.** :func:`cuckoo_slots` puts each word in one of
  its two slots ``pmod(xxhash64(w), n)`` and ``pmod(hash(w), n)``
  (two-choice cuckoo hashing at load ≤ 0.4), and grows ``n`` when an
  insert fails.
- **Shipping it.** The keys (``n`` strings, NULL in empty slots) and
  the value arrays (``n`` doubles each) form one struct, a one-row
  local frame read as a scalar subquery. Per row it is bound once as a
  lambda variable, ``element_at(transform(array(T), t -> f(t)), 1)``:
  the query holds the table once and no projection copies it into the
  rows. (Projected as a column and read from two expressions, the
  table would be copied into every row.) Each stage's task binary
  carries the table: about ``2.5 · (8 + 8·values)`` bytes per
  vocabulary word plus the word itself (NB at V≈164k: a 10.9 MiB task
  binary).
- **Lookup cost.** Each token costs two O(1) probes, each compared with
  the stored key, so a word outside the vocabulary finds no slot. A
  ``map(...)`` literal would instead be searched by a linear key scan
  (SCALE.md §2).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Slots per word when a table is first sized: load 0.4, below the 0.5
# threshold of two-choice cuckoo hashing, so inserts rarely fail.
SLOTS_PER_WORD = 2.5
# Evictions one insert may cause before the table grows.
MAX_KICKS = 500
# The column that carries the table from its projection to its one reader.
_T = "_vocab_table"
# A word's two slot choices are these hashes modulo the table size.
_HASHES = (F.xxhash64, F.hash)


def hashes(w: Column) -> list[Column]:
    """Spark's two hashes of a word, ``_h1`` and ``_h2``: the inputs of
    :func:`build`, and the same expressions the row-side probe of
    :meth:`VocabTable.slot` computes."""
    return [h(w).alias(f"_h{i}") for i, h in enumerate(_HASHES, 1)]


def one_row(spark: SparkSession, **arrays) -> DataFrame:
    """A one-row local frame whose columns are the given arrays (Arrow
    or numpy arrays, or lists), each shipped whole as one array value
    without converting its elements in Python."""
    cols = {}
    for name, arr in arrays.items():
        arr = _arrow(arr)
        cols[name] = pa.ListArray.from_arrays(pa.array([0, len(arr)], pa.int32()), arr)
    return spark.createDataFrame(pa.table(cols))


def _arrow(arr):
    if isinstance(arr, pa.ChunkedArray):
        return arr.combine_chunks()
    return arr if isinstance(arr, pa.Array) else pa.array(arr)


def _initial_size(n_words: int) -> int:
    return int(n_words * SLOTS_PER_WORD) + 1


def _place(h1: np.ndarray, h2: np.ndarray, n: int) -> list[int] | None:
    """Each word's slot in an ``n``-slot table, or None when an insert
    fails after :data:`MAX_KICKS` evictions."""
    a, b = h1 % n, h2 % n
    owner = np.full(n, -1, dtype=np.int64)
    # Vectorized first: the first word of each first-choice slot takes
    # it, then of the others the first of each still-free second-choice
    # slot. Only the few words left go through the eviction loop.
    rest = np.arange(len(a))
    for choice in (a, b):
        slot = choice[rest]
        free = owner[slot] < 0
        _, first = np.unique(slot[free], return_index=True)
        placed = rest[free][first]
        owner[choice[placed]] = placed
        rest = np.setdiff1d(rest, placed, assume_unique=True)
    a, b, owner = a.tolist(), b.tolist(), owner.tolist()
    for i in rest.tolist():
        cur, pos = i, a[i]
        for _ in range(MAX_KICKS):
            cur, owner[pos] = owner[pos], cur
            if cur < 0:
                break
            # the evicted word moves to its other slot
            pos = b[cur] if pos == a[cur] else a[cur]
        else:
            return None
    owner = np.asarray(owner, dtype=np.int64)
    slots = np.zeros(len(a), dtype=np.int64)
    taken = np.flatnonzero(owner >= 0)
    slots[owner[taken]] = taken
    return slots.tolist()


def cuckoo_slots(h1: Sequence[int], h2: Sequence[int]) -> tuple[int, list[int]]:
    """``(n, slots)``: word ``i`` sits at ``slots[i]``, which is
    ``h1[i] mod n`` or ``h2[i] mod n``, and no two words share a slot.
    ``n`` grows by half until every insert succeeds."""
    h1 = np.asarray(h1, dtype=np.int64)
    h2 = np.asarray(h2, dtype=np.int64)
    n = _initial_size(len(h1))
    while True:
        slots = _place(h1, h2, n)
        if slots is not None:
            return n, slots
        if n > 64 * (len(h1) + 1):
            # in practice only distinct words with equal hash pairs
            raise ValueError("vocabulary words share both hashes")
        n = n * 3 // 2 + 1


@dataclass(frozen=True)
class VocabTable:
    """A built table: ``size`` slots, ``slots[i]`` the slot of the
    ``i``-th word given to :func:`build`, and ``value`` the one shipped
    struct (field ``k`` the keys, then one ``array<double>`` field per
    value)."""
    size: int
    slots: list[int]
    value: Column

    def slot(self, t: Column, w: Column) -> Column:
        """The slot of token ``w`` in the bound table ``t``, or -1."""
        a, b = (F.pmod(h(w), F.lit(self.size)).cast("int") for h in _HASHES)
        k = t["k"]
        return (F.when(F.get(k, a) == w, a).when(F.get(k, b) == w, b)
                .otherwise(F.lit(-1)))

    def token_slots(self, t: Column, tokens: Column) -> Column:
        """The slot of every token of the array ``tokens`` in the bound
        table ``t`` (-1 outside the vocabulary), in token order."""
        return F.transform(tokens, lambda w: self.slot(t, w))

    def with_column(self, df: DataFrame, name: str,
                    fn: Callable[[Column], Column]) -> DataFrame:
        """``df`` plus the column ``name = fn(t)``, with the table bound
        once per row as ``t``. Analysis rejects a subquery inside a
        lambda, so the table rides in as a column that the next
        projection reads exactly once; the optimizer then inlines it
        into ``transform(array(T), ...)`` and no row carries the table."""
        keep = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
        return (df.withColumn(_T, self.value)
                .select(*keep, F.element_at(
                    F.transform(F.array(F.col(_T)), fn), 1).alias(name)))


def build(spark: SparkSession, words, h1: Sequence[int], h2: Sequence[int],
          **values) -> VocabTable:
    """Place ``words`` (a list or Arrow string array, with their two
    Spark hashes) and ship them with the given per-word value arrays,
    each spread to its word's slot (0.0 in empty slots)."""
    size, slots = cuckoo_slots(h1, h2)
    at = np.asarray(slots, dtype=np.int64)
    owner = np.full(size, -1, dtype=np.int64)
    owner[at] = np.arange(len(slots))
    keys = _arrow(words).cast(pa.string())
    cols = {"k": keys.take(pa.array(owner, mask=owner < 0))}
    for name, vals in values.items():
        cols[name] = np.zeros(size)
        cols[name][at] = vals
    value = one_row(spark, **cols).select(F.struct(*cols).alias(_T)).scalar()
    return VocabTable(size, slots, value)


def from_frame(model: DataFrame, word: str = "word", **values: str) -> VocabTable:
    """The table of a model frame: its words (NULL words dropped — no
    token is NULL) with their two hashes and the given value columns,
    read through Arrow, then :func:`build`."""
    w = F.col(word)
    tbl = (model.filter(w.isNotNull())
           .select(w.alias("word"), *hashes(w),
                   *[F.col(c).alias(k) for k, c in values.items()])
           .toArrow())
    return build(model.sparkSession, tbl.column("word"),
                 tbl.column("_h1").to_numpy(), tbl.column("_h2").to_numpy(),
                 **{k: tbl.column(k).to_numpy() for k in values})
