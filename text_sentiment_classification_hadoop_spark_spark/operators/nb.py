"""Multinomial Naive Bayes: one DataFrame aggregation to train, one
in-row projection to score.

Semantics replicated from the reference (SURVEY.md §2.9 M2-M3):

- Training (``NB.java:46-124``): per-word class occurrence counts (A1),
  class priors ``P(c) = tweets_c / tweets`` (``NB.java:158-159``),
  Laplace-smoothed likelihood
  ``P(w|c) = (count_{w,c} + 1) / (words_c + |V|)`` (``NB.java:189-194``)
  where ``words_c`` counts tokens via ``split("\\s+").length`` — an empty
  cleaned text still contributes 1 (``NB.java:80,85`` quirk, preserved).
- Scoring (``NB.java:197-268``): per tweet multiply ``P(c)`` by
  ``P(w|c)`` for every token occurrence whose word is in the vocabulary
  (unmatched tokens contribute nothing — inner-join semantics,
  ``NB.java:232-243``); argmax with tie → NEGATIVE
  (``Double.compare(pos,neg) > 0``, ``NB.java:250``).

Differences from the reference (deliberate, SURVEY.md §4.2):
- log-space scoring (the reference multiplies raw doubles and can
  underflow on long texts; log-space is order-equivalent otherwise).
  :func:`nb_score_compat_raw` provides the reference's raw-product
  scorer verbatim — underflow→0→tie→NEGATIVE quirk included — for
  bit-fidelity when a consumer needs the old behavior;
- each token is found by an exact two-probe hash lookup
  (:mod:`..functions.vocab`) instead of the reference's accidental
  O(tokens×|V|) nested-loop probe (``NB.java:234-241``) — same
  semantics;
- the model ships once per query inside the plan, not as a per-task
  HDFS re-read.

Scale notes: training is one explode + one hash aggregation — partial
(map-side) aggregation halves shuffle volume automatically — whose
vocabulary-sized result is checkpointed. Scoring reads the model to the
driver through Arrow and is one projection over the documents: every row
folds its own tokens against the model, bound once per row as one
cuckoo-hashed table value, so scoring has no explode, join, exchange or
regroup, and two rows that share an id keep their own scores. Each
scoring stage ships the table in its task binary (about 60 bytes plus
the word per vocabulary word). The six scalar stats are collected to
the driver (tiny) and folded into literals — the Spark-native analog
of the reference's Configuration scalars (J4, ``NB.java:305-316``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vocab
from ..functions.rounding import pround
from ..functions.tokenize import explode_tokens, row_tokens, token_count_quirk


@dataclass(frozen=True)
class NBStats:
    """The reference's six Configuration scalars (``NB.java:305-316``)."""
    tweets_size: int
    pos_tweets_size: int
    neg_tweets_size: int
    pos_words_size: int
    neg_words_size: int
    features_size: int


def nb_token_counts(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", label_col: str = "label") -> DataFrame:
    """A1: per-word class occurrence counts → ``(word, pos_count, neg_count)``."""
    tokens = explode_tokens(docs.select(id_col, label_col, text_col), text_col=text_col)
    return tokens.groupBy("word").agg(
        F.count(F.when(F.col(label_col) == 1.0, F.lit(1))).alias("pos_count"),
        F.count(F.when(F.col(label_col) != 1.0, F.lit(1))).alias("neg_count"),
    )


def nb_stats(docs: DataFrame, model: DataFrame, text_col: str = "text",
             label_col: str = "label") -> NBStats:
    """A3-A5 in two tiny aggregations (one over docs, one over the model)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("tweets_size"),
        F.sum(F.when(F.col(label_col) == 1.0, 1).otherwise(0)).alias("pos_tweets_size"),
        F.sum(F.when(F.col(label_col) != 1.0, 1).otherwise(0)).alias("neg_tweets_size"),
        F.sum(F.when(F.col(label_col) == 1.0, token_count_quirk(F.col(text_col)))
              .otherwise(0)).alias("pos_words_size"),
        F.sum(F.when(F.col(label_col) != 1.0, token_count_quirk(F.col(text_col)))
              .otherwise(0)).alias("neg_words_size"),
    ).collect()[0]
    features_size = model.count()  # A5: COUNT(DISTINCT word) == model rows
    return NBStats(
        tweets_size=row["tweets_size"],
        pos_tweets_size=int(row["pos_tweets_size"] or 0),
        neg_tweets_size=int(row["neg_tweets_size"] or 0),
        pos_words_size=int(row["pos_words_size"] or 0),
        neg_words_size=int(row["neg_words_size"] or 0),
        features_size=features_size,
    )


def nb_train(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             label_col: str = "label") -> tuple[DataFrame, NBStats]:
    """M2: model DF ``(word, pos_count, neg_count, log_p_pos, log_p_neg)``
    plus the scalar stats. Smoothed probabilities are derived once here
    (the reference recomputes them in every map task's ``setup()``,
    ``NB.java:189-194`` — an anti-pattern we don't copy).

    The model reads a local checkpoint of the counts, which lives as
    long as the caller keeps the model; the corpus cache this function
    makes is released before it returns."""
    # The cleaned corpus feeds two jobs (token counts, scalar stats):
    # cache it for their duration — the one-line in-memory reuse the
    # reference's own report credits for Spark's 6.7x over MR (report
    # §4.2 p.23). A caller's cache is used as is and left in place.
    # The counts table is vocabulary-sized: checkpoint it so the
    # model/count() reads don't re-aggregate the corpus.
    level = docs.storageLevel
    owned = not (level.useMemory or level.useDisk)
    if owned:
        docs.cache()
    try:
        counts = nb_token_counts(docs, id_col, text_col, label_col) \
            .localCheckpoint(eager=True)
        stats = nb_stats(docs, counts, text_col, label_col)
    finally:
        if owned:
            docs.unpersist()
    v = stats.features_size
    model = counts.select(
        "word", "pos_count", "neg_count",
        F.log((F.col("pos_count") + 1) / F.lit(stats.pos_words_size + v)).alias("log_p_pos"),
        F.log((F.col("neg_count") + 1) / F.lit(stats.neg_words_size + v)).alias("log_p_neg"),
    )
    return model, stats


def _fold_classes(docs: DataFrame, probs: DataFrame, zero: float, op,
                  text_col: str) -> DataFrame:
    """docs + ``_s``, the struct ``(p, n)`` that folds the ``(_p, _n)``
    values of each row's in-vocabulary tokens with ``op``, in token
    order, starting from ``zero``; tokens outside the vocabulary leave
    it unchanged (inner-join semantics, ``NB.java:232-243``)."""
    table = vocab.from_frame(probs, "word", p="_p", n="_n")
    tokens = row_tokens(F.col(text_col))

    def fold(t):
        def step(acc, s):
            return F.when(s < 0, acc).otherwise(F.struct(
                op(acc["p"], F.get(t["p"], s)).alias("p"),
                op(acc["n"], F.get(t["n"], s)).alias("n")))
        return F.aggregate(table.token_slots(t, tokens),
                           F.struct(F.lit(zero).alias("p"), F.lit(zero).alias("n")),
                           step)
    return table.with_column(docs, "_s", fold)


def nb_score(docs: DataFrame, model: DataFrame, stats: NBStats,
             text_col: str = "text") -> DataFrame:
    """M3 (log-space): returns docs + ``score_pos/score_neg/prediction``.

    prediction: 1.0 iff ``score_pos > score_neg`` (tie → 0.0/NEGATIVE,
    ``NB.java:250``). Docs with empty cleaned text or all-unseen tokens
    score on priors alone (product stays 1.0 in the reference,
    ``NB.java:125-128,244-247``). Each row is scored on its own.
    """
    log_prior_pos = F.lit(float("-inf")) if stats.pos_tweets_size == 0 else \
        F.log(F.lit(stats.pos_tweets_size / stats.tweets_size))
    log_prior_neg = F.lit(float("-inf")) if stats.neg_tweets_size == 0 else \
        F.log(F.lit(stats.neg_tweets_size / stats.tweets_size))

    probs = model.select("word", F.col("log_p_pos").alias("_p"),
                         F.col("log_p_neg").alias("_n"))
    scored = (
        _fold_classes(docs, probs, 0.0, lambda a, b: a + b, text_col)
        .withColumn("score_pos", log_prior_pos + F.col("_s.p"))
        .withColumn("score_neg", log_prior_neg + F.col("_s.n"))
        .drop("_s")
    )
    # The margin is portably rounded to 6 dp before the sign test:
    # semantically a no-op (real margins are >> 1e-6) but it makes the
    # prediction independent of fp summation order, so Spark and the
    # DuckDB oracle agree bit-for-bit. Tie (rounded margin == 0) →
    # NEGATIVE, preserving ``NB.java:250``.
    return scored.withColumn(
        "prediction",
        F.when(pround(F.col("score_pos") - F.col("score_neg"), 6) > 0,
               F.lit(1.0)).otherwise(F.lit(0.0)),
    )


def nb_score_compat_raw(docs: DataFrame, model: DataFrame, stats: NBStats,
                        text_col: str = "text") -> DataFrame:
    """M3 compat mode: the reference's RAW-probability scorer, underflow
    quirk included (``NB.java:224-247``) — probabilities multiply as
    plain doubles with no log-space, so on long documents BOTH products
    underflow to 0.0 and the tie rule ``Double.compare(pos, neg) > 0``
    (``NB.java:250``) silently forces NEGATIVE. ``nb_score`` is the
    correct scorer; this variant exists for bit-fidelity with the
    reference on long texts. Returns docs + ``prob_pos/prob_neg/
    prediction``.

    Deliberately OUTSIDE the hash-oracle set: where exactly the product
    hits 0 depends on multiplication order and subnormal handling, which
    is engine-specific; the underflow CONTRACT (long text ⇒ 0/0 tie ⇒
    NEGATIVE) is golden-tested against hand-built fixtures instead."""
    prior_pos = stats.pos_tweets_size / stats.tweets_size if stats.tweets_size else 0.0
    prior_neg = stats.neg_tweets_size / stats.tweets_size if stats.tweets_size else 0.0
    v = stats.features_size
    probs = model.select(
        "word",
        ((F.col("pos_count") + 1) / F.lit(float(stats.pos_words_size + v))).alias("_p"),
        ((F.col("neg_count") + 1) / F.lit(float(stats.neg_words_size + v))).alias("_n"),
    )
    # all-unseen/empty docs keep product 1.0 (NB.java:125-128,244-247)
    scored = (
        _fold_classes(docs, probs, 1.0, lambda a, b: a * b, text_col)
        .withColumn("prob_pos", F.lit(prior_pos) * F.col("_s.p"))
        .withColumn("prob_neg", F.lit(prior_neg) * F.col("_s.n"))
        .drop("_s")
    )
    return scored.withColumn(
        "prediction",
        F.when(F.col("prob_pos") > F.col("prob_neg"), F.lit(1.0)).otherwise(F.lit(0.0)),
    )
