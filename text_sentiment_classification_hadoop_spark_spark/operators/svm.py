"""Linear SVM operators: the reference's *effective* model (compat), the
*declared* Pegasos-style SGD (strict), and the MLlib vector path.

Reference semantics (SURVEY.md §2.9 M4-M6):

- **Effective / compat** (``SVM.java:49-50,169`` load-path bug): every
  epoch's mapper loads the *current* epoch's not-yet-written model, so
  weights are always empty, the hinge condition always fires, and each
  epoch independently produces
  ``w[word] = η_e · (pos_token_count(word) − neg_token_count(word))``.
  Scoring uses ``model_epoch_5`` with ``η_5 = 0.1 / (1 + 5·0.01)``
  (``SVM.java:36,49``). One SQL-expressible aggregation.
- **Declared / strict** (``SVM.java:42-106,167-187``): 5 epochs of
  mini-batch SGD: per violating sample (``y·(w·x) < 1``,
  ``SVM.java:86``) emit ``+η·y`` per token plus L2 decay ``−η·λ·w_j``
  for ALL weights (``SVM.java:87-94``); reducer sums deltas into the
  next model. Rebuilt as a driver loop of one DataFrame job per epoch
  over cached per-row token-id arrays, with the weights shipped as one
  dense ``array<double>`` value each epoch — the exact workload class
  where the report measured Spark 21× over MR (report §4.2 p.23)
  because the epoch loop stays in memory instead of round-tripping
  HDFS.
- **Scoring** (``SVM.java:139-144``): ``score = Σ_token w[token]``
  (missing → 0), ``pred = score ≥ 0 ? +1 : −1`` — tie → POSITIVE
  (opposite of NB's tie rule).

Hyperparameters (``SVM.java:34-36``): EPOCHS=5, LR=0.1, λ=0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vocab
from ..functions.rounding import pround
from ..functions.tokenize import explode_tokens, row_tokens, tokens_array

# Hinge margins are rounded here before the `< 1` test so the violation
# set (and hence the whole epoch chain) is independent of fp summation
# order — the same portability rule the scorers apply at 6 dp.
MARGIN_DP = 9

EPOCHS = 5
LR = 0.1
LAMBDA = 0.01


def epoch_lr(epoch: int) -> float:
    """``η_e = 0.1 / (1 + epoch·0.01)`` (``SVM.java:36,49``)."""
    return LR / (1 + epoch * 0.01)


def svm_effective_train(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", label_col: str = "label",
                        epoch: int = EPOCHS) -> DataFrame:
    """M5 compat model: ``(word, weight)`` with
    ``weight = η_epoch · (pos_occurrences − neg_occurrences)``."""
    eta = epoch_lr(epoch)
    tokens = explode_tokens(docs.select(id_col, label_col, text_col), text_col=text_col)
    y = F.when(F.col(label_col) == 1.0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return (
        tokens.groupBy("word")
        .agg(F.sum(y).alias("_net"))
        .select("word", (F.lit(eta) * F.col("_net")).alias("weight"))
    )


def svm_score(docs: DataFrame, weights: DataFrame,
              text_col: str = "text") -> DataFrame:
    """M6: docs + ``score`` + ``prediction`` (1.0 iff score ≥ 0;
    tie → POSITIVE, ``SVM.java:144``). One projection over docs, as the
    reference's map-only test job (``SVM.java:195``): the driver reads
    the weights through Arrow and ships them as one cuckoo-hashed table
    (:mod:`..functions.vocab`; about 40 bytes plus the word per
    vocabulary word in each stage's task binary), and every row sums
    the weights of its own tokens in token order. Unmatched tokens
    contribute 0 (``SVM.java:141``: ``getOrDefault(w, 0.0)``), blank or
    NULL text scores 0, and rows that share an id keep their own
    scores."""
    table = vocab.from_frame(weights, "word", w="weight")
    tokens = row_tokens(F.col(text_col))

    def total(t):
        return F.aggregate(table.token_slots(t, tokens), F.lit(0.0),
                           lambda acc, s: F.when(s < 0, acc)
                           .otherwise(acc + F.get(t["w"], s)))
    # Portably rounding the score to 6 dp before the sign test keeps
    # the prediction independent of fp summation order (cross-engine
    # stable; real scores are multiples of η ≈ 0.095); tie (rounded
    # score == 0) → POSITIVE via ``>= 0``, preserving ``SVM.java:144``.
    return (
        table.with_column(docs, "score", total)
        .withColumn("prediction",
                    F.when(pround(F.col("score"), 6) >= 0, F.lit(1.0)).otherwise(F.lit(0.0)))
    )


def svm_train_declared(docs: DataFrame, text_col: str = "text",
                       label_col: str = "label",
                       epochs: int = EPOCHS, lam: float = LAMBDA) -> DataFrame:
    """M4 strict training with the epoch chain actually wired up
    (the fix for the reference's load-path bug).

    Per epoch: margin per doc against the current weights; for violating
    docs emit ``+η·y`` per token; every violating sample also emits L2
    decay ``−η·λ·w_j`` for ALL weights, so the summed decay is
    ``−η·λ·V·w_j`` with V = violation count; new weights = old + deltas
    (``SVM.java:87-106``).

    Execution shape — one path for every vocabulary size, the per-tweet
    map step against a broadcast model of *Large Scale Sentiment
    Analysis on Twitter with Spark* (EDBT 2016) with integer token ids
    in place of words:

    - **Once per train.** Epoch 1 (w = 0: every sample violates, nothing
      decays) is one word-grouped aggregation; its collected result is
      the vocabulary with the two hashes of each word. The driver places
      the words in a cuckoo table (:mod:`..functions.vocab`), and a
      word's id is its slot there. One projection over the cached token
      arrays looks every token up in place, in token order, into a
      cached ``(_y, _ids)`` frame: no join and no regroup.
    - **Each later epoch.** The driver holds the weights as a dense
      slot-indexed list and ships them as one ``array<double>`` value
      ``_W`` (a one-row local frame read as a scalar subquery, projected
      as a column because lambdas reject subqueries); the margin is a
      row-local ``aggregate`` of ``get(_W, id)`` over the row's ids.
      Violating rows explode their ids plus the sentinel id ``-1``, so
      the gradient and the violation count V come back in one
      id-grouped shuffle and one collect — the only shuffles of a train
      besides the epoch-1 aggregation.

    The driver therefore holds the vocabulary and about 20 bytes of
    weights per word (the table has 2.5 slots per word); each epoch's
    stages ship those weights, and the id lookup ships the table's
    keys (about 20 bytes plus the word per word), in their task
    binaries. It collects a sparse gradient each epoch: ``epochs``
    collects per train. Margins sum in token order and are rounded at
    ``MARGIN_DP`` before the ``< 1`` test, and the update keeps the
    association ``v·(1 − η·λ·V) + η·Σy``, so the weights match the SQL
    oracle and the pure-Python reference — the in-memory epoch
    iteration the reference's own report credits for Spark's 21×
    speedup over MR (report §4.2 p.23).
    """
    from pyspark.sql import types as T

    from ..session import local_frame

    spark = docs.sparkSession
    y_expr = F.when(F.col(label_col) == 1.0, F.lit(1.0)).otherwise(F.lit(-1.0))
    # row-level token arrays, cached once: the epoch-1 gradient and the
    # id lookup both read this frame; the empty-text filter replicates
    # explode_tokens' P5 guard. Each row is its own sample, also when
    # rows share a doc id.
    base = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(y_expr.alias("_y"), tokens_array(F.col(text_col)).alias("_words"))
        .cache()
    )

    # epoch 1: w = 0 ⇒ every sample violates and there is nothing to
    # decay — the gradient is one word-grouped aggregation, and its
    # words are the vocabulary.
    eta1 = epoch_lr(1)
    first = sorted(
        base.select("_y", F.explode("_words").alias("word"))
        .groupBy("word")
        .agg((F.lit(eta1) * F.sum("_y")).alias("weight"))
        .select("word", "weight", *vocab.hashes(F.col("word")))
        .collect())
    words = [r["word"] for r in first]
    table = vocab.build(spark, words, [r["_h1"] for r in first],
                        [r["_h2"] for r in first])
    weights = [0.0] * table.size
    for r, s in zip(first, table.slots):
        weights[s] = r["weight"]

    # each row's ids in token order, so margins sum in the same order
    # as the reference's loop
    rows = (
        table.with_column(base, "_ids", lambda t: table.token_slots(t, F.col("_words")))
        .select("_y", "_ids")
        .cache()
    )
    for epoch in range(2, epochs + 1):
        eta = epoch_lr(epoch)
        w_col = vocab.one_row(spark, _W=weights).scalar()
        dot = F.expr("aggregate(_ids, 0.0D, (acc, i) -> acc + get(_W, i))")
        grads = (
            rows.withColumn("_W", w_col)
            .filter((F.col("_y") * pround(dot, MARGIN_DP)) < 1.0)
            .select("_y", F.explode(
                F.concat(F.col("_ids"), F.array(F.lit(-1)))).alias("_id"))
            .groupBy("_id")
            .agg(F.sum("_y").alias("_sy"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        nv = next((r["_n"] for r in grads if r["_id"] == -1), 0)
        # same association as the SQL oracle: (η·λ)·V
        decay = 1.0 - eta * lam * nv
        weights = [v * decay for v in weights]
        for r in grads:
            if r["_id"] >= 0:
                weights[r["_id"]] += eta * r["_sy"]
    rows.unpersist()
    base.unpersist()
    return local_frame(
        spark, [(w, weights[s]) for w, s in zip(words, table.slots)],
        T.StructType([T.StructField("word", T.StringType()),
                      T.StructField("weight", T.DoubleType())]))


def mllib_pipeline(docs: DataFrame, algorithm: str = "nb", text_col: str = "text",
                   label_col: str = "label", seed: int = 1234,
                   num_features: int = 1 << 18):
    """The reference's Spark-side vector path (T3+T5+T6+M1+M7/M8):
    Tokenizer → HashingTF(2^18) → IDF → {NaiveBayes | LinearSVC},
    ``randomSplit([0.75, 0.25], seed=1234)``.

    Quirk preserved as documented (``NaiveBayes.py:56-61``): IDF is fit
    on the FULL dataset before the split (leakage) — exactly
    what the reference does.

    The featurized chain is computed three times without caching (IDF
    fit pass, the estimator's instance materialization, the test
    transform), so ``featurized`` and ``rescaled`` are PERSISTED for
    the duration of the fit. The caller owns the release: the cached
    frames are returned EXPLICITLY as the third element — unpersist
    each once the predictions have been consumed (the registry
    wrappers aggregate the tiny confusion eagerly and release
    immediately, so nothing stays pinned across a long session).
    Callers that ignore the third element leak two MEMORY_AND_DISK
    frames for the session — the explicit return makes that visible
    at the call site instead of riding a private attribute that a
    ``preds``-transforming caller would silently lose.

    Returns ``(predictions_df, model, cached_frames)``.
    """
    from pyspark import StorageLevel
    from pyspark.ml.classification import LinearSVC, NaiveBayes
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    base = docs.select(F.col(label_col).cast("double").alias("label"),
                       F.col(text_col).alias("tweet"))
    tok = Tokenizer(inputCol="tweet", outputCol="words")
    words = tok.transform(base)
    tf = HashingTF(inputCol="words", outputCol="rawFeatures", numFeatures=num_features)
    featurized = tf.transform(words).persist(StorageLevel.MEMORY_AND_DISK)
    idf = IDF(inputCol="rawFeatures", outputCol="features").fit(featurized)
    rescaled = idf.transform(featurized).persist(StorageLevel.MEMORY_AND_DISK)
    train, test = rescaled.randomSplit([0.75, 0.25], seed=seed)
    if algorithm == "nb":
        est = NaiveBayes(featuresCol="features", labelCol="label")
    elif algorithm == "svm":
        est = LinearSVC(featuresCol="features", labelCol="label",
                        maxIter=10, regParam=0.1)
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    model = est.fit(train)
    preds = model.transform(test)
    return preds, model, [featurized, rescaled]
