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
  next model. Rebuilt as a driver loop of DataFrame jobs with the
  weights broadcast each epoch — the exact workload class where the
  report measured Spark 21× over MR (report §4.2 p.23) because the
  epoch loop stays in memory instead of round-tripping HDFS.
- **Scoring** (``SVM.java:139-144``): ``score = Σ_token w[token]``
  (missing → 0), ``pred = score ≥ 0 ? +1 : −1`` — tie → POSITIVE
  (opposite of NB's tie rule).

Hyperparameters (``SVM.java:34-36``): EPOCHS=5, LR=0.1, λ=0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exprtext import str_double_map_lit
from ..functions.rounding import pround
from ..functions.tokenize import explode_tokens, tokens_array

# Hinge margins are rounded here before the `< 1` test so the violation
# set (and hence the whole epoch chain) is independent of fp summation
# order — the same portability rule the scorers apply at 6 dp.
MARGIN_DP = 9

EPOCHS = 5
LR = 0.1
LAMBDA = 0.01

# svm_train_declared keeps the weights as a plan-time map literal up to
# this vocabulary size and switches to the distributed path above it.
LITERAL_MAP_MAX = 4096

# Pseudo-token used by the fused per-epoch aggregation in
# svm_train_declared to carry the violation count through the same
# word-grouped shuffle as the gradients. NUL never survives the
# whitespace tokenizer, so it cannot collide with a real token.
_NV_SENTINEL = "\x00__nv__"


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


def svm_score(docs: DataFrame, weights: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """M6: docs + ``score`` + ``prediction`` (1.0 iff score ≥ 0;
    tie → POSITIVE, ``SVM.java:144``). Broadcast join on ``word``;
    unmatched tokens contribute 0 (``SVM.java:141``:
    ``getOrDefault(w, 0.0)``)."""
    tokens = explode_tokens(docs.select(id_col, text_col), text_col=text_col)
    sums = (
        tokens.join(F.broadcast(weights), "word", "inner")
        .groupBy(id_col)
        .agg(F.sum("weight").alias("_s"))
    )
    # Portably rounding the score to 6 dp before the sign test keeps
    # the prediction independent of fp summation order (cross-engine
    # stable; real scores are multiples of η ≈ 0.095); tie (rounded
    # score == 0) → POSITIVE via ``>= 0``, preserving ``SVM.java:144``.
    return (
        docs.join(sums, id_col, "left")
        .withColumn("score", F.coalesce(F.col("_s"), F.lit(0.0)))
        .drop("_s")
        .withColumn("prediction",
                    F.when(pround(F.col("score"), 6) >= 0, F.lit(1.0)).otherwise(F.lit(0.0)))
    )


def svm_train_declared(docs: DataFrame, text_col: str = "text",
                       label_col: str = "label",
                       epochs: int = EPOCHS, lr: float = LR,
                       lam: float = LAMBDA) -> DataFrame:
    """M4 strict training with the epoch chain actually wired up
    (the fix for the reference's load-path bug).

    Per epoch: margin per doc against the current weights; for violating
    docs emit ``+η·y`` per token; every violating sample also emits L2
    decay ``−η·λ·w_j`` for ALL weights, so the summed decay is
    ``−η·λ·V·w_j`` with V = violation count; new weights = old + deltas
    (``SVM.java:87-106``).

    Execution shape — two paths, chosen by vocabulary size after the
    first epoch (the epoch-1 gradient IS the vocabulary):

    - **Literal-map path** (vocab ≤ ``LITERAL_MAP_MAX``): the weights
      ride into each epoch as a plan-time ``map(...)`` literal built as
      SQL text (``functions.exprtext``, the same pattern as the IVF/PQ
      codebooks — one py4j call instead of 2·V), so the margin is a
      partition-local ``F.aggregate`` over each doc's cached token
      array — ZERO doc-side exchanges. The only shuffle per epoch is
      the word-grouped gradient aggregation over violating docs, with
      a sentinel pseudo-token riding along to carry the violation
      count V; its vocabulary-sized result round-trips the driver
      (same class of tiny collect as the k-means/PQ codebooks).
    - **Distributed fallback** (large vocab): margin via broadcast
      join + per-row aggregation (keyed on a row id stored in the
      cached frame, so rows sharing a doc id stay separate samples,
      as on the literal path) that carries the token list along,
      so violating docs re-emit tokens via explode instead of a
      second corpus scan — two exchanges per epoch (doc, word), all
      models stay DataFrames, nothing driver-sized.

    Both paths share the cached doc-level token-array frame (built
    once), the MARGIN_DP rounding that pins the violation set across
    engines, and bit-identical update arithmetic — the in-memory epoch
    iteration the reference's own report credits for Spark's 21×
    speedup over MR (report §4.2 p.23).
    """
    from pyspark.sql import types as T

    from ..session import local_frame

    spark = docs.sparkSession
    y_expr = F.when(F.col(label_col) == 1.0, F.lit(1.0)).otherwise(F.lit(-1.0))
    # row-level token arrays, cached once: both the partition-local
    # margin and the gradient explode read this frame; the empty-text
    # filter replicates explode_tokens' P5 guard. ``_rid`` is the
    # fallback's sample key; each epoch's plan scans this frame once,
    # so the ids only need to be unique within one scan.
    base = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.monotonically_increasing_id().alias("_rid"),
                y_expr.alias("_y"),
                tokens_array(F.col(text_col)).alias("_words"))
        .cache()
    )

    # epoch 1: w = 0 ⇒ every sample violates and there is nothing to
    # decay — the gradient is one word-grouped aggregation.
    eta1 = epoch_lr(1)
    w1 = (
        base.select("_y", F.explode("_words").alias("word"))
        .groupBy("word")
        .agg((F.lit(eta1) * F.sum("_y")).alias("weight"))
    )
    if epochs <= 1:
        return w1

    # Path decision WITHOUT materializing the vocabulary on the driver:
    # a limit(N+1).count() probe is executor-side and returns a scalar,
    # so at 100× vocab the decision itself can never OOM the driver —
    # only a probe that comes back under the threshold earns a collect.
    probe = w1.limit(LITERAL_MAP_MAX + 1).count()
    if probe <= LITERAL_MAP_MAX:
        weights = {r["word"]: r["weight"] for r in w1.collect()}
        for epoch in range(2, epochs + 1):
            eta = epoch_lr(epoch)
            # try_element_at: missing token → NULL → 0 (ANSI-safe;
            # plain element_at raises under Spark 4's default ANSI mode)
            dot = F.expr(
                "aggregate(_words, 0.0D, (acc, tok) -> acc + coalesce("
                f"try_element_at({str_double_map_lit(sorted(weights.items()))}, tok), "
                "0.0D))")
            fused = (
                base.filter((F.col("_y") * pround(dot, MARGIN_DP)) < 1.0)
                .select("_y", F.explode(
                    F.concat(F.col("_words"),
                             F.array(F.lit(_NV_SENTINEL)))).alias("word"))
                .groupBy("word")
                .agg(F.sum("_y").alias("_sy"), F.count(F.lit(1)).alias("_n"))
                .collect()
            )
            nv = 0
            deltas: dict[str, float] = {}
            for r in fused:
                if r["word"] == _NV_SENTINEL:
                    nv = r["_n"]
                else:
                    deltas[r["word"]] = eta * r["_sy"]
            # same association as the SQL oracle: (η·λ)·V
            decay = 1.0 - eta * lam * nv
            new_weights = {w: v * decay for w, v in weights.items()}
            for word, d in deltas.items():
                new_weights[word] = new_weights.get(word, 0.0) + d
            weights = new_weights
        base.unpersist()
        return local_frame(
            spark, sorted(weights.items()),
            T.StructType([T.StructField("word", T.StringType()),
                          T.StructField("weight", T.DoubleType())]))

    # ---- distributed fallback: vocabulary too large for a plan literal
    tokens = base.select("_rid", "_y", F.explode("_words").alias("word"))
    weights_df = w1.localCheckpoint(eager=True)
    for epoch in range(2, epochs + 1):
        eta = epoch_lr(epoch)
        w = F.broadcast(weights_df)
        viol_tokens = (
            tokens.join(w, "word", "left")
            .groupBy("_rid")
            .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_dot"),
                 F.first("_y").alias("_y"),
                 F.collect_list("word").alias("_words"))
            .filter((F.col("_y") * pround(F.col("_dot"), MARGIN_DP)) < 1.0)
            .select("_y", F.explode(
                F.concat(F.col("_words"),
                         F.array(F.lit(_NV_SENTINEL)))).alias("word"))
        )
        # vocabulary-sized; materialized once for its two consumers
        fused = (
            viol_tokens.groupBy("word")
            .agg(F.sum("_y").alias("_sy"), F.count(F.lit(1)).alias("_n"))
            .localCheckpoint(eager=True)
        )
        grads = (
            fused.filter(F.col("word") != _NV_SENTINEL)
            .select("word", (F.lit(eta) * F.col("_sy")).alias("delta"))
        )
        # global agg (not filter) so zero violations still yields the
        # one row the decay cross-join needs; stays in-plan, no driver
        # round-trip on this path.
        nv_df = fused.agg(F.coalesce(
            F.sum(F.when(F.col("word") == _NV_SENTINEL, F.col("_n"))),
            F.lit(0).cast("long")).alias("_v"))
        decayed = weights_df.crossJoin(F.broadcast(nv_df)).select(
            "word",
            (F.col("weight")
             * (F.lit(1.0) - F.lit(eta) * F.lit(lam) * F.col("_v"))).alias("weight"),
        )
        new_weights_df = (
            decayed.join(grads, "word", "outer")
            .select("word",
                    (F.coalesce(F.col("weight"), F.lit(0.0))
                     + F.coalesce(F.col("delta"), F.lit(0.0))).alias("weight"))
        )
        # materialize the (vocabulary-sized) model each epoch to cut
        # the lineage — the columnar analog of the reference's
        # per-epoch model_epoch_{e} files, but in memory.
        weights_df = new_weights_df.localCheckpoint(eager=True)
    base.unpersist()
    return weights_df


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
