"""Golden hand-computed NB/SVM semantics (SURVEY.md §2.9 M2-M6) on a
4-document corpus, including the reference's quirks: Laplace smoothing,
prior-only scoring, multinomial repetition, and both tie rules."""

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import metrics as M
from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
from text_sentiment_classification_hadoop_spark_spark.operators import svm as SVM

# train corpus: 2 positive, 2 negative
TRAIN = [
    (1, "good good fun", 1.0),
    (2, "good happy", 1.0),
    (3, "bad sad", 0.0),
    (4, "bad awful fun", 0.0),
]
# vocab: good(3,0) fun(1,1) happy(1,0) bad(0,2) sad(0,1) awful(0,1)
# pos_words=5, neg_words=5, V=6, priors 0.5/0.5


@pytest.fixture(scope="module")
def train_df(spark):
    return spark.createDataFrame(TRAIN, "doc_id long, text string, label double")


@pytest.fixture(scope="module")
def model_stats(train_df):
    return NB.nb_train(train_df)


def test_nb_model_counts(model_stats):
    model, _ = model_stats
    counts = {r["word"]: (r["pos_count"], r["neg_count"]) for r in model.collect()}
    assert counts == {"good": (3, 0), "fun": (1, 1), "happy": (1, 0),
                      "bad": (0, 2), "sad": (0, 1), "awful": (0, 1)}


def test_nb_stats(model_stats):
    _, s = model_stats
    assert (s.tweets_size, s.pos_tweets_size, s.neg_tweets_size) == (4, 2, 2)
    assert (s.pos_words_size, s.neg_words_size, s.features_size) == (5, 5, 6)


def test_nb_smoothed_probs(model_stats):
    model, s = model_stats
    row = {r["word"]: r for r in model.collect()}
    # P(w|c) = (count+1)/(words_c + V)  (NB.java:189-194)
    assert math.isclose(row["good"]["log_p_pos"], math.log(4 / 11))
    assert math.isclose(row["good"]["log_p_neg"], math.log(1 / 11))


def test_nb_scoring_golden(spark, model_stats):
    model, s = model_stats
    test = spark.createDataFrame(
        [(10, "good fun", 1.0),       # pos-leaning
         (11, "bad sad", 0.0),        # neg-leaning
         (12, "unseen words only", 1.0),  # no vocab hit -> priors only -> tie
         (13, "good good bad", 1.0)], # multinomial: good twice
        "doc_id long, text string, label double")
    out = {r["doc_id"]: r for r in NB.nb_score(test, model, s).collect()}
    assert out[10]["prediction"] == 1.0
    assert out[11]["prediction"] == 0.0
    # equal priors -> pos == neg -> tie -> NEGATIVE (NB.java:250)
    assert out[12]["prediction"] == 0.0
    assert math.isclose(out[12]["score_pos"], math.log(0.5))
    # multinomial: repeated token multiplies repeatedly (NB.java:224-247)
    expected_pos = math.log(0.5) + 2 * math.log(4 / 11) + math.log(1 / 11)
    assert math.isclose(out[13]["score_pos"], expected_pos, rel_tol=1e-12)


def test_svm_effective_weights(train_df):
    w = {r["word"]: r["weight"] for r in SVM.svm_effective_train(train_df).collect()}
    eta = SVM.epoch_lr(5)
    assert math.isclose(w["good"], eta * 3)
    assert math.isclose(w["fun"], 0.0, abs_tol=1e-12)   # 1 pos - 1 neg
    assert math.isclose(w["bad"], -eta * 2)


def test_svm_scoring_and_tie_rule(spark, train_df):
    w = SVM.svm_effective_train(train_df)
    test = spark.createDataFrame(
        [(20, "good good"),   # positive score
         (21, "bad sad"),     # negative score
         (22, "fun"),         # weight 0 -> tie -> POSITIVE (SVM.java:144)
         (23, "unseen")],     # no hit -> score 0 -> POSITIVE
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in SVM.svm_score(test, w).collect()}
    assert out[20]["prediction"] == 1.0
    assert out[21]["prediction"] == 0.0
    assert out[22]["prediction"] == 1.0
    assert out[23]["prediction"] == 1.0 and out[23]["score"] == 0.0


def test_svm_declared_differs_and_converges(train_df):
    """M4 with the epoch chain actually wired: epoch 1 equals the
    effective model at η_1; later epochs see nonzero weights."""
    w1 = SVM.svm_train_declared(train_df, epochs=1)
    eff = {r["word"]: r["weight"] for r in SVM.svm_effective_train(train_df, epoch=1).collect()}
    got = {r["word"]: r["weight"] for r in w1.collect()}
    assert got.keys() == eff.keys()
    for k in eff:
        assert math.isclose(got[k], eff[k], rel_tol=1e-12)
    w3 = SVM.svm_train_declared(train_df, epochs=3)
    got3 = {r["word"]: r["weight"] for r in w3.collect()}
    assert got3 != got  # epochs actually chain (reference bug fixed)


def _pround(x, n):
    m = float(10 ** n)
    return math.floor(x * m + 0.5) / m


def _reference_weights(rows, epochs=SVM.EPOCHS):
    """Pure-Python M4 over ``(label, text)`` rows: the loop the docstring
    of ``svm_train_declared`` describes, one sample per non-blank row,
    one token per single-space piece, margins rounded at MARGIN_DP."""
    base = [(1.0 if y == 1.0 else -1.0, t.split(" "))
            for y, t in rows if t.strip(" ")]
    eta = SVM.epoch_lr(1)
    weights = {}
    for y, ws in base:
        for w in ws:
            weights[w] = weights.get(w, 0.0) + y
    weights = {w: eta * s for w, s in weights.items()}
    for epoch in range(2, epochs + 1):
        eta = SVM.epoch_lr(epoch)
        nv, sy = 0, {}
        for y, ws in base:
            dot = 0.0
            for w in ws:
                dot += weights[w]
            if y * _pround(dot, SVM.MARGIN_DP) < 1.0:
                nv += 1
                for w in ws:
                    sy[w] = sy.get(w, 0.0) + y
        decay = 1.0 - eta * SVM.LAMBDA * nv
        weights = {w: v * decay for w, v in weights.items()}
        for w, s in sy.items():
            weights[w] += eta * s
    return weights


def _train_counting_collects(docs, epochs=SVM.EPOCHS):
    """Declared weights plus the number of ``DataFrame.collect`` calls
    the train made. The spy goes on the classic DataFrame class, whose
    collect overrides the one on ``pyspark.sql.DataFrame``."""
    from pyspark.sql.classic.dataframe import DataFrame

    real_collect = DataFrame.collect
    calls = []
    DataFrame.collect = lambda self: calls.append(self) or real_collect(self)
    try:
        w = SVM.svm_train_declared(docs, epochs=epochs)
    finally:
        DataFrame.collect = real_collect
    assert w.columns == ["word", "weight"]
    return {r["word"]: r["weight"] for r in w.collect()}, len(calls)


def _assert_matches_reference(docs, epochs=SVM.EPOCHS):
    """Declared weights (checked against the reference) and the train's
    collect count."""
    got, n_collects = _train_counting_collects(docs, epochs)
    want = _reference_weights(
        [(r["label"], r["text"]) for r in docs.select("label", "text").collect()],
        epochs)
    assert got.keys() == want.keys()
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-12), k
    return got, n_collects


def test_svm_declared_keeps_duplicate_ids_apart(spark):
    """Two rows sharing a doc id are two samples with two labels, not
    one merged sample."""
    docs = spark.createDataFrame(
        [("1", 1, "good fun day"), ("1", 0, "bad sad day"),
         ("2", 1, "good happy"), ("3", 0, "bad awful"),
         ("4", 1, "fun times"), ("5", 0, "sad day")],
        "doc_id string, label int, text string")
    _assert_matches_reference(docs)


def test_svm_declared_keeps_quoted_tokens(spark):
    """Tokens with quotes and backslashes keep their own weights."""
    docs = spark.createDataFrame(
        [(1, "it's good", 1.0), (2, "c:\\dir good\\", 1.0),
         (3, "don't \\' sad", 0.0), (4, "it's bad\\n", 0.0),
         (5, "'' good fun", 1.0), (6, "bad \\\\ fun", 0.0)],
        "doc_id long, text string, label double")
    got, _ = _assert_matches_reference(docs)
    assert {"it's", "c:\\dir", "good\\", "\\'", "bad\\n", "''",
            "\\\\"} <= got.keys()


@pytest.mark.parametrize("rows,vocab", [
    ([], 0),
    ([(1, "", 1.0), (2, "   ", 0.0), (3, " ", 1.0)], 0),
    ([(1, "good fun", 1.0), (2, "good  day", 1.0), (3, "fun", 1.0)], 4),
], ids=["empty", "all_blank", "single_class"])
def test_svm_declared_degenerate_inputs(spark, rows, vocab):
    """An empty corpus and all-blank text give an empty (word, weight)
    frame; a single class still trains (and keeps the empty token that
    a double space makes)."""
    docs = spark.createDataFrame(rows, "doc_id long, text string, label double")
    assert len(_assert_matches_reference(docs)[0]) == vocab


def _seeded_corpus(spark, n_words, n_rows, seed):
    rng = random.Random(seed)
    pool = [f"w{i}" for i in range(n_words)]
    rows = []
    for i in range(n_rows):
        label = float(i % 2)
        words = rng.choices(pool, k=rng.randint(3, 12))
        words.append("good" if label == 1.0 and rng.random() < 0.7 else "bad")
        rows.append((i, " ".join(words), label))
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


@pytest.mark.parametrize("n_words,n_rows", [(43, 300), (15000, 1800)],
                         ids=["V45", "V9k"])
def test_svm_declared_one_collect_per_epoch(spark, n_words, n_rows):
    """One train is ``epochs`` driver collects (the vocabulary, then one
    sparse gradient per later epoch) at any vocabulary size, and its
    weights match the pure-Python reference."""
    docs = _seeded_corpus(spark, n_words, n_rows, seed=n_words)
    got, n_collects = _assert_matches_reference(docs)
    lo, hi = (45, 45) if n_words < 100 else (8000, 10000)
    assert lo <= len(got) <= hi
    assert n_collects == SVM.EPOCHS
    assert _train_counting_collects(docs, epochs=2)[1] == 2


def test_confusion_and_binary_metrics(spark):
    preds = spark.createDataFrame(
        [(1.0, 1.0)] * 3 + [(1.0, 0.0)] * 1 + [(0.0, 0.0)] * 4 + [(0.0, 1.0)] * 2,
        "prediction double, label double")
    c = M.confusion_counts(preds)
    assert c == {"tp": 3, "fp": 1, "tn": 4, "fn": 2}
    m = M.binary_metrics(c)
    assert math.isclose(m["accuracy"], 0.7)
    assert math.isclose(m["precision"], 3 / 4)
    assert math.isclose(m["recall"], 3 / 5)
    assert math.isclose(m["f1"], 2 * (3/4) * (3/5) / ((3/4) + (3/5)))


def test_weighted_f_measure(spark):
    preds = spark.createDataFrame(
        [(1.0, 1.0)] * 6 + [(0.0, 0.0)] * 2 + [(1.0, 0.0)] * 2,
        "prediction double, label double")
    wf = M.weighted_f_measure(preds)
    # class 1: support 6, P=6/8, R=1, F=12/14; class 0: support 4... wait
    # labels: 1 -> 6 rows, 0 -> 4 rows (2 tn + 2 fp). P0=2/2, R0=2/4, F0=2/3
    expected = (6 / 10) * (2 * (6/8) * 1 / ((6/8) + 1)) + (4 / 10) * (2 * 1 * (2/4) / (1 + 2/4))
    assert math.isclose(wf, expected)


def test_mllib_pipeline_runs(spark, sf_dir):
    """M7/T3/T5/T6/M1: the reference's vector path end-to-end."""
    from text_sentiment_classification_hadoop_spark_spark.operators.sentiment import labeled_documents
    docs = labeled_documents(spark, sf_dir)
    preds, model, cached_frames = SVM.mllib_pipeline(docs, algorithm="nb")
    assert preds.filter(F.col("prediction").isNotNull()).count() > 0
    assert "features" in preds.columns
    for cached in cached_frames:
        cached.unpersist()


def test_mllib_confusion_goldens_sf001(spark):
    """Value-level pin for the two MLlib driver queries
    (mllib_nb_confusion / mllib_svm_confusion): seeded
    randomSplit(1234) + deterministic HashingTF/IDF make the confusion
    counts reproducible run-over-run, same protocol as the reference's
    own evaluation (``NaiveBayes.py:61-75``, ``SVM.py:63-76``).

    Since round 5 the query pins an 8-partition doc_id-sorted layout
    BEFORE the split, so these counts are identical under ANY session
    config (verified under local[4]/4, local[7]/13, local[32]/32) —
    which is what lets the driver hash-check them against the
    literal-VALUES oracle (``__spark_entry__._MLLIB_GOLDEN_SF001``).
    This golden must equal that table; assert against it directly so
    the two can never drift apart."""
    import __spark_entry__ as em

    # sf0.001 only: the sf0.01 fits used to run
    # here too (~13 s of suite), but their pins are enforced every
    # round by the sf0.01 selfcheck/driver hash against the same
    # _MLLIB_GOLDENS literals — the replacement gate. This pytest
    # keeps the fast-scale fit + the majority-class backstop; the
    # sf0.01 loop is back as the opt-in nightly test below, so
    # full-suite runs can still cover it in-process.
    for sf_tag, goldens in [("sf0.001", em._MLLIB_GOLDENS["sf0.001"])]:
      for alg, expected in goldens.items():
        df = em.queries()[f"mllib_{alg}_confusion"](
            spark, f"/root/testdata/{sf_tag}")
        rows = [tuple(r) for r in df.collect()]
        assert rows == expected, (sf_tag, alg)
        # Semantic backstop independent of the exact per-cell pin (the
        # pin is a regression guard, not an oracle): the
        # fit must beat the majority class on its own eval split. If
        # the pin ever flakes on a treeAggregate ulp, this is the
        # assertion that distinguishes "re-derive the pin" from "the
        # fit broke".
        total = sum(c for (_p, _l, c) in rows)
        correct = sum(c for (p, l, c) in rows if p == l)
        per_label: dict = {}
        for _p, l, c in rows:
            per_label[l] = per_label.get(l, 0) + c
        assert correct / total >= max(per_label.values()) / total * 0.8, alg


@pytest.mark.nightly
def test_mllib_confusion_goldens_sf001_nightly(spark):
    """Opt-in: the sf0.01 MLlib confusion pins, trimmed
    from the default suite for wall budget in r14 (replacement gate:
    the sf0.01 selfcheck/driver hash checks the same ``_MLLIB_GOLDENS``
    literals every round). ``SPARK_GRAFT_NIGHTLY=1 pytest -m nightly``
    runs the fits in-process so a local edit breaking the sf0.01 fit is
    catchable without waiting for the next selfcheck round."""
    if not os.environ.get("SPARK_GRAFT_NIGHTLY"):
        pytest.skip("opt-in: SPARK_GRAFT_NIGHTLY=1 (sf0.01 fits ~13 s; "
                    "default-suite gate is the sf0.01 selfcheck/driver "
                    "hash of the same literals)")
    import __spark_entry__ as em

    for alg, expected in em._MLLIB_GOLDENS["sf0.01"].items():
        df = em.queries()[f"mllib_{alg}_confusion"](
            spark, "/root/testdata/sf0.01")
        assert [tuple(r) for r in df.collect()] == expected, alg


def test_nb_compat_raw_underflow_quirk(spark, model_stats):
    """nb_score_compat_raw replicates NB.java:224-250 verbatim: raw
    double products, so a long document underflows BOTH class
    probabilities to 0.0 and the Double.compare tie rule forces
    NEGATIVE — even when the tokens are overwhelmingly positive. The
    log-space scorer classifies the same document POSITIVE."""
    model, stats = model_stats
    docs = spark.createDataFrame(
        [(10, "good good", 1.0),          # short: raw == log-space
         (11, "bad sad", 0.0),
         (12, " ".join(["good"] * 800), 1.0)],  # long: raw underflows
        "doc_id long, text string, label double")
    raw = {r["doc_id"]: r for r in
           NB.nb_score_compat_raw(docs, model, stats).collect()}
    log = {r["doc_id"]: r["prediction"] for r in
           NB.nb_score(docs, model, stats).collect()}
    # short docs: identical confusion behavior
    assert raw[10]["prediction"] == log[10] == 1.0
    assert raw[11]["prediction"] == log[11] == 0.0
    # the quirk: both raw products hit 0.0 -> tie -> NEGATIVE
    assert raw[12]["prob_pos"] == 0.0 and raw[12]["prob_neg"] == 0.0
    assert raw[12]["prediction"] == 0.0
    assert log[12] == 1.0  # log-space is immune
    # raw probabilities match the hand computation on the short doc:
    # prior 0.5, p(good|pos) = 4/11, p(good|neg) = 1/11
    assert math.isclose(raw[10]["prob_pos"], 0.5 * (4 / 11) ** 2)
    assert math.isclose(raw[10]["prob_neg"], 0.5 * (1 / 11) ** 2)


def test_nb_pr_curve_monotonicity(spark):
    """Raising the threshold can only trade recall for precision mass:
    tp and fp are non-increasing in the threshold, fn non-decreasing,
    and tp+fn (the positive count) is constant."""
    import __spark_entry__ as entry
    rows = entry.queries()["nb_pr_curve"](
        spark, "/root/testdata/sf0.001").orderBy("thr_idx").collect()
    assert len(rows) == 9
    assert [r["threshold"] for r in rows] == \
        sorted(r["threshold"] for r in rows)
    for a, b in zip(rows, rows[1:]):
        if b["threshold"] > a["threshold"]:
            assert b["tp"] <= a["tp"] and b["fp"] <= a["fp"]
            assert b["fn"] >= a["fn"]
    assert len({r["tp"] + r["fn"] for r in rows}) == 1
    for r in rows:
        if r["precision"] is not None:
            assert 0.0 <= r["precision"] <= 1.0
        if r["recall"] is not None:
            assert 0.0 <= r["recall"] <= 1.0


def test_nb_calibration_partitions_and_monotone(spark, sf_dir):
    """The 10 margin-decile buckets partition the test set (sizes sum
    to n, each within 1 of n/10), bucket margin ranges are disjoint
    and ascending, and pos_rate is the exact micro ratio."""
    import __spark_entry__ as entry
    rows = entry._nb_calibration(spark, sf_dir).collect()
    assert [r["bucket"] for r in rows] == list(range(1, 11))
    n = sum(r["n"] for r in rows)
    for r in rows:
        assert abs(r["n"] - n / 10) <= 1
        assert r["min_m"] <= r["max_m"]
        assert r["pos_rate_micro"] == round(r["n_pos"] / r["n"] + 1e-12, 6) \
            or abs(r["pos_rate_micro"] - r["n_pos"] / r["n"]) < 1e-6
    for a, b in zip(rows, rows[1:]):
        assert a["max_m"] <= b["min_m"]


def test_nb_auc_matches_bruteforce_pairs(spark, sf_dir):
    """The rank-sum AUC equals the brute-force pair definition
    P(m_pos > m_neg) + 0.5·P(tie) recomputed from the same scored
    margins — the O(n_pos·n_neg) enumeration the operator avoids."""
    import __spark_entry__ as entry
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import py_pround
    from text_sentiment_classification_hadoop_spark_spark.operators.sentiment import (
        _nb_trained, labeled_documents, train_test)

    r = entry.queries()["nb_auc"](spark, sf_dir).head()
    _, test = train_test(labeled_documents(spark, sf_dir))
    model, stats = _nb_trained(spark, sf_dir)
    scored = NB.nb_score(test, model, stats).select(
        "label", (F.col("score_pos") - F.col("score_neg")).alias("m")
    ).collect()
    pos = [py_pround(x["m"], 6) for x in scored if x["label"] == 1.0]
    neg = [py_pround(x["m"], 6) for x in scored if x["label"] != 1.0]
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    wins = sum(1 for a in pos for b in neg if a > b)
    ties = sum(1 for a in pos for b in neg if a == b)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert r["auc"] == pytest.approx(auc, abs=1e-6)
    # the sf0.001 test split is tiny (~tens of docs): the model may
    # land either side of chance — only the [0,1] range is invariant;
    # the exact pair-definition parity above is the real check
    assert 0.0 <= r["auc"] <= 1.0
    assert r["n_tiers"] == len(set(pos) | set(neg))
