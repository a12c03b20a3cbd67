"""The in-row vocabulary lookup (``functions.vocab``) and the three
scorers built on it: every word finds its own slot, no other string
finds one, and each row is scored on its own, exactly as a per-row
Python loop over the same model scores it."""

import math
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.functions import vocab as V
from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
from text_sentiment_classification_hadoop_spark_spark.operators import svm as SVM

SETTINGS = dict(deadline=None, suppress_health_check=[HealthCheck.too_slow])

# words with quotes, backslashes, non-ASCII letters and the empty token
WORDS = st.text(alphabet=st.sampled_from("ab'\\\"é日😀 "), max_size=4)


def _lookup(spark, words, probes):
    """``(table, slot of every probe, value of every probe)`` for a
    table over ``words`` whose value is each word's index."""
    model = spark.createDataFrame([(w, float(i)) for i, w in enumerate(words)],
                                  "word string, v double")
    table = V.from_frame(model, "word", v="v")
    probe = spark.createDataFrame([(probes,)], "p array<string>")
    row = table.with_column(probe, "_r", lambda t: F.struct(
        table.token_slots(t, F.col("p")).alias("s"),
        F.transform(table.token_slots(t, F.col("p")),
                    lambda s: F.get(t["v"], s)).alias("v"))).head()["_r"]
    return table, row["s"], row["v"]


@given(words=st.lists(WORDS, unique=True, max_size=40),
       unseen=st.lists(WORDS, max_size=10))
@example(words=[], unseen=["", "a"])
@example(words=["", "it's", "c:\\dir", "\\'", "héllo", "日本"],
         unseen=["it", "'s", "c:", "hello", " "])
@settings(**SETTINGS)
def test_every_word_finds_its_own_slot(spark, words, unseen):
    unseen = [u for u in unseen if u not in words]
    table, slots, values = _lookup(spark, words, words + unseen)
    assert table.size >= len(words) and len(set(table.slots)) == len(words)
    assert slots[:len(words)] == table.slots
    assert values[:len(words)] == [float(i) for i in range(len(words))]
    # an unseen word finds no slot, so it contributes nothing
    assert slots[len(words):] == [-1] * len(unseen)
    assert values[len(words):] == [None] * len(unseen)


def test_a_failed_insert_grows_the_table(spark, monkeypatch):
    """Starting from one slot, every insert after the first fails until
    the table has grown; the grown table still finds every word."""
    monkeypatch.setattr(V, "_initial_size", lambda n: 1)
    words = [f"w{i}" for i in range(40)] + ["", "it's"]
    table, slots, values = _lookup(spark, words, words + ["w40"])
    assert table.size > len(words)
    assert slots[:-1] == table.slots and slots[-1] == -1
    assert values[:-1] == [float(i) for i in range(len(words))]


@given(st.lists(st.tuples(st.integers(-2**63, 2**63 - 1),
                          st.integers(-2**31, 2**31 - 1)),
                max_size=300, unique_by=lambda p: p[0]))
@settings(max_examples=200, deadline=None)
def test_cuckoo_slots_are_distinct_hash_choices(pairs):
    h1 = [a for a, _ in pairs]
    h2 = [b for _, b in pairs]
    n, slots = V.cuckoo_slots(h1, h2)
    assert len(set(slots)) == len(slots)
    assert all(s in (a % n, b % n) for s, a, b in zip(slots, h1, h2))


def test_cuckoo_grows_past_a_crowded_start():
    """Five words whose hashes all meet in one slot at the first size
    force a failed insert; the grown table separates them."""
    n0 = V._initial_size(5)
    h = [k * n0 for k in range(5)]
    n, slots = V.cuckoo_slots(h, h)
    assert n > n0 and len(set(slots)) == 5


def test_identical_hash_pairs_are_refused():
    with pytest.raises(ValueError):
        V.cuckoo_slots([7, 7, 7], [3, 3, 3])


# ------------------------------------------------------------ scorers

def _corpus(n_rows, n_words, seed):
    """Rows ``(doc_id, text, label)`` with Zipf-drawn words, repeated
    ids, double spaces, blank and NULL text."""
    rng = random.Random(seed)
    pool = [f"w{i}" for i in range(n_words)] + ["it's", "c:\\dir", "héllo"]
    weights = [1.0 / (r + 1) for r in range(len(pool))]
    rows = []
    for i in range(n_rows):
        label = float(rng.random() < 0.5)
        words = rng.choices(pool, weights, k=rng.randint(1, 12))
        words.append("good" if label == 1.0 else "bad")
        text = rng.choice([" ".join(words), "  ".join(words), "", "   ", None]
                          if rng.random() < 0.1 else [" ".join(words)])
        rows.append((i // 2, text, label))  # ids repeat in pairs
    return rows


def _tokens(text):
    return text.split(" ") if text is not None and text.strip(" ") else []


def _pround(x, n):
    m = float(10 ** n)
    return math.floor(x * m + 0.5) / m


@pytest.fixture(scope="module")
def corpus(spark):
    schema = "doc_id long, text string, label double"
    train = spark.createDataFrame(_corpus(400, 300, 1), schema)
    test = spark.createDataFrame(_corpus(200, 400, 2), schema)
    return train, test


def test_nb_scores_match_a_per_row_reference(corpus):
    train, test = corpus
    model, stats = NB.nb_train(train)
    m = {r["word"]: r for r in model.collect()}
    prior_pos = stats.pos_tweets_size / stats.tweets_size
    prior_neg = stats.neg_tweets_size / stats.tweets_size
    docs = test.collect()
    log_rows = NB.nb_score(test, model, stats).collect()
    raw_rows = NB.nb_score_compat_raw(test, model, stats).collect()
    assert len(log_rows) == len(raw_rows) == len(docs)
    for doc, lg, raw in zip(docs, log_rows, raw_rows):
        assert (lg["doc_id"], lg["text"]) == (raw["doc_id"], raw["text"]) \
            == (doc["doc_id"], doc["text"])
        hits = [m[w] for w in _tokens(doc["text"]) if w in m]
        sp, sn, pp, pn = 0.0, 0.0, 1.0, 1.0
        for r in hits:
            sp += r["log_p_pos"]
            sn += r["log_p_neg"]
            pp *= (r["pos_count"] + 1) / float(stats.pos_words_size + stats.features_size)
            pn *= (r["neg_count"] + 1) / float(stats.neg_words_size + stats.features_size)
        assert math.isclose(lg["score_pos"], math.log(prior_pos) + sp, rel_tol=1e-12)
        assert math.isclose(lg["score_neg"], math.log(prior_neg) + sn, rel_tol=1e-12)
        assert lg["prediction"] == (
            1.0 if _pround(lg["score_pos"] - lg["score_neg"], 6) > 0 else 0.0)
        assert raw["prob_pos"] == prior_pos * pp and raw["prob_neg"] == prior_neg * pn
        assert raw["prediction"] == (1.0 if prior_pos * pp > prior_neg * pn else 0.0)


def test_svm_scores_match_a_per_row_reference(corpus):
    train, test = corpus
    weights = SVM.svm_train_declared(train)
    w = {r["word"]: r["weight"] for r in weights.collect()}
    docs = test.collect()
    rows = SVM.svm_score(test, weights).collect()
    assert [(r["doc_id"], r["text"]) for r in rows] == \
        [(d["doc_id"], d["text"]) for d in docs]
    for doc, r in zip(docs, rows):
        score = 0.0
        for tok in _tokens(doc["text"]):
            score += w.get(tok, 0.0)
        assert r["score"] == score
        assert r["prediction"] == (1.0 if _pround(score, 6) >= 0 else 0.0)


@pytest.fixture(scope="module")
def tiny_model(spark):
    train = spark.createDataFrame(
        [(1, "good good fun", 1.0), (2, "good happy", 1.0),
         (3, "bad sad", 0.0), (4, "bad awful fun", 0.0)],
        "doc_id long, text string, label double")
    return train, NB.nb_train(train)


@pytest.mark.parametrize("scorer", ["nb", "nb_raw", "svm"])
def test_rows_that_share_an_id_keep_their_own_scores(spark, tiny_model, scorer):
    """A positive and a negative tweet under one id get one score each,
    the score each gets alone."""
    train, (model, stats) = tiny_model
    score = {"nb": lambda d: NB.nb_score(d, model, stats),
             "nb_raw": lambda d: NB.nb_score_compat_raw(d, model, stats),
             "svm": lambda d: SVM.svm_score(d, SVM.svm_effective_train(train))}[scorer]
    schema = "doc_id long, text string, label double"
    pair = spark.createDataFrame(
        [(7, "good happy good", 1.0), (7, "bad sad awful", 0.0)], schema)
    got = sorted(tuple(r) for r in score(pair).drop("doc_id").collect())
    alone = sorted(tuple(r) for text, label in
                   (("good happy good", 1.0), ("bad sad awful", 0.0))
                   for r in score(spark.createDataFrame(
                       [(1, text, label)], schema)).drop("doc_id").collect())
    assert got == alone
    assert sorted((r["label"], r["prediction"]) for r in
                  score(pair).collect()) == [(0.0, 0.0), (1.0, 1.0)]
