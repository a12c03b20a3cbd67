"""Unigram-LM tokenizer trainer (operators/unigram.py): exact parity
with a pure-Python reference implementation of the same hard-EM
semantics, coverage/pruning invariants, and partition stability."""

import math
import re
from collections import Counter

import pytest

from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
from text_sentiment_classification_hadoop_spark_spark.operators import unigram as U
from text_sentiment_classification_hadoop_spark_spark.operators.bpe import word_freqs
from text_sentiment_classification_hadoop_spark_spark.session import (
    persisted_rdd_ids,
    unpersist_rdds,
)


def _py_unigram(texts, max_piece_len, max_word_len, seed_multi,
                vocab_multi, em_iters):
    """Reference implementation — same integer micro-nat costs, same
    optimal-subpath counting, same tie rules as the operator."""
    wf = Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+", t.lower()):
            wf[w] += 1
    wf = {w: f for w, f in wf.items() if len(w) <= max_word_len}
    edges = {}
    for w in wf:
        es = []
        for i in range(len(w)):
            for ln in range(1, min(max_piece_len, len(w) - i) + 1):
                es.append((i, i + ln, w[i:i + ln]))
        edges[w] = es
    chars = sorted({p for es in edges.values()
                    for (_, _, p) in es if len(p) == 1})

    def select(counts, n_multi):
        sel = {c: counts.get(c, 0) + 1 for c in chars}
        multi = sorted(((p, c) for p, c in counts.items() if len(p) > 1),
                       key=lambda x: (-x[1], x[0]))[:n_multi]
        sel.update(dict(multi))
        return sel

    def costed(sel):
        tot = sum(sel.values())
        return {p: (c, math.floor(math.log(tot / c) * 1_000_000))
                for p, c in sel.items()}

    seed = Counter()
    for w, es in edges.items():
        for (_, _, p) in es:
            seed[p] += wf[w]
    vocab = costed(select(seed, seed_multi))
    for _ in range(em_iters):
        cnt = Counter()
        for w, es in edges.items():
            n = len(w)
            lat = [(i, j, p, vocab[p][1]) for (i, j, p) in es if p in vocab]
            f = [0] + [None] * n
            for j in range(1, n + 1):
                f[j] = min(f[i] + c for (i, jj, _, c) in lat if jj == j)
            b = [None] * n + [0]
            for i in range(n - 1, -1, -1):
                b[i] = min(c + b[jj] for (ii, jj, _, c) in lat if ii == i)
            for (i, jj, p, c) in lat:
                if f[i] + c + b[jj] == f[n]:
                    cnt[p] += wf[w]
        vocab = costed(select(cnt, vocab_multi))
    return sorted(((p, c, cm) for p, (c, cm) in vocab.items()),
                  key=lambda r: (-r[1], r[0]))


TEXTS = [
    "the cat sat on the mat the cat ran",
    "a cat and a rat sat on a mat",
    "the rat ran to the cat on the mat",
    "mats and cats and rats ran and sat",
    "the the the cat cat mat rat ran sat on and a to",
]


def test_unigram_matches_python_reference(spark):
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                                 "doc_id long, text string")
    got = [(r["piece"], r["exp_count"], r["cost_micro"]) for r in
           U.unigram_train_df(docs, seed_multi=10, vocab_multi=6,
                              em_iters=2).collect()]
    want = _py_unigram(TEXTS, U.MAX_PIECE_LEN, U.MAX_WORD_LEN,
                       seed_multi=10, vocab_multi=6, em_iters=2)
    assert got == want


def test_unigram_char_coverage_and_prune_bound(spark):
    """Every single character of the (length-filtered) word inventory
    survives every prune; multi-char pieces respect vocab_multi."""
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                                 "doc_id long, text string")
    rows = U.unigram_train_df(docs, seed_multi=12, vocab_multi=4,
                              em_iters=1).collect()
    pieces = {r["piece"] for r in rows}
    corpus_chars = set("".join(re.findall(
        r"[a-z]+", " ".join(TEXTS).lower())))
    assert {p for p in pieces if len(p) == 1} == corpus_chars
    assert sum(1 for p in pieces if len(p) > 1) <= 4
    assert all(r["cost_micro"] >= 0 for r in rows)


def test_unigram_partition_invariance(spark):
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS * 3)],
                                 "doc_id long, text string")
    a = [tuple(r) for r in U.unigram_train_df(
        docs, seed_multi=8, vocab_multi=5, em_iters=2).collect()]
    b = [tuple(r) for r in U.unigram_train_df(
        docs.repartition(7), seed_multi=8, vocab_multi=5,
        em_iters=2).collect()]
    assert a == b


def test_unigram_plan_has_no_python_udf(spark, sf_dir):
    """The DP is SQL higher-order functions — the whole E-step must
    stay JVM-side (no BatchEvalPython / PythonUDF in the plan)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = U.unigram_train_df(docs, em_iters=0).select("piece", "cost_micro")
    df = U._piece_counts(U.substring_edges(word_freqs(docs)), vocab)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan and "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_unigram_em_iteration_is_one_collect(spark, jobs_started):
    """An EM iteration starts the E-step's collect and nothing else:
    the M-step runs on the driver, with no join, cross join or
    checkpoint. The train holds no persisted RDD when it returns, so
    the registry's ``unigram_vocab`` reuse entry owns none."""
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                                 "doc_id long, text string").cache()
    docs.count()
    held = persisted_rdd_ids(spark)
    _, one = jobs_started(lambda: U.unigram_train_df(docs, em_iters=1))
    _, two = jobs_started(lambda: U.unigram_train_df(docs, em_iters=2))
    assert persisted_rdd_ids(spark) == held

    edges = U.substring_edges(word_freqs(docs)).localCheckpoint(eager=True)
    vocab = U.unigram_train_df(docs, em_iters=0).select("piece", "cost_micro")
    _, e_step = jobs_started(lambda: U._piece_counts(edges, vocab).collect())
    assert 0 < two - one <= e_step
    unpersist_rdds(spark, persisted_rdd_ids(spark) - held)
    docs.unpersist()


@pytest.mark.parametrize("texts, n_merges", [
    ([], 0), (["123 456 !!", "?? 42"], 0),
    (["abcdefghijklmnop qrstuvwxyzabcdefg"], 8)],
    ids=["empty", "no_letters", "only_long_words"])
def test_trainers_on_degenerate_corpora(spark, texts, n_merges):
    """Neither trainer raises on a corpus with nothing to learn from.
    The unigram trainer returns an empty three-column vocab: words
    longer than MAX_WORD_LEN are outside its statistics. BPE has no
    length limit, so it learns from long words and returns no merge
    only when the dictionary is empty."""
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    assert all(len(w) > U.MAX_WORD_LEN for t in texts
               for w in re.findall(r"[a-z]+", t))
    vocab = U.unigram_train_df(docs)
    assert vocab.columns == ["piece", "exp_count", "cost_micro"]
    assert vocab.collect() == []
    wf = word_freqs(docs)
    for batch_k in (1, 4):
        assert len(BPE.bpe_train(wf, n_merges=8, batch_k=batch_k)) == n_merges


def test_unigram_token_counts_matches_python_viterbi(spark):
    """Apply-side parity: per-word (n_pieces, cost) equal a Python
    Viterbi with the same fewest-pieces-on-cost-ties rule."""
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                                 "doc_id long, text string")
    vocab = U.unigram_train_df(docs, seed_multi=10, vocab_multi=6,
                               em_iters=2)
    got = {r["word"]: (r["n_pieces"], r["cost_micro"]) for r in
           U.unigram_token_counts(docs, vocab).collect()}
    costs = {r["piece"]: r["cost_micro"] for r in vocab.collect()}
    wf = Counter(w for t in TEXTS for w in re.findall(r"[a-z]+", t.lower()))
    want = {}
    for w in wf:
        n = len(w)
        best = [(0, 0)] + [None] * n
        for j in range(1, n + 1):
            cands = []
            for i in range(max(0, j - U.MAX_PIECE_LEN), j):
                p = w[i:j]
                if p in costs:
                    cands.append((best[i][0] + costs[p], best[i][1] + 1))
            best[j] = min(cands)
        want[w] = (best[n][1], best[n][0])
    assert got == want
    # invariant: every word segmentable, 1 <= n_pieces <= len(word)
    assert all(1 <= got[w][0] <= len(w) for w in wf)

def test_unigram_token_counts_null_contract_foreign_corpus(spark):
    """Applying a vocab to a corpus it does not char-cover
    must yield NULL n_pieces/cost_micro rows (never wrong numbers,
    never silent drops) — for (a) words with NO vocab-known piece at
    all (lattice emptied by the join), (b) words PARTIALLY covered
    (an unreachable DP position must not poison later minima), and
    (c) words longer than max_word_len. Covered words still match
    the same-corpus result exactly."""
    train = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                                  "doc_id long, text string")
    vocab = U.unigram_train_df(train, seed_multi=10, vocab_multi=6,
                               em_iters=1)
    # 'z'/'b' are not in the training char inventory; the last word
    # is 13 chars (> MAX_WORD_LEN=12)
    apply_docs = spark.createDataFrame(
        [(0, "zzz zebra cat on thecatsatonmat")],
        "doc_id long, text string")
    got = {r["word"]: (r["n_pieces"], r["cost_micro"]) for r in
           U.unigram_token_counts(apply_docs, vocab).collect()}
    assert set(got) == {"zzz", "zebra", "cat", "on", "thecatsatonmat"}
    assert got["zzz"] == (None, None)            # no edge survives
    assert got["zebra"] == (None, None)          # partial char coverage
    assert got["thecatsatonmat"] == (None, None)  # > max_word_len
    for w in ("cat", "on"):                      # covered: real numbers
        assert got[w][0] is not None and 1 <= got[w][0] <= len(w)


def test_ranged_cumsum_null_sum_values(spark):
    """NULLs in a sum column contribute 0 in BOTH phases —
    an all-NULL partition must not raise int(None), and row-level
    NULLs must leave the cumulative sums consistent with the grand
    totals."""
    from text_sentiment_classification_hadoop_spark_spark.functions.prefix import ROWS, ranged_cumsum
    rows = [(i, None if i % 3 == 0 else i * 10) for i in range(30)]
    df = spark.createDataFrame(rows, "k long, v long")
    out, totals = ranged_cumsum(df, ["k"], ["v"], n_parts=4)
    got = {r["k"]: (r["_cum_v"], r[ROWS]) for r in out.collect()}
    run = 0
    for i in range(30):
        run += 0 if i % 3 == 0 else i * 10
        assert got[i] == (run, i + 1)
    assert totals["v"] == run and totals["rows"] == 30
    # degenerate: EVERY value NULL in every partition
    all_null = spark.createDataFrame(
        [(i, None) for i in range(8)], "k long, v long")
    out2, totals2 = ranged_cumsum(all_null, ["k"], ["v"], n_parts=3)
    assert totals2["v"] == 0 and totals2["rows"] == 8
    assert all(r["_cum_v"] == 0 for r in out2.collect())
