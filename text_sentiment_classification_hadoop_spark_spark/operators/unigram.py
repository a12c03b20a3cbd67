"""Distributed unigram-LM (SentencePiece-style) tokenizer trainer —
the most-cited alternative to BPE (Kudo 2018, "Subword Regularization",
arXiv:1804.10959 §3; the algorithm behind SentencePiece's default
``--model_type=unigram``). The BPE sibling: where :mod:`.bpe` grows a
vocab bottom-up by merging, the unigram trainer starts from a LARGE
candidate vocabulary and alternates EM re-estimation with pruning.

Architecture (mirrors the BPE module's corpus/dictionary split):

1. **Corpus -> word-frequency dictionary** (``bpe.word_freqs``) — the
   only corpus-sized stage; everything after runs on the
   vocabulary-sized word table, exactly like production SentencePiece
   (which trains on a word-count table, not raw text).
2. **Candidate lattice** (:func:`substring_edges`): every substring of
   length ≤ ``MAX_PIECE_LEN`` of every dictionary word, as edges
   ``(word, i, j, piece)`` of the per-word segmentation lattice.
   Built ONCE; EM iterations only re-join it against the shrinking
   vocab (broadcast — the vocab is bounded by ``seed/vocab`` sizes).
3. **Hard-EM loop** (:func:`unigram_train_df`): the E-step runs an
   exact min-cost segmentation DP per word — forward and backward
   passes as ONE SQL ``aggregate`` higher-order expression over the
   word's edge array (no per-row Python, no joins inside the DP; the
   whole E-step is a single projection over the word table). A piece
   is COUNTED when one of its lattice edges lies on SOME minimum-cost
   segmentation (``f[i] + cost + b[j] == f[len]`` — the standard
   optimal-subpath membership test), weighted by word frequency.
   The E-step's piece counts (at most one row per vocab piece) are
   collected, and the M-step runs on the driver: it re-ranks pieces
   by expected count, prunes multi-char pieces to ``vocab_multi``
   (count desc, piece asc — deterministic), re-quantizes costs and
   ships the vocab to the next E-step as a local frame.

Determinism / oracle parity: piece costs are INTEGER MICRO-NATS, one
value per vocab row per iteration (``floor(1e6·ln(total/cnt))`` — the
c-TF-IDF idf_micro discipline: the only float op is a per-piece
ln+floor, never per-occurrence; the driver takes it with Python's
``math.log``, which matched DuckDB's ``ln`` bit for bit on 200k random
count ratios), so every DP compare/add is exact
BIGINT and the learned vocab is bit-identical across engines and
partitionings. Single-character pieces are NEVER pruned and carry +1
Laplace smoothing (a char can sit on no optimal path yet must stay
segmentable — the coverage anchor SentencePiece gets from its
required-character set), so every word always has a finite-cost
segmentation and the DP's ``array_min`` never sees an empty list.

Scale: the corpus appears once (word_freqs); the lattice is
``O(|vocab_words| · MAX_WORD_LEN · MAX_PIECE_LEN)`` rows, checkpointed
once because every iteration reads it; each EM iteration is one
broadcast join + one projection (the DP) + one word-table-sized
explode/aggregate, collected. The driver holds only the vocab
(``seed_multi`` or ``vocab_multi`` pieces plus the chars). At 100 TB
only stage 1 grows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame, persisted_rdd_ids, unpersist_rdds
from .bpe import word_freqs

#: lattice / trainer defaults (shared with the registry oracle)
MAX_PIECE_LEN = 4
MAX_WORD_LEN = 12
SEED_MULTI = 80
VOCAB_MULTI = 40
EM_ITERS = 2

#: the per-word min-cost segmentation DP, as one SQL higher-order
#: expression over the edge array ``ed`` (elements ``struct<i,j,cost>``)
#: and word length ``len``. Forward: ``f[j]`` (1-indexed ``f[j+1]``) =
#: cheapest cost of segmenting chars [0, j). Pure BIGINT adds + min.
_FWD = """aggregate(
  sequence(1, len),
  array(0L),
  (acc, j) -> array_append(acc,
    array_min(transform(
      filter(ed, e -> e.j = j),
      e -> element_at(acc, e.i + 1) + e.cost))))"""

#: backward DP, iterating positions len-1 .. 0; the accumulator stores
#: costs for positions len, len-1, ... so ``b[pos]`` lives at index
#: ``len - pos + 1`` (every referenced e.j > current j is already in).
_BWD = """aggregate(
  sequence(len - 1, 0, -1),
  array(0L),
  (acc, j) -> array_append(acc,
    array_min(transform(
      filter(ed, e -> e.i = j),
      e -> element_at(acc, len - e.j + 1) + e.cost))))"""


def substring_edges(wf: DataFrame) -> DataFrame:
    """Lattice edge table ``(word, freq, len, i, j, piece)``: every
    substring of length 1..:data:`MAX_PIECE_LEN` of every dictionary
    word (words longer than :data:`MAX_WORD_LEN` are excluded from
    trainer statistics — SentencePiece's max-sentencepiece-length
    analogue).
    Two bounded explodes over the vocabulary-sized word table."""
    w = (wf.filter(F.length("word") <= MAX_WORD_LEN)
         .select("word", "freq", F.length("word").alias("len")))
    i = w.select(
        "word", "freq", "len",
        F.explode(F.sequence(F.lit(0), F.col("len") - 1)).alias("i"))
    return (i.select(
        "word", "freq", "len", "i",
        F.explode(F.sequence(
            F.lit(1),
            F.least(F.lit(MAX_PIECE_LEN), F.col("len") - F.col("i"))))
        .alias("_l"))
        .select("word", "freq", "len", "i",
                (F.col("i") + F.col("_l")).alias("j"),
                F.expr("substr(word, i + 1, _l)").alias("piece")))


def _m_step(counts: dict[str, int], chars: list[str],
            n_multi: int) -> dict[str, tuple[int, int]]:
    """The M-step on the driver → ``{piece: (exp_count, cost_micro)}``.
    ALL single chars are kept with Laplace +1 (never pruned, coverage
    anchors; ``counts`` may lack zero-count chars), plus the top
    ``n_multi`` multi-char pieces by (count desc, piece asc). Costs are
    normalized over the kept vocab and quantized to integer micro-nats,
    ``floor(1e6 · ln(total/cnt))`` — one float op per vocab piece,
    never per occurrence, as the DuckDB oracle computes it."""
    kept = {c: counts.get(c, 0) + 1 for c in chars}
    kept.update(sorted(((p, c) for p, c in counts.items() if len(p) > 1),
                       key=lambda pc: (-pc[1], pc[0]))[:int(n_multi)])
    tot = float(sum(kept.values()))
    return {p: (c, math.floor(math.log(tot / float(c)) * 1e6))
            for p, c in kept.items()}


def _piece_counts(edges: DataFrame, vocab: DataFrame) -> DataFrame:
    """The E-step → ``(piece, cnt)``: the hard-EM expected count of
    every piece of ``vocab`` (``(piece, cost_micro)``) that lies on a
    minimum-cost segmentation of some word, weighted by word freq."""
    lat = (edges.join(F.broadcast(vocab), "piece")
           .groupBy("word", "freq", "len")
           .agg(F.collect_list(
               F.struct(F.col("i"), F.col("j"),
                        F.col("cost_micro").alias("cost"),
                        F.col("piece"))).alias("ed")))
    dp = lat.select(
        "freq", "len", "ed",
        F.expr(_FWD).alias("f"), F.expr(_BWD).alias("b"))
    used = (dp.select(
        "freq", "len", "f", "b", F.explode("ed").alias("e"))
        .filter(F.expr(
            "element_at(f, e.i + 1) + e.cost "
            "+ element_at(b, len - e.j + 1) "
            "= element_at(f, len + 1)")))
    return (used.groupBy(F.col("e.piece").alias("piece"))
            .agg(F.sum("freq").alias("cnt")))


def unigram_train_df(docs: DataFrame, text_col: str = "text",
                     seed_multi: int = SEED_MULTI,
                     vocab_multi: int = VOCAB_MULTI,
                     em_iters: int = EM_ITERS) -> DataFrame:
    """Train the unigram LM vocab over ``docs`` → final
    ``(piece, exp_count, cost_micro)`` local frame ordered (exp_count
    desc, piece) — see the module docstring for the algorithm and
    determinism contract. The lattice checkpoint is released before
    returning, so the result holds no cached blocks."""
    spark = docs.sparkSession
    held = persisted_rdd_ids(spark)
    edges = substring_edges(word_freqs(docs, text_col=text_col)) \
        .localCheckpoint(eager=True)
    lattice = persisted_rdd_ids(spark) - held
    try:
        # seed: occurrence counts of every candidate substring (weighted
        # by word freq, overlaps counted separately — the standard seed
        # stats); one collect reads the chars and the top multi-char
        # pieces
        seed = edges.groupBy("piece").agg(F.sum("freq").alias("cnt"))
        is_char = F.length("piece") == 1
        seed_rows = seed.filter(is_char).unionByName(
            seed.filter(~is_char).orderBy(F.col("cnt").desc(), F.col("piece"))
            .limit(int(seed_multi))).collect()
        chars = [r["piece"] for r in seed_rows if len(r["piece"]) == 1]
        vocab = _m_step({r["piece"]: r["cnt"] for r in seed_rows},
                        chars, seed_multi)
        for _ in range(em_iters):
            shipped = local_frame(
                spark, [(p, cm) for p, (_, cm) in vocab.items()],
                "piece string, cost_micro bigint")
            counts = {r["piece"]: r["cnt"]
                      for r in _piece_counts(edges, shipped).collect()}
            vocab = _m_step(counts, chars, vocab_multi)
    finally:
        unpersist_rdds(spark, lattice)
    return local_frame(
        spark, sorted(((p, c, cm) for p, (c, cm) in vocab.items()),
                      key=lambda r: (-r[1], r[0])),
        "piece string, exp_count bigint, cost_micro bigint")


#: apply-side DP: same forward recurrence as :data:`_FWD` but the
#: accumulator carries ``struct(c, n)`` = (total cost, piece count),
#: so ``array_min``'s lexicographic struct ordering yields the
#: minimum-cost segmentation with the FEWEST pieces among cost ties —
#: a total, engine-stable tie rule (no backtrace walk needed when the
#: consumer only wants per-word token budgets). Unlike the training
#: DP (where full char coverage is guaranteed by construction), an
#: APPLIED vocab may not char-cover the word: an UNREACHABLE position
#: gets the :data:`_UNREACHABLE` sentinel cost (``coalesce`` over the
#: empty ``array_min``) rather than a NULL element — a NULL struct in
#: the accumulator would sort below every real cost AND trips a
#: codegen NPE on field access — and the sentinel propagates
#: monotonically (INF + cost ≥ INF, no overflow: ≤ MAX_WORD_LEN
#: additions of 1e15 ≪ 2^63), so an unsegmentable word ends ≥ INF
#: and is reported as NULL by the caller, never as a wrong number.
_UNREACHABLE = 10 ** 15

_FWD_COUNT = f"""aggregate(
  sequence(1, len),
  array(struct(0L AS c, 0L AS n)),
  (acc, j) -> array_append(acc,
    coalesce(
      array_min(transform(
        filter(ed, e -> e.j = j),
        e -> struct(element_at(acc, e.i + 1).c + e.cost AS c,
                    element_at(acc, e.i + 1).n + 1L AS n))),
      struct(CAST({_UNREACHABLE} AS BIGINT) AS c, 0L AS n))))"""


def unigram_token_counts(docs: DataFrame, vocab: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """APPLY a trained unigram vocab (:func:`unigram_train_df` output:
    ``(piece, exp_count, cost_micro)``) to a corpus → per-word token
    budgets ``(word, freq, n_pieces, cost_micro)`` ordered by word —
    the BPE sibling's ``bpe_doc_token_counts`` analogue (the number a
    training-data pipeline needs for sequence packing and token
    accounting).

    ``n_pieces`` is the piece count of the minimum-cost Viterbi
    segmentation, ties broken toward FEWER pieces (lexicographic
    ``struct(cost, n)`` min — total and engine-stable, so no
    backtrace pass). Same corpus/dictionary split as training: the
    corpus appears once in ``word_freqs``; the lattice join and the
    one-projection DP run on the dictionary.

    NULL contract: ``n_pieces``/``cost_micro`` are NULL
    exactly when the word is NOT segmentable under this vocab — it is
    longer than ``MAX_WORD_LEN`` (excluded from training statistics),
    or the vocab does not char-cover it (possible when applying a
    vocab trained on a DIFFERENT corpus; a vocab from
    :func:`unigram_train_df` over the same corpus always covers — all
    single chars are retained). No word is ever silently dropped: words
    whose lattice loses every edge to the vocab join are re-attached
    as NULL rows, and partially-covered words get a NULL (not a
    wrong) DP result via the NULL-safe :data:`_FWD_COUNT` filter."""
    wf = word_freqs(docs, text_col=text_col)
    edges = substring_edges(wf)
    lat = (edges.join(F.broadcast(vocab.select("piece", "cost_micro")),
                      "piece")
           .groupBy("word", "freq", "len")
           .agg(F.collect_list(
               F.struct(F.col("i"), F.col("j"),
                        F.col("cost_micro").alias("cost"))).alias("ed")))
    dp = lat.select(
        "word", "freq",
        F.expr(f"element_at({_FWD_COUNT}, len + 1)").alias("_best"))
    reachable = F.col("_best.c") < F.lit(_UNREACHABLE)
    scored = dp.select(
        "word", F.col("freq").cast("long").alias("freq"),
        F.when(reachable, F.col("_best.n")).alias("n_pieces"),
        F.when(reachable, F.col("_best.c")).alias("cost_micro"))
    # long words AND short words whose every lattice edge was dropped
    # by the vocab join (no char coverage at all) — both re-attached
    # as NULL rows so no word is silently lost
    unsegmented = (wf.join(lat.select("word"), "word", "left_anti")
                   .select("word", F.col("freq").cast("long").alias("freq"),
                           F.lit(None).cast("long").alias("n_pieces"),
                           F.lit(None).cast("long").alias("cost_micro")))
    return scored.unionByName(unsegmented).orderBy("word")
