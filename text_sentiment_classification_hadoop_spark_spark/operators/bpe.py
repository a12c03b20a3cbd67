"""Distributed byte-pair-encoding (BPE) tokenizer training + apply
(north-star LLM-data-pipeline surface; the tokenizer the reference's
whitespace/HashingTF pipeline lacks — `SVM.py:29` tokenizes by
``split(' ')``, `NB.java:118` by ``StringTokenizer``).

Architecture (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — the published BPE algorithm):

1. **Corpus -> word-frequency dictionary** (`word_freqs`). This is the
   100 TB-scale stage: one regexp-extract + explode + groupBy over the
   corpus; the output is vocabulary-sized (~10^6-10^7 rows at web
   scale), i.e. ~10^6x smaller than the input. Everything after runs on
   the dictionary, never the corpus — exactly how production BPE
   trainers operate (they aggregate counts first, then learn merges on
   the count table).
2. **Merge loop** (`bpe_train`): Spark computes each dictionary word's
   symbol sequence (`symbol_seq`) and the driver reads
   ``(freq, seq)`` once through Arrow; every merge is then learned on
   the driver. Each round ranks the adjacent symbol pairs by their
   word-frequency-weighted count (frequency desc, pair asc), picks the
   most frequent pair (or a symbol-disjoint batch, `select_batch`) and
   rewrites the sequences that hold it. Pair counts are incremental,
   as in Sennrich et al.'s ``learn_bpe.py``: an index from each pair to
   the words that contain it limits a round's recount to the words it
   rewrote. The driver holds the whole dictionary (its measured size
   is in `bpe_train`'s docstring); the training costs a fixed number
   of Spark jobs whatever the number of merges.
3. **Apply** (`bpe_segment_counts`): the learned merge list (driver-side,
   n_merges entries) is replayed as a chain of ``replace`` column
   expressions — pure narrow JVM string ops over the corpus, zero UDF,
   zero shuffle until the final count aggregation.

Determinism / oracle parity: all arithmetic is BIGINT counts and all
rewriting is plain left-to-right non-overlapping ``replace`` (identical
semantics in Spark SQL, DuckDB and Python's ``str.replace``, which the
training loop uses). One ``replace`` pass can leave
unmerged pairs inside runs of repeats (" a a a a " merges to
" aa a a " in one pass because each match consumes its boundary space);
we apply ``REPLACE_PASSES`` fixed passes per merge on every engine. A run
of five or more repeats then segments differently from greedy
left-to-right BPE (" a a a a a " becomes " aa a aa ", not " aa aa a "),
identically on every engine, so results stay bit-equal.
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# End-of-word marker (multi-char, cannot collide with single-char symbols).
EOW = "</w>"

# Fixed number of replace passes per merge (see module docstring).
REPLACE_PASSES = 3


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> ``(word, freq)`` dictionary: lowercase, ``[a-z]+`` word
    extraction, exact count. The one corpus-sized stage of BPE training;
    map-side partial aggregation makes the shuffle vocabulary-sized."""
    return (
        df.select(F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("word"))
        .groupBy("word").agg(F.count("*").cast("long").alias("freq"))
    )


def symbol_seq(word: Column) -> Column:
    """``'hello' -> 'h e l l o </w>'``: space-separated symbols with the
    end-of-word marker appended (regexp char-interleave; identical to the
    oracle's ``regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>'``)."""
    return F.concat(F.regexp_replace(word, "(.)", "$1 "), F.lit(EOW))


def _merge_once(seq: Column, pair: str, merged: str) -> Column:
    """Rewrite one learned merge: pad, REPLACE_PASSES left-to-right
    non-overlapping replaces of ``' pair '`` with ``' merged '``, trim."""
    padded = F.concat(F.lit(" "), seq, F.lit(" "))
    for _ in range(REPLACE_PASSES):
        padded = F.replace(padded, F.lit(f" {pair} "), F.lit(f" {merged} "))
    return F.btrim(padded)


def _merge_seq(seq: str, pair: str) -> str:
    """:func:`_merge_once` on the driver: the same padded
    REPLACE_PASSES ``str.replace`` passes, then the spaces stripped."""
    padded, merged = f" {seq} ", pair.replace(" ", "")
    for _ in range(REPLACE_PASSES):
        padded = padded.replace(f" {pair} ", f" {merged} ")
    return padded.strip(" ")


def _pairs(seq: str) -> Counter:
    """Occurrences of each adjacent symbol pair ``'a b'`` in one
    space-separated symbol sequence."""
    syms = seq.split(" ")
    return Counter(f"{a} {b}" for a, b in zip(syms, syms[1:]))


def select_batch(ranked: list[tuple[str, int]], k: int) -> list[tuple[str, int]]:
    """Greedy symbol-disjoint batch selection from a ranked
    ``(pair, freq)`` candidate list (frequency desc / pair asc order
    assumed). A candidate is deferred when its left symbol, right
    symbol, or merged OUTPUT collides with any already-selected pair's
    inputs or output — e.g. 'th e' defers when 't h' (output 'th') was
    selected this round, and 't h' defers when 'th e' (input 'th') was:
    either combination would let the round's chained rewrites cascade
    into occurrences created mid-round that were never counted."""
    selected: list[tuple[str, int]] = []
    used: set[str] = set()
    for pair, f in ranked:
        a, b = pair.split(" ")
        if a in used or b in used or a + b in used:
            continue
        selected.append((pair, f))
        used.update((a, b, a + b))
        if len(selected) == k:
            break
    return selected


def bpe_train(words: DataFrame, n_merges: int = 8,
              batch_k: int = 1,
              round_sizes: list[int] | None = None,
              headroom: int = 4) -> list[tuple[str, int]]:
    """Learn ``n_merges`` BPE merges from a ``(word, freq)`` dictionary.

    Returns ``[(pair, pair_freq), ...]`` in merge order. The driver
    reads the dictionary's ``(freq, symbol_seq(word))`` rows once
    through Arrow (Spark computes the symbols, so they match the apply
    side exactly) and holds it, one entry per distinct word. Every
    merge is then learned on the driver, so the Spark job count does
    not grow with ``n_merges``. Measured with
    ``tools/bpe_dictionary_probe.py`` (a synthesized Zipf dictionary,
    ``local[2]`` on a 4-core VM): 10^6 distinct words of 2-12 letters
    peak at ~0.8 GB of driver RSS and learn 64 merges in 51-69 s;
    10^7 words was not measured.

    Each round ranks the pairs by count desc, pair asc, takes the top
    ``k`` candidates (``k=1``) or ``headroom·k`` (``k>1``), lets
    :func:`select_batch` pick from them, and rewrites each selected
    pair in the sequences that hold it with REPLACE_PASSES
    left-to-right passes (the module docstring's semantics). The loop
    stops when no pair is left. Pair counts are kept incrementally
    (Sennrich et al.'s ``learn_bpe.py``): an index from each pair to
    the words that contain it limits a round's recount to the words it
    rewrote. On the 10^6-word dictionary a full recount costs ~4.5 s
    per merge and the index 0.5-0.8 s; on 10^5 words, 64 merges take
    24.8 s with full recounts and 7-9 s with the index.

    ``batch_k``: with the default ``batch_k=1`` every round merges
    exactly the single most frequent pair — textbook sequential BPE.
    With ``batch_k>1`` each round selects up to ``batch_k``
    SYMBOL-DISJOINT pairs from one ranking (greedy by frequency desc /
    pair asc; a candidate is deferred to a later round when any of its
    left symbol, right symbol, or merged OUTPUT symbol collides with an
    already-selected pair's inputs or output) and applies them all in
    one rewrite — the standard batched approximation. Disjointness over
    inputs AND outputs makes the within-round rewrites commute, so each
    reported frequency is the true pre-round count; the DIVERGENCE from
    sequential BPE is that pairs ranked 2..k are chosen against counts
    that ignore the round's earlier merges (after merging ``t h``,
    sequential BPE would count ``th e`` — batched BPE never saw ``th``
    this round). ``batch_k=1`` is exactly the sequential semantics
    (pytest-pinned bit-equal).

    ``round_sizes`` (optional, caller-owned list): appended with the
    number of merges selected each round — the batch-FILL trace, i.e.
    whether symbol-disjoint selection starves as the vocab saturates.

    ``headroom``: the candidate window of a batched round is
    ``headroom·k`` ranked pairs (``k=1`` always takes exactly 1);
    greedy symbol-disjoint selection then fills at most ``k`` from
    them. A starved round (SCALE.md §22 measured fill 0.17 at 512/64 on
    the real tweet corpus) can be candidate-LIMITED rather than
    conflict-limited — a wider window trades ranking depth for fill.
    The default 4 is what every registry oracle pins; the window
    changes WHICH pairs are visible to selection, so promoting a
    non-default value into a registry query requires a new oracle.

    ``batch_k`` and ``headroom`` define the batched variant that the
    registry's ``bpe_merges_batched`` and ``bpe_merges_headroom16``
    oracles pin; they no longer change how many Spark jobs a train
    starts.
    """
    if batch_k < 1:
        raise ValueError(f"batch_k must be >= 1, got {batch_k}")
    tbl = words.select(
        "freq", symbol_seq(F.col("word")).alias("seq")).toArrow()
    freqs = tbl.column("freq").to_pylist()
    seqs = tbl.column("seq").to_pylist()
    counts: Counter = Counter()
    holders: defaultdict[str, set[int]] = defaultdict(set)
    for w, seq in enumerate(seqs):
        for pair, n in _pairs(seq).items():
            counts[pair] += freqs[w] * n
            holders[pair].add(w)
    merges: list[tuple[str, int]] = []
    while len(merges) < n_merges:
        k = min(batch_k, n_merges - len(merges))
        top = heapq.nsmallest(k if k == 1 else int(headroom) * k,
                              counts.items(), key=lambda pf: (-pf[1], pf[0]))
        if not top:
            break
        selected = select_batch(top, k)
        if round_sizes is not None:
            round_sizes.append(len(selected))
        merges.extend(selected)
        for w in set().union(*(holders[pair] for pair, _ in selected)):
            old = _pairs(seqs[w])
            for pair, _ in selected:
                seqs[w] = _merge_seq(seqs[w], pair)
            new = _pairs(seqs[w])
            for pair in old.keys() | new.keys():
                counts[pair] += freqs[w] * (new[pair] - old[pair])
                if pair in new:
                    holders[pair].add(w)
                    continue
                holders[pair].discard(w)
                if not holders[pair]:
                    del holders[pair], counts[pair]
    return merges


def merges_frame(spark, merges: list[tuple[str, int]]) -> DataFrame:
    """A :func:`bpe_train` merge list as the merge-table frame
    ``(merge_rank, pair, merged, freq)``."""
    return local_frame(
        spark,
        [(i + 1, p, p.replace(" ", ""), f)
         for i, (p, f) in enumerate(merges)],
        "merge_rank int, pair string, merged string, freq bigint")


def save_merges(spark, merges: list[tuple[str, int]], path: str) -> None:
    """Persist a learned merge list as the parquet artifact the
    ``tokenize-train`` CLI writes: ``(merge_rank, pair, merged, freq)``,
    single file (merge tables are tokenizer-sized)."""
    merges_frame(spark, merges).coalesce(1).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, int]]:
    """Read a merge-table artifact back into the ordered driver-side
    list :func:`bpe_segment_counts` / :func:`bpe_doc_token_counts`
    consume — closing the train → save → load → apply loop."""
    rows = (spark.read.parquet(path)
            .select("merge_rank", "pair", "freq")
            .orderBy("merge_rank").collect())
    return [(r["pair"], int(r["freq"])) for r in rows]


def bpe_segment_counts(df: DataFrame, merges: list[str],
                       text_col: str = "text") -> DataFrame:
    """Apply a learned merge list to the corpus and count the resulting
    subword vocabulary -> ``(token, freq)``.

    Rewrites run over the *word-frequency dictionary*, not the corpus
    (segmenting 'the' once and weighting by its count beats segmenting
    it 10^10 times) — so the merge cascade is a fixed chain of narrow
    ``replace`` expressions over vocabulary-sized data, and the token
    counts come out frequency-weighted. At 100 TB the only corpus-sized
    stage is the word_freqs aggregation.
    """
    seq = symbol_seq(F.col("word"))
    for pair in merges:
        seq = _merge_once(seq, pair, pair.replace(" ", ""))
    return (
        word_freqs(df, text_col)
        .select("freq", F.explode(F.split(seq, " ")).alias("token"))
        .groupBy("token").agg(F.sum("freq").alias("freq"))
    )


def bpe_doc_token_counts(df: DataFrame, merges: list[str],
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-document subword token counts under a learned merge list →
    ``(doc_id, n_subwords)`` — the token-budget metric data-mixing and
    sequence-packing decisions run on.

    Same dictionary trick as :func:`bpe_segment_counts`: the merge
    cascade runs once per DISTINCT word (vocabulary-sized), and the
    per-doc count is a broadcast-join of the doc's words against the
    segmented dictionary — the corpus-sized side only ever flows
    through a word explode + a sum."""
    seq = symbol_seq(F.col("word"))
    for pair in merges:
        seq = _merge_once(seq, pair, pair.replace(" ", ""))
    seg = (
        df.select(F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("word")).distinct()
        .select("word", F.size(F.split(seq, " ")).cast("long").alias("n_sub"))
    )
    doc_words = df.select(
        F.col(id_col), F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("word"))
    return (
        doc_words.join(F.broadcast(seg), "word")
        .groupBy(id_col).agg(F.sum("n_sub").alias("n_subwords"))
    )


def vocab_coverage_curve(df: DataFrame, merges: list[str],
                         top: int = 20,
                         text_col: str = "text") -> DataFrame:
    """Coverage curve of the learned subword vocabulary →
    ``(rank, token, freq, cum_freq)`` for the ``top`` most frequent
    subwords — the how-big-must-the-vocab-be artifact tokenizer sizing
    decisions read (cum_freq / total corpus tokens = coverage).

    The cumulative window runs over the VOCABULARY (subword-type-sized,
    thousands of rows — not the corpus), so the single-partition
    ordered window is a non-issue at any corpus scale; ordering is
    deterministic (freq desc, token asc) and all counts are exact
    BIGINTs."""
    from pyspark.sql import Window
    counts = bpe_segment_counts(df, merges, text_col=text_col)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return (
        counts.select(
            F.row_number().over(w).cast("int").alias("rank"),
            "token", "freq",
            F.sum("freq").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum_freq"))
        .filter(F.col("rank") <= top)
        .orderBy("rank")
    )


def fertility_by_group(df: DataFrame, merges: list[str],
                       group_col: str = "lang",
                       text_col: str = "text") -> DataFrame:
    """Tokenizer FERTILITY per group → ``(lang, n_words, n_subwords,
    fertility_frac)``: subword tokens emitted per word under the
    learned merges — THE cross-lingual tokenizer-equity metric (a
    language with fertility 2× pays twice the sequence length, twice
    the compute, and half the effective context for the same text).

    Same vocabulary-dictionary discipline as
    :func:`bpe_doc_token_counts`: the merge cascade runs once per
    DISTINCT word; the corpus-sized side is a word explode joined
    against the broadcast segmented dictionary, then ONE group-by over
    |groups| rows. fertility is the remainder-exact 6-dp ratio of two
    exact integer sums — engine-stable."""
    from ..functions.rounding import pround_iratio

    seq = symbol_seq(F.col("word"))
    for pair in merges:
        seq = _merge_once(seq, pair, pair.replace(" ", ""))
    seg = (
        df.select(F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("word")).distinct()
        .select("word", F.size(F.split(seq, " ")).cast("long").alias("n_sub"))
    )
    grp_words = df.select(
        F.col(group_col), F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
        ).alias("word"))
    return (grp_words.join(F.broadcast(seg), "word")
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("n_sub").cast("long").alias("n_subwords"))
            .select(group_col, "n_words", "n_subwords",
                    pround_iratio(F.col("n_subwords"), F.col("n_words"))
                    .alias("fertility_frac"))
            .orderBy(group_col))
