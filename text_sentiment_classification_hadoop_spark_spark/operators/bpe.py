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
2. **Merge loop** (`bpe_train`): each iteration counts adjacent symbol
   pairs weighted by word frequency (distributed groupBy over the
   dictionary), picks the most frequent pair (deterministic tie-break:
   frequency desc, pair asc), and rewrites the symbol sequences with
   the pair merged. The driver reads ONE row per iteration (the winning
   pair) — the same scalar-only driver/cluster split as the dedup CC
   loop. Each iteration ``localCheckpoint``s the (vocabulary-sized)
   dictionary to cut lineage, so plan depth stays O(1) per iteration.
3. **Apply** (`bpe_segment_counts`): the learned merge list (driver-side,
   n_merges entries) is replayed as a chain of ``replace`` column
   expressions — pure narrow JVM string ops over the corpus, zero UDF,
   zero shuffle until the final count aggregation.

Determinism / oracle parity: all arithmetic is BIGINT counts and all
rewriting is plain left-to-right non-overlapping ``replace`` (identical
semantics in Spark SQL and DuckDB). One ``replace`` pass can leave
unmerged odd occurrences inside runs of repeats (" a a a a " merges to
" aa a a " in one pass because the match consumes its boundary space);
we apply ``REPLACE_PASSES`` fixed passes per merge on both engines, which
fully merges runs of up to 2^REPLACE_PASSES repeats — beyond that both
engines under-merge *identically*, so results stay bit-equal. Natural-
language words essentially never repeat a symbol 8+ times.
"""

from __future__ import annotations

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


def _pair_counts(dic: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the dictionary:
    ``(pair, f)`` where f = sum of word frequencies containing the pair
    (counted once per occurrence). zip_with over two off-by-one slices —
    zero UDF, one vocabulary-sized shuffle."""
    syms = F.split(F.col("seq"), " ")
    n = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        dic.select(F.col("freq"), F.explode(pairs).alias("pair"))
        .groupBy("pair").agg(F.sum("freq").alias("f"))
    )


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

    Returns ``[(pair, pair_freq), ...]`` in merge order (driver-side —
    merge lists are tokenizer-sized, 32-64k entries at production
    scale). Each round: one distributed pair-count aggregation, one
    bounded driver read, one narrow rewrite + localCheckpoint.

    ``batch_k`` is the 100 TB scale lever. With the
    default ``batch_k=1`` every round selects exactly the single most
    frequent pair — textbook sequential BPE, one job per merge: exact,
    but a 30k-round driver loop at a production vocabulary. With
    ``batch_k>1`` each round selects up to ``batch_k``
    SYMBOL-DISJOINT pairs from one ranked pair count (greedy by
    frequency desc / pair asc; a candidate is deferred to a later
    round when any of its left symbol, right symbol, or merged OUTPUT
    symbol collides with an already-selected pair's inputs or output)
    and applies them all in one rewrite — the standard scalable
    batched approximation (job count drops ~k-fold). Disjointness
    over inputs AND outputs makes the within-round rewrites commute
    (no selected rewrite can consume or produce a symbol another
    selected rewrite touches, so each reported frequency is the true
    pre-round count); the DIVERGENCE from sequential BPE
    is that pairs ranked 2..k are chosen against counts that ignore
    the round's earlier merges (e.g. after merging ``t h``, sequential
    BPE would count ``th e`` — batched BPE never saw ``th`` this
    round). ``batch_k=1`` never defers and reads one row, exactly the
    sequential semantics (pytest-pinned bit-equal).

    ``round_sizes`` (optional, caller-owned list): appended with the
    number of merges selected each round — the batch-FILL trace, i.e.
    whether symbol-disjoint selection starves as the vocab saturates.

    ``headroom``: the per-round driver read is ``headroom·k`` ranked
    candidate rows (``k=1`` always reads exactly 1); greedy
    symbol-disjoint selection then fills at most ``k`` from them. A
    starved round (SCALE.md §22 measured fill 0.17 at 512/64 on the
    real tweet corpus) can be candidate-LIMITED rather than
    conflict-limited — more headroom trades driver-read rows for
    fill. The default 4 is what every registry oracle pins; the knob
    exists for the off-registry scale probe and
    changes WHICH pairs are visible to selection, so promoting a
    non-default value into a registry query requires a new oracle.
    """
    if batch_k < 1:
        raise ValueError(f"batch_k must be >= 1, got {batch_k}")
    dic = words.select(
        "word", "freq", symbol_seq(F.col("word")).alias("seq")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, int]] = []
    while len(merges) < n_merges:
        k = min(batch_k, n_merges - len(merges))
        # driver read bounded by the batch: k + deferral headroom rows
        top = (_pair_counts(dic)
               .orderBy(F.desc("f"), F.asc("pair"))
               .limit(k if k == 1 else int(headroom) * k).collect())
        if not top:
            break
        selected = select_batch([(r["pair"], int(r["f"])) for r in top], k)
        if round_sizes is not None:
            round_sizes.append(len(selected))
        seq = F.col("seq")
        for pair, f in selected:
            merges.append((pair, f))
            seq = _merge_once(seq, pair, pair.replace(" ", ""))
        dic = dic.select(
            "word", "freq", seq.alias("seq")
        ).localCheckpoint(eager=True)
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
