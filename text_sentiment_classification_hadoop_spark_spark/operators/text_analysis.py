"""Text-analysis operators for training-data curation (north star,
§2.11): language ID, quality scoring, token counting, fingerprinting.

All pure column expressions (codegen, zero UDF, narrow until the
optional aggregations) — these run as a single map pass over 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

from ..functions.hashing import portable_hash64, shingles_expr
from ..functions.rounding import pround

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# (Public common function words; the heuristic is ratio-of-hits.)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
}

EN_STOPWORDS = LANG_PROFILES["en"]


def _hit_ratio(tokens: Column, vocab: list[str]) -> Column:
    """Fraction of tokens that appear in ``vocab`` (empty → 0)."""
    hits = F.size(F.filter(tokens, lambda t: t.isin(vocab)))
    n = F.size(tokens)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", min_ratio: float = 0.05,
            extra: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-profile language ID → ``(doc_id, pred_lang, best_ratio)``.

    Scores each profile by stopword hit-ratio; argmax with deterministic
    tie-break on language code; below ``min_ratio`` → 'unk'. (A real
    deployment swaps profiles for char-n-gram tables — same plan shape.)
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    scores = [
        F.struct(pround(_hit_ratio(toks, vocab), 6).alias("ratio"),
                 F.lit(lang).alias("lang"))
        for lang, vocab in sorted(LANG_PROFILES.items())
    ]
    # array_max on struct(ratio, lang): max ratio, tie → max lang code;
    # deterministic on both engines.
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        F.when(best["ratio"] >= min_ratio, best["lang"]).otherwise(F.lit("unk")).alias("pred_lang"),
        best["ratio"].alias("best_ratio"),
        *[F.col(c) for c in extra],
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  extra: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic quality features + composite score →
    ``(doc_id, n_chars, n_tokens, mean_token_len, alpha_ratio,
    stopword_ratio, quality)``.

    quality = mean of three bounded signals (length in [20,2000] chars,
    stopword ratio ≥ 0.05, mean token length in [3,12]) — the classic
    cheap pre-filters a corpus pipeline runs before expensive dedup."""
    text = F.col(text_col)
    toks = F.split(text, r"\s+")
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    mean_tok = F.when(n_tokens > 0,
                      (F.length(F.regexp_replace(text, r"\s+", "")) / n_tokens)
                      ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0,
                         (F.length(F.regexp_replace(text, r"[^a-zA-Z]", "")) / n_chars)
                         ).otherwise(F.lit(0.0))
    stop_ratio = _hit_ratio(F.transform(toks, F.lower), EN_STOPWORDS)
    sig_len = F.when((n_chars >= 20) & (n_chars <= 2000), 1.0).otherwise(0.0)
    sig_stop = F.when(stop_ratio >= 0.05, 1.0).otherwise(0.0)
    sig_tok = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), 1.0).otherwise(0.0)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        pround(mean_tok, 6).alias("mean_token_len"),
        pround(alpha_ratio, 6).alias("alpha_ratio"),
        pround(stop_ratio, 6).alias("stopword_ratio"),
        pround((sig_len + sig_stop + sig_tok) / 3.0, 6).alias("quality"),
        *[F.col(c) for c in extra],
    )


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Token counting two ways → ``(doc_id, ws_tokens, bpe_ish_tokens)``:
    whitespace split, and a BPE-ish regex (``[a-z]+|[0-9]+|\\S``) that
    approximates subword segmentation for budget estimation."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.split(text, r"\s+")).alias("ws_tokens"),
        F.regexp_count(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")).alias("bpe_ish_tokens"),
    )


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Document fingerprint → ``(doc_id, content_hash, min_shingle_hash)``:
    full-content digest plus the minimum k-shingle hash (a 1-perm
    MinHash — the winnowing-style anchor used for fast prefiltering)."""
    sh = shingles_expr(F.col(text_col), k=k)
    hashes = F.transform(sh, lambda s: portable_hash64(s))
    return df.select(
        F.col(id_col),
        portable_hash64(F.col(text_col)).alias("content_hash"),
        F.coalesce(F.array_min(hashes), portable_hash64(F.col(text_col))).alias("min_shingle_hash"),
    )

def tfidf_long(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """DataFrame-native TF-IDF in long form → ``(doc_id, word, tf, df,
    tfidf)`` — the SQL-checkable twin of the MLlib HashingTF+IDF vector
    path (SURVEY.md §2.4 T5-T6), unhashed so there are no bucket
    collisions.

    ``idf = ln((N + 1) / (df + 1))`` — the ``pyspark.ml.feature.IDF``
    formula. Two aggregations (term counts keyed on (doc, word);
    document frequencies keyed on word) + a scalar N folded in as a
    literal; the df table joins back by word. At 100 TB the df table is
    vocabulary-sized — broadcast — and both aggregations partial
    map-side. tfidf is portably rounded at 6 dp (cross-engine ln/sum
    order safety).
    """
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")) \
        .filter(F.length("word") > 0)
    n_docs = df.select(id_col).distinct().count()
    tf = toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (toks.select(id_col, "word").distinct()
             .groupBy("word").agg(F.count(F.lit(1)).alias("df")))
    out = tf.join(F.broadcast(dfreq), "word")
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0)))
    return out.select(
        F.col(id_col), "word",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        pround(F.col("tf") * idf, 6).alias("tfidf"),
    )


def hash_sample(df: DataFrame, id_col: str = "doc_id",
                pct: int = 10, mod: int = 100,
                salt: str = "sample:v1") -> DataFrame:
    """Deterministic hash-based sampling — the reproducible alternative
    to ``df.sample()`` for training-data pipelines: keep a row iff
    ``portable_hash64(salt || id) % mod < pct``.

    Unlike seeded random sampling this is stable across engines,
    partitionings, and re-runs (a row's fate depends only on its id and
    the salt), so train/val/test splits stay disjoint across pipeline
    versions: disjoint pct-ranges of the same salt partition the
    corpus. Pure narrow map — no shuffle, filter runs scan-side."""
    h = portable_hash64(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return df.filter((h % mod) < pct)


def stratified_hash_sample(df: DataFrame, rates: dict[str, int],
                           stratum_col: str = "lang",
                           id_col: str = "doc_id", mod: int = 100,
                           default_pct: int = 0,
                           salt: str = "sample:v1") -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep-rates (e.g.
    downsample dominant languages, keep all of rare ones) with the same
    hash-based reproducibility as :func:`hash_sample` — the idiomatic
    replacement for ``df.sampleBy()``, whose seeded Bernoulli draws
    differ across engines/partitionings. Strata absent from ``rates``
    keep ``default_pct``. Pure narrow map: the rate lookup is a CASE
    expression, the filter runs scan-side, no shuffle."""
    h = portable_hash64(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter((h % mod) < rate)


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     top_bigram_max: float = 0.18,
                     distinct_min: float = 0.30,
                     extra: tuple[str, ...] = ()) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, §A1.1) →
    ``(doc_id, n_tokens, distinct_frac, top_unigram_frac,
    top_bigram_frac, dup_bigram_frac, repetitive)``.

    The cheap repetition screens a pretraining pipeline runs before
    dedup: fraction of distinct tokens, coverage of the most frequent
    unigram/bigram, duplicate-bigram fraction, and a composite
    ``repetitive`` flag (top-bigram coverage > ``top_bigram_max`` or
    distinct-token fraction < ``distinct_min``).

    All pure array expressions — one narrow map pass, no shuffle, no
    UDF, so a 100 TB corpus runs this scan-side. The mode-of-array
    (max unigram/bigram frequency) is computed as the longest run in
    the SORTED array via a single linear fold — O(n log n) per row vs
    the O(distinct × n) max-over-distinct filter-count form (identical
    integer result, ~30× fewer interpreted ops on a typical doc; the
    DuckDB oracle keeps the quadratic form — values are exact counts
    either way)."""

    def _mode_count(arr):
        s = F.sort_array(arr)
        zero = F.struct(F.lit("").alias("prev"), F.lit(0).alias("cur"),
                        F.lit(0).alias("best"))

        def step(acc, t):
            cur = F.when(t == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1))
            return F.struct(t.alias("prev"), cur.alias("cur"),
                            F.greatest(acc["best"], cur).alias("best"))

        return F.aggregate(s, zero, step, lambda acc: acc["best"])

    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    uniq = F.array_distinct(toks)
    distinct_frac = F.when(n > 0, F.size(uniq) / n).otherwise(F.lit(0.0))
    top_uni = F.when(n > 0, _mode_count(toks) / n).otherwise(F.lit(0.0))
    bigrams = F.zip_with(F.slice(toks, F.lit(1), n - 1), F.slice(toks, F.lit(2), n - 1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    nb = F.size(bigrams)
    uniq_b = F.array_distinct(bigrams)
    top_bi = F.when(nb > 0, _mode_count(bigrams) / nb).otherwise(F.lit(0.0))
    dup_bi = F.when(nb > 0, F.lit(1.0) - F.size(uniq_b) / nb).otherwise(F.lit(0.0))
    repetitive = ((top_bi > F.lit(top_bigram_max)) |
                  (distinct_frac < F.lit(distinct_min))).cast("int")
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        pround(distinct_frac, 6).alias("distinct_frac"),
        pround(top_uni, 6).alias("top_unigram_frac"),
        pround(top_bi, 6).alias("top_bigram_frac"),
        pround(dup_bi, 6).alias("dup_bigram_frac"),
        repetitive.alias("repetitive"),
        *[F.col(c) for c in extra],
    )


# (pattern, replacement) — applied in order; counts are measured on the
# ORIGINAL text so they are independent of replacement order. Patterns
# are valid in both Java regex (Spark) and RE2 (DuckDB): \b, \d,
# bounded repetition, and plain character classes only.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phones", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ips", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Regex PII redaction → ``(doc_id, n_emails, n_phones, n_ips,
    clean_text)`` — the standard scrub pass a training-data pipeline
    applies before publishing a corpus (emails, NANP-style phone
    numbers, IPv4 addresses → typed placeholder tokens).

    Counts come from ``regexp_count`` on the original text; the
    replacement chain applies :data:`PII_PATTERNS` in order (emails
    first so their digit runs can't be half-eaten by the phone rule).
    Pure ``regexp_replace``/``regexp_count`` column expressions —
    narrow, codegen'd, zero UDF; a single map pass at any scale."""
    text = F.col(text_col)
    counts = [F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
              for name, pat, _ in PII_PATTERNS]
    clean = text
    for _, pat, rep in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, rep)
    return df.select(F.col(id_col), *counts, clean.alias("clean_text"))


def unigram_lm(df: DataFrame, text_col: str = "text",
               alpha: float = 0.5) -> DataFrame:
    """Train an add-``alpha`` unigram language model over the corpus →
    ``(w, cnt, logp_u)`` with the log-probability stored as an INTEGER
    in micro-nats (``floor(ln(p)*1e6 + 0.5)``).

    Integer log-probs are the determinism contract: downstream scoring
    sums them, and integer sums are exact and associative, so the
    result is independent of partial-aggregation order across runs,
    plans, and engines (same reason the money aggregates use
    DECIMAL(18,2)). One explode → count shuffle (map-side partial agg);
    the corpus totals (N, V) enter as a broadcast 1-row join — the J4
    scalar pattern, never a driver round-trip."""
    toks = (df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
            .filter(F.length("w") > 0))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(F.sum("cnt").alias("n_total"),
                        F.count(F.lit(1)).alias("v"))
    p = (F.col("cnt") + F.lit(alpha)) \
        / (F.col("n_total") + F.lit(alpha) * (F.col("v") + F.lit(1)))
    return (counts.crossJoin(F.broadcast(totals))
            .select("w", "cnt",
                    F.floor(F.log(p) * F.lit(1000000.0) + F.lit(0.5))
                    .cast("long").alias("logp_u")))


def lm_score(df: DataFrame, model: DataFrame | None = None,
             text_col: str = "text", id_col: str = "doc_id",
             alpha: float = 0.5) -> DataFrame:
    """CCNet-style LM quality score: mean unigram log-prob per document
    → ``(doc_id, n_scored, avg_logp_nats)`` (empty docs → NULL score).
    Lower (more negative) = more surprising under the corpus LM — the
    standard cheap perplexity proxy a pretraining pipeline uses to
    rank/filter documents (Wenzek et al., CCNet, 2020 use a 5-gram
    KenLM; the plan shape is identical, only the model table differs).

    The model (vocab-sized, sub-linear in corpus size by Heaps' law) is
    broadcast, so scoring is scan → broadcast-hash-join → partial-agg
    sum of INTEGER micro-nats: no token-keyed shuffle, hence no "the"
    hot-key skew; the only exchange is the doc_id aggregation. If the
    vocab ever outgrows broadcast, drop the hint and AQE's skew-join
    handles the token join."""
    if model is None:
        model = unigram_lm(df, text_col, alpha)
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
            .filter(F.length("w") > 0))
    per_doc = (toks.join(F.broadcast(model.select("w", "logp_u")), "w")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_scored"),
                    F.sum("logp_u").alias("sum_u")))
    return (df.select(F.col(id_col))
            .join(per_doc, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("n_scored"), F.lit(0)).cast("long")
                .alias("n_scored"),
                pround(F.col("sum_u").cast("double") / F.col("n_scored")
                       / F.lit(1000000.0), 6).alias("avg_logp_nats")))


def bigram_lm_score(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", lam: float = 0.7,
                    alpha: float = 0.5) -> DataFrame:
    """Interpolated-bigram LM document score — the n-gram upgrade of
    :func:`lm_score`'s unigram proxy → ``(doc_id, n_pairs,
    avg_logp_nats)`` (docs with <2 tokens → 0/NULL).

    Per bigram position: ``p = λ·p_bi(w2|w1) + (1−λ)·p_uni(w2)`` with
    MLE bigram ratios (unseen bigram → 0, the interpolation's backoff)
    and the add-α unigram. Each position's log-prob is floored to
    INTEGER micro-nats before the per-doc sum — the same exactness
    contract as :func:`unigram_lm`, so results are independent of
    aggregation order across runs/engines.

    Shape: doc bigrams are a narrow ``zip_with`` shift; the bigram and
    unigram models are broadcast (bigram table ≈ corpus distinct pairs;
    at 100 TB cap it to top-K pairs — the interpolation already backs
    off for the dropped tail, same plan) — so scoring is scan →
    broadcast joins → one doc_id aggregation, no token-keyed shuffle,
    no hot-key skew."""
    toks_arr = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks_arr)
    pairs = F.zip_with(
        F.slice(toks_arr, F.lit(1), n - 1), F.slice(toks_arr, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    doc_bi = (df.select(F.col(id_col), F.explode(pairs).alias("p"))
              .select(F.col(id_col), F.col("p.w1").alias("w1"),
                      F.col("p.w2").alias("w2"))
              .filter((F.length("w1") > 0) & (F.length("w2") > 0)))
    cnt = doc_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bcnt"))
    marg = cnt.groupBy("w1").agg(F.sum("bcnt").alias("w1_total"))
    bi_model = cnt.join(marg, "w1").select(
        "w1", "w2",
        (F.col("bcnt").cast("double") / F.col("w1_total")).alias("p_bi"))
    toks = (df.select(F.explode(toks_arr).alias("w"))
            .filter(F.length("w") > 0))
    ucnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ucnt.agg(F.sum("cnt").alias("n_total"),
                   F.count(F.lit(1)).alias("v"))
    uni = (ucnt.crossJoin(F.broadcast(tot))
           .select(F.col("w").alias("w2"),
                   ((F.col("cnt") + F.lit(alpha))
                    / (F.col("n_total") + F.lit(alpha) * (F.col("v") + F.lit(1))))
                   .alias("p_u")))
    # 1−λ is pinned driver-side so the oracle embeds the identical
    # IEEE value (1-0.7 != 0.3 in binary)
    p = (F.lit(lam) * F.coalesce(F.col("p_bi"), F.lit(0.0))
         + F.lit(1 - lam) * F.col("p_u"))
    scored = (doc_bi.join(F.broadcast(bi_model), ["w1", "w2"], "left")
              .join(F.broadcast(uni), "w2")
              .select(F.col(id_col),
                      F.floor(F.log(p) * F.lit(1000000.0) + F.lit(0.5))
                      .cast("long").alias("lp")))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("lp").alias("s"))
    return (df.select(F.col(id_col)).join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    pround(F.col("s").cast("double") / F.col("n_pairs")
                           / F.lit(1000000.0), 6).alias("avg_logp_nats")))


def ppl_band_filter(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    lo: float = 0.25, hi: float = 0.75) -> DataFrame:
    """Perplexity-band data pruning (Marion et al. 2023, "When Less is
    More: Investigating Data Pruning for LLMs at Scale" — middle-band
    selection beat both extremes): keep documents whose interpolated-
    bigram LM score lies between the corpus ``lo`` and ``hi`` quantiles
    → ``(doc_id, n_pairs, avg_logp_nats)`` for the kept band.

    The quantile bounds come from one exact ``percentile`` aggregate
    over the (already 6-dp-rounded) scores, themselves rounded to the
    same 6 dp, then broadcast — so the band comparison is
    rounded-vs-rounded and engine-stable, and no global sort or window
    touches the corpus. At 100 TB swap ``percentile`` for
    ``approx_percentile`` (mergeable KLL-style sketch, same plan
    shape); the band membership is unchanged for any doc not within
    sketch error of a boundary."""
    scored = (bigram_lm_score(df, text_col=text_col, id_col=id_col)
              .filter(F.col("n_pairs") > 0))
    bounds = scored.agg(
        pround(F.expr(f"percentile(avg_logp_nats, {lo!r})"), 6).alias("blo"),
        pround(F.expr(f"percentile(avg_logp_nats, {hi!r})"), 6).alias("bhi"))
    return (
        scored.crossJoin(F.broadcast(bounds))
        .filter((F.col("avg_logp_nats") >= F.col("blo"))
                & (F.col("avg_logp_nats") <= F.col("bhi")))
        .select(id_col, "n_pairs", "avg_logp_nats")
    )


def c4_line_clean(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", min_words: int = 4,
                  min_lines: int = 1) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020, §2.2) with corpus-level
    line dedup → ``(doc_id, n_lines_kept, clean_text)`` for surviving
    docs.

    Rules, in pipeline order:

    1. page-level drop: text containing ``lorem ipsum`` or ``{``;
    2. line-level keep: trimmed line ends in terminal punctuation
       (``. ! ? "``), has ≥ ``min_words`` whitespace words, and does
       not mention ``javascript``;
    3. corpus-level exact line dedup: every duplicated line survives
       only at its FIRST occurrence — minimum (doc_id, position),
       encoded as the single sortable key ``doc_id*1e6 + pos`` so the
       arg-min is one ``min()`` (positions per doc are bounded by text
       length; swap in ``min(struct(doc_id, pos))`` if a doc can exceed
       1e6 lines);
    4. reassemble in original line order; drop docs with fewer than
       ``min_lines`` surviving lines.

    Scale shape: filters are narrow and run BEFORE the dedup shuffle,
    so the global exchange carries only surviving lines keyed by their
    md5 (32 bytes + line text, uniform — boilerplate lines are heavy
    keys but the min() partial-aggregates map-side). Reassembly is a
    doc_id-keyed agg; ``array_sort(collect_list(struct(pos, line)))``
    makes the rebuilt text deterministic regardless of arrival order.
    C4 proper dedups three-sentence spans pre-filter; deduping
    post-filter is the cheaper equivalent for line granularity (fewer
    rows enter the only corpus-wide shuffle)."""
    text = F.col(text_col)
    pre = df.filter(~F.lower(text).contains("lorem ipsum")
                    & ~text.contains("{"))
    lines = pre.select(
        F.col(id_col),
        F.posexplode(F.split(text, "\n")).alias("pos", "l"))
    t = F.trim(F.col("l"))
    kept = lines.filter(
        t.rlike('[.!?"]$')
        & (F.size(F.split(t, " ")) >= min_words)
        & ~F.lower(F.col("l")).contains("javascript"))
    ordkey = (F.col(id_col) * F.lit(1000000) + F.col("pos")).alias("ordkey")
    keyed = kept.select(F.col(id_col), "pos", "l",
                        F.md5(F.col("l")).alias("h"), ordkey)
    firsts = keyed.groupBy("h").agg(F.min("ordkey").alias("mk"))
    ded = (keyed.join(firsts, "h")
           .filter(F.col("ordkey") == F.col("mk")))
    agg = (ded.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_lines_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "l"))),
                        lambda s: s["l"]),
                    "\n").alias("clean_text")))
    return agg.filter(F.col("n_lines_kept") >= min_lines).select(
        F.col(id_col), F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        "clean_text")


def token_freq_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token-frequency histogram (the Zipf diagnostic a pipeline
    runs before choosing vocab/dedup thresholds) →
    ``(log2_bucket, n_types, n_tokens)``: distinct token types and
    total occurrences whose count falls in ``[2^b, 2^(b+1))``.

    Two aggregations, both with map-side partials: token → count
    (the only corpus-sized shuffle, uniform hash keys), then the tiny
    bucket rollup. ``floor(log2(cnt))`` on exact integer counts is
    engine-stable (log2 of an integer only sits on a boundary when cnt
    is a power of two, where log2 is exact)."""
    toks = (df.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("w"))
            .filter(F.length("w") > 0))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    return (counts
            .groupBy(F.floor(F.log2("cnt")).cast("int").alias("log2_bucket"))
            .agg(F.count(F.lit(1)).alias("n_types"),
                 F.sum("cnt").alias("n_tokens")))


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Top-``k`` corpus tokens → ``(rank, w, cnt)``. Sort+limit after
    the count agg compiles to TakeOrderedAndProject — O(k) per
    partition, no global sort; the rank window then runs over k rows.
    Deterministic tie-break on the token itself."""
    from pyspark.sql import Window
    toks = (df.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("w"))
            .filter(F.length("w") > 0))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("w").asc()).limit(k)
    win = Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .select("rank", "w", "cnt"))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    stride: int = 96, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding prep twin
    of :func:`pack_sequences` (that op concatenates short docs; this
    one splits long ones) → one row per chunk:
    ``(doc_id, chunk_id, chunk_text, n_chunk_tokens)``.

    Chunk ``j`` covers tokens ``[j·stride, j·stride + chunk_tokens)``;
    ``stride < chunk_tokens`` gives the standard overlap so no span is
    split across a boundary unseen. Chunk count is
    ``1 + ceil(max(0, n − chunk_tokens) / stride)`` — every doc emits
    at least one chunk and the last one may be short.

    Shape: a narrow ``posexplode`` over plan-computed chunk starts —
    zero shuffles, the fan-out happens inside the scan stage, and each
    chunk's text is an ``slice``+``array_join`` over the cached token
    array. At 100 TB this is the map-side prep before an embedding
    ``mapInPandas`` or a bucketed write by ``(doc_id, chunk_id)``."""
    if not 0 < stride <= chunk_tokens:
        raise ValueError("require 0 < stride <= chunk_tokens "
                         "(otherwise chunks skip tokens)")
    toks = F.split(F.col(text_col), " ")
    # nonnegative numerator keeps integer division floor==truncate in
    # both engines (the DuckDB oracle mirrors this formula with //)
    m = (F.lit(1)
         + F.expr(f"(greatest(0, size(split({text_col}, ' ')) - "
                  f"{chunk_tokens}) + {stride - 1}) div {stride}"))
    return (
        df.select(F.col(id_col), toks.alias("_toks"), m.alias("_m"))
        .select(F.col(id_col),
                F.posexplode(F.sequence(F.lit(0), F.col("_m") - 1))
                .alias("chunk_id", "_j"), "_toks")
        .select(
            F.col(id_col), F.col("chunk_id"),
            F.array_join(F.slice(F.col("_toks"),
                                 F.col("chunk_id") * stride + 1,
                                 chunk_tokens), " ").alias("chunk_text"),
            F.least(F.lit(chunk_tokens),
                    F.size(F.col("_toks")) - F.col("chunk_id") * stride)
            .cast("long").alias("n_chunk_tokens"))
        .orderBy(id_col, "chunk_id")
    )


def pack_sequences(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", budget: int = 2048,
                   n_buckets: int = 8) -> DataFrame:
    """Training-sequence packing: assign each document a (bucket,
    seq_id, token offset) so writers can concatenate docs into
    fixed-``budget``-token training sequences →
    ``(doc_id, bucket, seq_id, offset_in_seq, n_tok)``.

    Contiguous greedy fill (the TFDS/T5 packing shape): docs are
    hash-split into ``n_buckets`` independent writer groups, ordered by
    id within a group, and a running token cumsum places each doc at
    ``seq = floor(cum_before / budget)``, ``offset = cum_before %
    budget`` (a doc straddling a boundary belongs to the sequence where
    it starts — the writer pads or splits at materialization time).

    All-integer arithmetic → engine-exact. The only exchange is the
    hash partition by bucket; the per-bucket window sort is the
    honest cost of any deterministic packing — ``n_buckets`` scales
    with the cluster (it is the write parallelism), keeping each sort
    partition-sized, never global."""
    from pyspark.sql import Window
    n_tok = F.size(F.split(F.col(text_col), " "))
    bucketed = df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tok"),
        (portable_hash64(F.concat(F.lit("pack:"),
                                  F.col(id_col).cast("string")))
         % n_buckets).cast("int").alias("bucket"))
    w = Window.partitionBy("bucket").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_before = (F.sum("n_tok").over(w) - F.col("n_tok"))
    return bucketed.select(
        F.col(id_col), "bucket",
        (cum_before / budget).cast("long").alias("seq_id"),
        (cum_before % budget).cast("long").alias("offset_in_seq"),
        "n_tok")


def pack_sequences_ffd(budgets: DataFrame, budget: int = 2048,
                       n_buckets: int | None = None,
                       docs_per_bucket: int = 500,
                       id_col: str = "doc_id",
                       tok_col: str = "n_tok") -> DataFrame:
    """First-fit-decreasing sequence packing over per-doc TOKENIZER
    budgets → ``(doc_id, bucket, seq_id, offset_in_seq, n_tok)`` — the
    bin-packing twin of :func:`pack_sequences` (that op splits docs at
    sequence boundaries; this one keeps every doc WHOLE and minimizes
    padding waste, the standard LLM pretraining packer).

    Input is a per-doc token-budget table — ``bpe.bpe_doc_token_counts``
    or ``unigram.unigram_token_counts`` output,
    i.e. doc METADATA (two integers per doc), never the corpus text.

    Semantics (deterministic, integer-exact in both engines): docs are
    hash-salted into ``n_buckets`` independent packing groups; within a
    group they are processed in (n_tok DESC, doc_id ASC) order and each
    goes to the FIRST open sequence with enough remaining capacity,
    else opens a new sequence (``seq_id`` = opening order, 0-based;
    ``offset_in_seq`` = tokens already packed into that sequence). A
    doc longer than ``budget`` opens its own sequence (remaining goes
    negative so nothing else ever joins it) — the writer's
    truncate/split policy is downstream, the packer never drops it.
    NULL budgets (the unigram foreign-vocab contract) are EXCLUDED
    from packing — callers surface them with the same left-anti
    re-attach as ``unigram_token_counts``; the registry path uses BPE
    budgets, which are total.

    Shape: one hash exchange of the metadata table, ONE JVM aggregate
    HOF per bucket (first-fit is inherently sequential state — the
    open-bin capacity vector — so it runs as a fold over the bucket's
    sorted doc list, same discipline as the unigram Viterbi DP; no
    Python stage, no scalar-free driver loop). Per-bucket work is
    O(docs_in_bucket · open_bins): quadratic in bucket size, so the
    bucket count MUST grow with the corpus — which production wants
    anyway: buckets are the shard WRITE parallelism
    (``sources.layout.write_packed_shards``) and the unit one trainer
    stream consumes. The default ``n_buckets=None`` therefore derives
    ``B = ceil(n_docs / docs_per_bucket)`` from one metadata COUNT (a
    scalar driver read, the J4 pattern), keeping per-bucket work
    constant and total work linear — the sf1 probe measured the fixed
    ``B=8`` variant super-linear (>9 min at 50k docs) and this
    adaptive form at seconds (SCALE.md §31). Pass an explicit
    ``n_buckets`` to pin the layout instead (tests; callers matching
    an existing shard fan-out). First-fit's bin SEARCH is the
    let-binding ``transform(array(fit), f -> ...)[0]`` so the
    O(open_bins) scan runs once per doc, not once per accumulator
    field. Oracle: per-bucket recursive CTE replaying the identical
    first-fit fold, with the same count-derived bucket expression."""
    b = int(budget)
    fit = "array_position(transform(acc.bins, x -> x >= d.nt), true)"
    step = f"""aggregate(
      ds,
      named_struct(
        'bins', cast(array() as array<bigint>),
        'outs', cast(array() as
          array<struct<id: bigint, seq: bigint, off: bigint, nt: bigint>>)),
      (acc, d) -> transform(array({fit}), f -> named_struct(
        'bins',
        CASE WHEN f = 0L
             THEN concat(acc.bins, array(CAST({b} AS BIGINT) - d.nt))
             ELSE transform(acc.bins,
                            (x, i) -> IF(CAST(i AS BIGINT) = f - 1L,
                                         x - d.nt, x)) END,
        'outs',
        concat(acc.outs, array(named_struct(
          'id', d.id,
          'seq', CASE WHEN f = 0L THEN CAST(size(acc.bins) AS BIGINT)
                      ELSE f - 1L END,
          'off', CASE WHEN f = 0L THEN 0L
                      ELSE CAST({b} AS BIGINT)
                           - element_at(acc.bins, CAST(f AS INT)) END,
          'nt', d.nt)))))[0],
      acc -> acc.outs)"""
    nn = budgets.filter(F.col(tok_col).isNotNull())
    if n_buckets is None:
        n_docs = nn.count()
        n_buckets = max(1, (n_docs + int(docs_per_bucket) - 1)
                        // int(docs_per_bucket))
    bucketed = nn.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(tok_col).cast("long").alias("nt"),
        (portable_hash64(F.concat(F.lit("packffd:"),
                                  F.col(id_col).cast("string")))
         % int(n_buckets)).cast("int").alias("bucket"))
    # sort key (-nt, id): struct array_sort = (n_tok desc, doc_id asc)
    grouped = bucketed.groupBy("bucket").agg(
        F.array_sort(F.collect_list(F.struct(
            (-F.col("nt")).alias("m"), F.col("id"), F.col("nt")))).alias("ds"))
    return (grouped
            .select("bucket", F.explode(F.expr(step)).alias("o"))
            .select(F.col("o.id").alias(id_col), F.col("bucket"),
                    F.col("o.seq").alias("seq_id"),
                    F.col("o.off").alias("offset_in_seq"),
                    F.col("o.nt").alias("n_tok")))


def zipf_fit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf-law fit over the token frequency distribution → one row
    ``(n_types, slope, intercept)``: the least-squares line through
    ``(ln rank, ln count)`` (a healthy natural-language corpus slopes
    ≈ −1; word-soup or boilerplate-heavy corpora flatten it).

    Determinism: ``ln rank`` / ``ln count`` are quantized to INTEGER
    micro-nats per type, the regression moments (Σx, Σy, Σxy, Σx²) are
    exact integer sums, and slope/intercept are computed from those
    scalars with identical double-op order in both engines — no
    double-accumulation anywhere. The rank is a global row_number over
    the VOCAB (Heaps-law sublinear, not the corpus), with a
    deterministic (count desc, token) order; Σxy stays < 2^63 for
    vocabularies into the billions (|x·y| ≤ (ln 2^40 · 1e6)² ≈ 7.7e14
    per term)."""
    from pyspark.sql import Window
    toks = (df.select(F.explode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("w"))
            .filter(F.length("w") > 0))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    win = Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
    ranked = counts.withColumn("rank", F.row_number().over(win))
    xy = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)).cast("long").alias("y"))
    m = xy.agg(F.count(F.lit(1)).alias("n"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n / F.lit(1000000.0)
    return m.select(
        F.col("n").cast("long").alias("n_types"),
        pround(slope, 6).alias("slope"),
        pround(intercept, 6).alias("intercept"))


def bigram_lm(df: DataFrame, text_col: str = "text",
              top_k: int = 100) -> DataFrame:
    """Top-``top_k`` corpus bigrams with conditional log-probability →
    ``(w1, w2, cnt, cond_logp)`` where ``cond_logp = ln(cnt(w1 w2) /
    cnt(w1·))`` (MLE, no smoothing — the building block of the n-gram
    scorers CCNet-style pipelines use above unigrams).

    Bigrams come from a per-row ``zip_with`` of the token array with
    its shift (narrow), then one hash aggregate; the unigram
    continuation counts ``cnt(w1·)`` reuse the bigram table (sum per
    w1 — a second tiny agg, not a corpus pass). ``ln`` of an exact
    count ratio with identical operands both engines + 6 dp rounding.
    Top-k via sort+limit, deterministic tie-break on the pair."""
    from pyspark.sql import Window
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, F.lit(1), n - 1), F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    bi = (df.select(F.explode(pairs).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .filter((F.length("w1") > 0) & (F.length("w2") > 0)))
    cnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    marg = cnt.groupBy("w1").agg(F.sum("cnt").alias("w1_total"))
    scored = (cnt.join(marg, "w1")
              .select("w1", "w2", "cnt",
                      pround(F.log(F.col("cnt").cast("double")
                                   / F.col("w1_total")), 6)
                      .alias("cond_logp")))
    top = scored.orderBy(F.col("cnt").desc(), F.col("w1").asc(),
                         F.col("w2").asc()).limit(top_k)
    win = Window.orderBy(F.col("cnt").desc(), F.col("w1").asc(),
                         F.col("w2").asc())
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .select("rank", "w1", "w2", "cnt", "cond_logp"))


def heaps_fit(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Heaps'-law fit of vocabulary growth → one row
    ``(n_points, beta, k)`` for ``V(n) ≈ k · n^beta`` over doc-count
    prefixes (β ≈ 0.4-0.6 for natural language; β → 1 signals
    near-random token soup, β → 0 a closed vocabulary).

    The growth curve costs ONE corpus pass, not one per checkpoint:
    each token's FIRST document (min doc_id) is a single aggregate,
    and ``V(n) = |{tokens: first_doc < n}|`` falls out of a broadcast
    join against the ≤ ~40 power-of-two checkpoints. The log-log fit
    reuses the Zipf contract: integer micro-nat logs, exact integer
    moments, scalar double arithmetic in identical order."""
    from ..functions.rounding import pround as _pr
    spark = df.sparkSession
    n_docs = df.count()
    cps, g = [], 3
    while 2 ** g <= n_docs:
        cps.append(2 ** g)
        g += 1
    if n_docs not in cps:
        cps.append(n_docs)
    cps_df = local_frame(spark, [(c,) for c in sorted(cps)], "cp long")
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("w"))
            .filter(F.length("w") > 0))
    firsts = toks.groupBy("w").agg(F.min(id_col).alias("fd"))
    vocab = (firsts.crossJoin(F.broadcast(cps_df))
             .filter(F.col("fd") < F.col("cp"))
             .groupBy("cp").agg(F.count(F.lit(1)).alias("v")))
    xy = vocab.select(
        F.floor(F.log(F.col("cp").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.log(F.col("v").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)).cast("long").alias("y"))
    m = xy.agg(F.count(F.lit(1)).alias("n"),
               F.sum("x").alias("sx"), F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n / F.lit(1000000.0)
    return m.select(
        F.col("n").cast("long").alias("n_points"),
        _pr(slope, 6).alias("beta"),
        _pr(F.exp(intercept), 6).alias("k"))


def pps_systematic_sample(df: DataFrame, k: int, weight_col: str,
                          id_col: str = "doc_id",
                          n_parts: int = 8) -> DataFrame:
    """Deterministic probability-proportional-to-size (PPS) systematic
    sampling → the ``k``-ish rows whose integer-weight interval crosses
    an equally-spaced selection boundary. The classic one-pass weighted
    sampler for training-data mixtures (heavier documents
    proportionally more likely), with NO randomness: selection depends
    only on ids, weights, and ``k``, so it is reproducible across
    engines and re-runs — the weighted analogue of :func:`hash_sample`.

    A row with prefix-sum interval ``[cum, cum+w)`` over the id-sorted
    corpus is selected iff ``(cum+w)·k div total > cum·k div total`` —
    pure BIGINT arithmetic: ``div`` is TRUE integer division (the
    DuckDB oracle mirrors it with ``//``), so boundaries are exact at
    any corpus size, unlike ``floor(x·k / total)`` whose double
    division drifts once ``x·k`` passes 2^53 (no pow/ln boundary
    flakes like exponential-key A-ES sampling would have either).

    The prefix sum is the genuinely distributed two-phase form, not a
    single-partition window: range-partition by id, one in-partition
    cumulative sum, then per-partition offsets collected once
    (``n_parts`` longs — the J4 scalar pattern) and added back as a
    literal map. One range exchange + one tiny driver round-trip,
    corpus never serializes through a global Window."""
    from pyspark.sql import Window

    ranged = (df.select(F.col(id_col), F.col(weight_col).cast("long")
                        .alias("_w"))
              .repartitionByRange(n_parts, F.col(id_col))
              .sortWithinPartitions(id_col)
              .withColumn("_pid", F.spark_partition_id())
              .localCheckpoint(eager=True))  # pin partitioning for both passes
    part_totals = {r["_pid"]: r["t"] for r in
                   ranged.groupBy("_pid").agg(F.sum("_w").alias("t"))
                   .collect()}
    total = sum(part_totals.values())
    offsets, acc = {}, 0
    for pid in sorted(part_totals):
        offsets[pid] = acc
        acc += part_totals[pid]
    # per-partition offsets as a literal map (try_element_at: ANSI-safe)
    map_txt = "map(" + ", ".join(
        f"{pid}, {offsets[pid]}L" for pid in sorted(offsets)) + ")"
    w = Window.partitionBy("_pid").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum_end = (F.sum("_w").over(w)
               + F.expr(f"try_element_at({map_txt}, _pid)"))
    with_ce = ranged.withColumn("_ce", cum_end)
    sel = F.expr(f"((_ce * {int(k)}L) div {int(total)}L) > "
                 f"(((_ce - _w) * {int(k)}L) div {int(total)}L)")
    return (with_ce.filter(sel)
            .select(F.col(id_col), F.col("_w").alias("weight"))
            .orderBy(id_col))


def ctfidf_keywords(df: DataFrame, group_col: str = "lang",
                    text_col: str = "text", top_k: int = 10) -> DataFrame:
    """Class-based TF-IDF keywords (the c-TF-IDF of BERTopic,
    Grootendorst 2022, arXiv:2203.05794) → per group the ``top_k``
    most characteristic terms ``(grp, term, tf, score_micro, rk)``:
    ``score = tf_{t,c} · ln(1 + A / f_t)`` with ``tf_{t,c}`` the term
    count inside the class, ``f_t`` the corpus term count, and ``A``
    the mean token count per class — terms frequent IN the class but
    rare overall rank first. The corpus-analysis primitive behind
    topic labeling and per-source drift inspection.

    Determinism: the idf factor is floored to INTEGER micro-nats per
    TERM (one value per vocabulary row, never per occurrence), and the
    score is the exact integer product ``tf · idf_micro`` — no
    order-dependent float math anywhere.

    Scale: one token explode feeding two counts — (group, term) and
    (term) — both map-side combined; the per-term idf table joins back
    broadcast (vocab-sized by Heaps' law). Top-k per group is one
    window over the (group)-keyed vocab table, not the corpus.
    """
    from ..session import widen

    # widen: the explode lineage feeds three consumers (tf, f_t, and
    # the broadcast idf build) — on a single-file scan each would
    # otherwise recompute serially on ONE task (measured 13.7 s → 1.6 s
    # warm at sf0.1)
    toks = (widen(df).select(F.col(group_col).alias("grp"),
                             F.explode(F.split(F.lower(F.col(text_col)), " "))
                             .alias("term"))
            .filter(F.length("term") > 0))
    tf = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    ft = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f_t"))
    # A = mean tokens per class, from the (grp) marginal of tf
    a_row = (tf.groupBy("grp").agg(F.sum("tf").alias("_n"))
             .agg(F.sum("_n").alias("_tot"), F.count(F.lit(1)).alias("_g")))
    idf = (ft.crossJoin(F.broadcast(a_row))
           .select("term",
                   F.floor(F.log(F.lit(1.0)
                                 + (F.col("_tot").cast("double") / F.col("_g"))
                                 / F.col("f_t"))
                           * F.lit(1000000.0) + F.lit(0.5))
                   .cast("long").alias("idf_micro")))
    scored = (tf.join(F.broadcast(idf), "term")
              .select("grp", "term", F.col("tf").cast("long").alias("tf"),
                      (F.col("tf") * F.col("idf_micro")).alias("score_micro")))
    from pyspark.sql import Window
    w = Window.partitionBy("grp").orderBy(F.col("score_micro").desc(),
                                          F.col("term").asc())
    return (scored.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= top_k)
            .orderBy("grp", "rk"))


def doc_lexical_stats(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-document lexical-diversity profile → ``(doc_id, n_tokens,
    n_distinct, ttr_frac, mean_word_len_frac, vgroups_per_word_frac)``
    — the type-token ratio (templated / machine-generated text scores
    LOW), mean word length, and vowel-group-per-word syllable proxy
    that curation pipelines threshold on before training-set
    admission.

    All-native row expressions (split / array_distinct /
    aggregate-free): counts are exact integers and every ratio uses
    the remainder-exact half-up protocol, so the output hashes
    engine-stably. The whole operator is a narrow map — no shuffle,
    no UDF; at 100 TB it rides the scan."""
    from ..functions.rounding import pround_iratio

    text = F.col(text_col)
    toks = F.split(text, r"\s+")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    chars = F.length(F.regexp_replace(text, r"\s+", ""))
    vg = F.regexp_count(F.lower(text), F.lit(r"[aeiouy]+"))
    return (df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        pround_iratio(nd.cast("long"), n.cast("long")).alias("ttr_frac"),
        pround_iratio(chars.cast("long"), n.cast("long"))
        .alias("mean_word_len_frac"),
        pround_iratio(vg.cast("long"), n.cast("long"))
        .alias("vgroups_per_word_frac"))
        .orderBy(id_col))
