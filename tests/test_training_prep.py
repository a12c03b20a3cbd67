"""Training-data prep operators: DSIR importance scores, deterministic
shuffle/split, per-group quota selection, embedding dimension stats,
hard-negative mining, at-ingest near-dup candidates."""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM
from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
    dsir_scores,
    quota_select,
    shuffle_split,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- DSIR

def test_dsir_prefers_target_domain(docs):
    """The importance weight is log p_target/p_raw summed over a doc's
    hashed n-grams: documents FROM the target slice (lang='en') must
    score higher on average than documents outside it."""
    s = dsir_scores(docs).join(docs.select("doc_id", "lang"), "doc_id")
    rows = (s.groupBy((F.col("lang") == "en").alias("is_en"))
            .agg(F.avg("dsir_micro_nats").alias("m")).collect())
    means = {r["is_en"]: r["m"] for r in rows}
    assert means[True] > means[False]


def test_dsir_feature_count_is_unigrams_plus_bigrams(spark, docs):
    """n_feats = non-empty unigrams + word bigrams (n-1)."""
    row = docs.orderBy("doc_id").select("doc_id", "text").first()
    toks = [t for t in row["text"].lower().split(" ")]
    expected = len([t for t in toks if t]) + max(0, len(toks) - 1)
    got = (dsir_scores(docs).filter(F.col("doc_id") == row["doc_id"])
           .first()["n_feats"])
    assert got == expected


def test_dsir_invariant_under_shuffle_partitions(spark, docs):
    """Integer micro-nat discipline: scores identical under different
    partial-aggregation merge orders."""
    def run():
        return sorted(map(tuple, dsir_scores(docs).collect()))
    base = run()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        alt = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt


# ------------------------------------------------------- shuffle/split

def test_shuffle_split_membership_stable_under_growth(docs):
    """A document's split must not change when the corpus grows — the
    leakage-safety property hash-bucket assignment provides and
    frac-based randomSplit does not."""
    full = {r["doc_id"]: (r["split"], r["shard"])
            for r in shuffle_split(docs).collect()}
    sub = {r["doc_id"]: (r["split"], r["shard"])
           for r in shuffle_split(docs.filter(F.col("doc_id") % 3 == 0)).collect()}
    assert sub and all(full[k] == v for k, v in sub.items())


def test_shuffle_split_fractions_and_ranges(docs):
    out = shuffle_split(docs).collect()
    n = len(out)
    frac = {s: sum(1 for r in out if r["split"] == s) / n
            for s in ("train", "val", "test")}
    # hash buckets: expected 0.80 / 0.10 / 0.10 with binomial noise
    assert 0.70 < frac["train"] < 0.90
    assert 0.04 < frac["val"] < 0.16
    assert 0.04 < frac["test"] < 0.16
    assert all(0 <= r["shard"] < 16 for r in out)
    assert len({r["shuffle_key"] for r in out}) == n  # injective order key


# ------------------------------------------------------- quota select

def test_quota_select_cap_rank_and_order(docs):
    out = quota_select(docs, cap=20).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    for grp, rows in by_grp.items():
        assert len(rows) <= 20
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_quota_select_keeps_the_best(docs):
    """Row at rank=cap must score >= every non-selected row of the group."""
    cap = 10
    sel = quota_select(docs, cap=cap)
    worst_kept = sel.groupBy("grp").agg(F.min("score").alias("kept_min"))
    # per group, the worst kept score bounds every dropped score
    import collections
    rows = docs.select("lang", "n_chars").collect()
    per = collections.defaultdict(list)
    for r in rows:
        per[r["lang"]].append(r["n_chars"])
    kept_min = {r["grp"]: r["kept_min"] for r in worst_kept.collect()}
    for g, vals in per.items():
        vals.sort(reverse=True)
        dropped = vals[cap:]
        if dropped:
            assert kept_min[g] >= max(dropped)


# -------------------------------------------------- embedding dim stats

def test_embedding_dim_stats_against_numpy(emb):
    import math

    import numpy as np
    out = {r["d"]: r for r in SIM.embedding_dim_stats(emb).collect()}
    vecs = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    xu = np.floor(vecs * 1e6 + 0.5).astype(np.int64)
    n = vecs.shape[0]
    for d in range(vecs.shape[1]):
        r = out[d]
        assert r["n"] == n
        su = int(xu[:, d].sum())
        ssq = int((xu[:, d].astype(object) ** 2).sum())
        mean = math.floor((su / n / 1e6) * 1e6 + 0.5) / 1e6
        var = math.floor(((n * ssq - su * su) / (n * n) / 1e12) * 1e6 + 0.5) / 1e6
        assert r["mean"] == pytest.approx(mean, abs=0)
        assert r["pop_var"] == pytest.approx(var, abs=0)
        assert r["mn"] == xu[:, d].min() / 1e6
        assert r["mx"] == xu[:, d].max() / 1e6
        assert r["mn"] <= r["mean"] <= r["mx"]
        assert r["pop_var"] >= 0


# ------------------------------------------------------ hard negatives

def test_hard_negatives_band_semantics(emb):
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.hard_negatives(emb, queries, lo=4, hi=9).collect()
    topk = SIM.pairwise_topk_join(emb, queries, k=9).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["qid"], []).append(r)
    for qid, rows in per_q.items():
        ranks = [r["rank"] for r in rows]
        assert min(ranks) >= 4 and max(ranks) <= 9
        cos = [r["cosine"] for r in rows]
        assert cos == sorted(cos, reverse=True)
    # band rows are exactly the topk rows with rank >= lo
    band_from_topk = sorted((r["qid"], r["vec_id"], r["rank"])
                            for r in topk if r["rank"] >= 4)
    band = sorted((r["qid"], r["vec_id"], r["rank"]) for r in out)
    assert band == band_from_topk


# ------------------------------------- at-ingest near-dup candidates

def test_stream_neardup_candidates_match_batch_band_join(spark, sf_dir):
    """The streaming per-row signature path must produce exactly the
    batch band self-join (ordered pairs, no self-matches)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        documents_stream,
        neardup_candidates_stream,
        run_stream,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    aug = docs.unionAll(docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text")))
    sigs = D.minhash_signatures(aug).localCheckpoint(eager=True)
    banded = D.band_signatures(sigs)
    a, b = banded.alias("a"), banded.alias("b")
    batch = sorted(map(tuple,
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(F.col("a.doc_id"), F.col("a.band").cast("long"),
                F.col("b.doc_id")).collect()))

    raw = documents_stream(spark, sf_dir).select("doc_id", "text")
    aug_stream = raw.select(F.explode(F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.struct((F.col("doc_id") + 1000000).alias("doc_id"),
                 F.concat(F.col("text"), F.lit(" zzz")).alias("text")),
    )).alias("r")).select("r.doc_id", "r.text")
    got = sorted(map(tuple,
        run_stream(neardup_candidates_stream(aug_stream, banded),
                   "t_neardup_cands", "append")
        .select("doc_id", F.col("band").cast("long"), "cand_id").collect()))
    assert got == batch


# --------------------------------------------------- mixture token plan

def test_mixture_token_plan_exact_apportionment(docs):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        mixture_token_plan,
    )
    rows = mixture_token_plan(docs, budget_tokens=999_983).collect()
    # largest-remainder: targets sum to EXACTLY the budget (prime budget
    # exercises the remainder distribution)
    assert sum(r["target_tokens"] for r in rows) == 999_983
    for r in rows:
        # epochs_micro is the fixed-point oversampling factor
        assert r["epochs_micro"] == (r["target_tokens"] * 1_000_000) // r["n_tokens"]
        assert r["n_docs"] > 0 and r["n_tokens"] > 0


def test_mixture_token_plan_proportionality(docs):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        mixture_token_plan,
    )
    rows = {r["lang"]: r for r in mixture_token_plan(docs).collect()}
    # weight ratio en:zh is 6:1 — target ratio must match within the
    # ±1-token largest-remainder wobble
    assert abs(rows["en"]["target_tokens"] - 6 * rows["zh"]["target_tokens"]) <= 6


def test_mixture_token_plan_missing_language_renormalizes(spark):
    """A weighted language absent from the corpus
    must not break the exact-budget invariant. With the static-Σw
    divisor, the inner join dropping 'zh' left leftover ≈ budget·w_zh/Σw
    ≫ row count, every surviving row took +1, and the targets summed to
    far below the budget. Renormalized over PRESENT weights, targets sum
    to EXACTLY the budget; a zero-token language keeps its target but
    reports NULL epochs_micro (not a divide-by-zero)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        mixture_token_plan,
    )
    d = spark.createDataFrame(
        [(1, "en", "alpha beta gamma"), (2, "en", "delta eps"),
         (3, "de", "eins zwei"), (4, "fr", "   ")],  # fr: docs but 0 tokens
        "doc_id long, lang string, text string")
    rows = {r["lang"]: r
            for r in mixture_token_plan(d, budget_tokens=100_003).collect()}
    # 'es'/'zh' are weighted but absent: dropped, NOT budget-eating
    assert set(rows) == {"en", "de", "fr"}
    assert sum(r["target_tokens"] for r in rows.values()) == 100_003
    # proportionality against the renormalized Σw = 1500+1000+750
    assert abs(rows["en"]["target_tokens"] * 2 -
               rows["de"]["target_tokens"] * 3) <= 3
    assert rows["fr"]["n_tokens"] == 0
    assert rows["fr"]["epochs_micro"] is None
    assert rows["en"]["epochs_micro"] == (
        rows["en"]["target_tokens"] * 1_000_000) // rows["en"]["n_tokens"]


# ----------------------------------------------------- training manifest

def test_training_manifest_composes_components(docs):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        dsir_scores,
        quota_select,
        shuffle_split,
        training_manifest,
    )
    man = {r["doc_id"]: r for r in training_manifest(docs, cap=15).collect()}
    q = {r["doc_id"]: r for r in quota_select(docs, cap=15).collect()}
    assert set(man) == set(q)
    ds = {r["doc_id"]: r["dsir_micro_nats"] for r in dsir_scores(docs).collect()}
    sp = {r["doc_id"]: (r["split"], r["shard"]) for r in shuffle_split(docs).collect()}
    for did, r in man.items():
        assert r["rk"] == q[did]["rk"] and r["lang"] == q[did]["grp"]
        assert r["dsir_micro_nats"] == ds[did]
        assert (r["split"], r["shard"]) == sp[did]


# ------------------------------------------------------------ MMR

def test_mmr_skips_near_copies_plain_topk_keeps(spark, emb):
    """Plant an exact copy of the best hit: plain top-k returns both
    copies back-to-back; diversity-weighted MMR (λ=0.3, penalty
    dominates: the copy scores λ·1 − (1−λ)·1 < λ·rel − (1−λ)·rel for
    any other candidate) must not select the copy second."""
    import pyspark.sql.functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    twin = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label")
    aug = emb.unionAll(twin)
    top = [r["vec_id"] for r in cosine_topk(aug, q, k=5).collect()]
    assert set(top[:2]) == {0, 900000}  # plain ranking keeps the copy
    sel = mmr_rerank(aug, q, k=5, lam_mill=300)
    rows = sel.orderBy("rank").collect()
    ids = [r["vec_id"] for r in rows]
    # the copy has max_sim = 1.0 to the first pick -> heavily penalized
    assert ids[0] in (0, 900000) and ids[1] not in (0, 900000)
    # scores strictly ordered by construction of the greedy argmax
    assert all(rows[i]["mmr_score_nano"] >= rows[i + 1]["mmr_score_nano"]
               for i in range(1, len(rows) - 1))


def test_mmr_first_pick_is_top_relevance(spark, emb):
    import pyspark.sql.functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    best = cosine_topk(emb, q, k=1).head()["vec_id"]
    first = mmr_rerank(emb, q, k=3).orderBy("rank").head()["vec_id"]
    assert first == best


# ------------------------------------------------------------ RBO

def test_rbo_identity_and_disjoint(spark, emb):
    import pyspark.sql.functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        cosine_topk,
        rbo_min_at,
    )
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    top = cosine_topk(emb, q, k=10)
    r = rbo_min_at(top, top).head()
    # self-agreement: truncated RBO_min = 1 - p^10 (the tail mass is
    # unknowable at depth 10, so even identical rankings score < 1)
    assert r["n_common"] == 10
    assert r["rbo_min"] == pytest.approx(1 - 0.9 ** 10, abs=1e-12)
    shifted = top.select((F.col("vec_id") + 10**9).alias("vec_id"), "rank")
    r2 = rbo_min_at(top, shifted).head()
    assert r2["n_common"] == 0 and r2["rbo_min"] == 0.0


def test_rbo_head_weighted(spark, emb):
    """Agreement only at rank 1 must outscore agreement only at rank 10
    — the property set-recall cannot express."""
    from pyspark.sql import Row

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import rbo_min_at
    def ranking(ids):
        return spark.createDataFrame(
            [Row(vec_id=i, rank=r + 1) for r, i in enumerate(ids)])
    a = ranking(list(range(1, 11)))
    b_head = ranking([1] + list(range(101, 110)))     # agrees at rank 1
    b_tail = ranking(list(range(201, 210)) + [10])    # agrees at rank 10
    rh = rbo_min_at(a, b_head).head()["rbo_min"]
    rt = rbo_min_at(a, b_tail).head()["rbo_min"]
    assert rh > rt > 0


# ------------------------------------------------------------ c-TF-IDF

def test_ctfidf_group_exclusive_term_ranks_high(spark, docs):
    import pyspark.sql.functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.text_analysis import (
        ctfidf_keywords,
    )
    # plant a token that appears ONLY in 'de' docs, frequently
    planted = docs.withColumn(
        "text",
        F.when(F.col("lang") == "de",
               F.concat(F.col("text"), F.lit(" qqxtoken qqxtoken qqxtoken")))
        .otherwise(F.col("text")))
    out = ctfidf_keywords(planted, top_k=5)
    de = [r["term"] for r in out.filter(F.col("grp") == "de").collect()]
    assert "qqxtoken" in de
    others = [r["term"] for r in out.filter(F.col("grp") != "de").collect()]
    assert "qqxtoken" not in others
    # contract: rk contiguous, scores non-increasing per group
    for g in {r["grp"] for r in out.collect()}:
        rows = out.filter(F.col("grp") == g).orderBy("rk").collect()
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        sc = [r["score_micro"] for r in rows]
        assert sc == sorted(sc, reverse=True)


# --------------------------------------------------- split leakage

def test_split_leakage_report_counts_cross_split_pairs(spark, docs):
    """Every near-dup pair is attributed to exactly one (ordered)
    split-pair bucket, and the totals reconcile."""
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        shuffle_split,
        split_leakage_report,
    )
    d = docs.select("doc_id", "text")
    aug = d.unionAll(d.select((F.col("doc_id") + 1000000).alias("doc_id"),
                              F.concat("text", F.lit(" zzz")).alias("text")))
    pairs = D.minhash_near_dups(aug, threshold=0.5)
    splits = shuffle_split(aug)
    rep = split_leakage_report(pairs, splits).collect()
    assert sum(r["n_pairs"] for r in rep) == pairs.count()
    assert all(r["split_a"] <= r["split_b"] for r in rep)
    # brute-force reconciliation of one bucket
    smap = {r["doc_id"]: r["split"] for r in splits.collect()}
    want_cross = sum(
        1 for r in pairs.collect()
        if tuple(sorted((smap[r["id_a"]], smap[r["id_b"]]))) == ("test", "train"))
    got_cross = next((r["n_pairs"] for r in rep
                      if (r["split_a"], r["split_b"]) == ("test", "train")), 0)
    assert got_cross == want_cross


def test_mmr_matches_python_reference(spark, emb):
    """The distributed candidate prep + driver greedy must equal a
    from-scratch Python MMR over the same collected candidates."""
    import math

    import pyspark.sql.functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )
    q = list(emb.filter(F.col("vec_id") == 7).head()["embedding"])
    n, k, lam = 12, 6, 450
    got = [(r["rank"], r["vec_id"], r["mmr_score_nano"])
           for r in mmr_rerank(emb, q, n_candidates=n, k=k,
                               lam_mill=lam).orderBy("rank").collect()]

    # reference: same integer discipline, brute-force floats
    cands = {r["vec_id"]: list(r["embedding"])
             for r in cosine_topk(emb, q, k=n)
             .join(emb, "vec_id").select("vec_id", "embedding").collect()}
    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return dot / (na * nb)
    rel = {v: math.floor(math.floor(cos(vec, q) * 1e6 + 0.5) / 1e6 * 1e6 + 0.5)
           for v, vec in cands.items()}
    sim = {(a, b): math.floor(cos(cands[a], cands[b]) * 1e6 + 0.5)
           for a in cands for b in cands if a != b}
    remaining, sel = set(cands), []
    for step in range(1, k + 1):
        best = None
        for vid in sorted(remaining):
            ms = max((sim[(vid, s[1])] for s in sel), default=0)
            sc = lam * rel[vid] - (1000 - lam) * ms
            if best is None or sc > best[0]:
                best = (sc, vid)
        sel.append((step, best[1], best[0]))
        remaining.discard(best[1])
    assert got == sel


def test_quota_select_salted_equals_plain(docs):
    """The two-phase salted quota must produce byte-identical output to
    the single-window form — salting is an execution-shape change only."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        quota_select,
        quota_select_salted,
    )
    for cap in (3, 17, 50):
        plain = [tuple(r) for r in quota_select(docs, cap=cap).collect()]
        salted = [tuple(r) for r in quota_select_salted(docs, cap=cap).collect()]
        assert plain == salted
    # mono-group corpus: the case the salt exists for
    mono = docs.withColumn("lang", F.lit("only"))
    plain = [tuple(r) for r in quota_select(mono, cap=25).collect()]
    salted = [tuple(r) for r in quota_select_salted(mono, cap=25).collect()]
    assert plain == salted and len(plain) == 25


# --------------------------------------------------- weighted sample

def test_weighted_sample_matches_python_mirror(docs):
    """Exact determinism: the A-ES exponential keys replicate in plain
    Python (same md5-derived u, same double math), so the selected set
    and order match bit-for-bit."""
    import hashlib
    import math

    from text_sentiment_classification_hadoop_spark_spark.operators.curation import weighted_sample
    got = [(r["doc_id"], r["weight"], r["rk"])
           for r in weighted_sample(docs, k=50).collect()]
    rows = docs.select("doc_id", "n_chars").collect()
    keyed = []
    for r in rows:
        h = int(hashlib.md5(f"wsample:v1:{r['doc_id']}".encode())
                .hexdigest()[:15], 16)
        u = ((h % 1000000) + 1) / 1000000.0
        keyed.append((-math.log(u) / float(r["n_chars"]), r["doc_id"],
                      r["n_chars"]))
    keyed.sort()
    want = [(d, w, i + 1) for i, (_, d, w) in enumerate(keyed[:50])]
    assert got == want


def test_weighted_sample_prefers_heavy_weights(spark):
    """A 10000x-weight document must be drawn into a small sample."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.curation import weighted_sample
    d = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 123, 1000000).otherwise(100)
        .alias("n_chars"))
    out = {r["doc_id"] for r in weighted_sample(d, k=20).collect()}
    assert 123 in out


def test_dsir_resample_favors_target_domain(docs):
    """Resampling ∝ exp(importance) must over-represent the target
    slice relative to its corpus share."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import dsir_resample
    sel = dsir_resample(docs, k=100)
    langs = {r["doc_id"]: r["lang"] for r in
             docs.select("doc_id", "lang").collect()}
    sel_ids = [r["doc_id"] for r in sel.collect()]
    assert len(sel_ids) == 100 and len(set(sel_ids)) == 100
    en_share_corpus = sum(1 for v in langs.values() if v == "en") / len(langs)
    en_share_sample = sum(1 for d in sel_ids if langs[d] == "en") / 100
    assert en_share_sample > en_share_corpus


def test_dsir_resample_saturation_proof(docs):
    """With the direct A-ES key -ln(u)/exp(s/tau), scores
    beyond ~±709 nats saturate exp() to +inf/0 and every saturated key
    collapses to the same value, degrading selection to doc_id order.
    The log-space key ln(-ln u) - s/tau is monotone-identical but never
    saturates: at tau=1e-6 (score/tau up to ~1e9 nats) the draw must
    still rank ALL docs by key, i.e. become argmax-like — dominated by
    the highest-scoring docs, not the lowest doc_ids."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        dsir_resample,
        dsir_scores,
    )
    sel = [r["doc_id"] for r in dsir_resample(docs, k=50, tau=1e-6).collect()]
    assert len(set(sel)) == 50
    # tiny tau => tempered distribution approaches argmax over scores:
    # the winners must essentially be the top-scoring documents
    top = [r["doc_id"] for r in
           dsir_scores(docs).orderBy(F.col("dsir_micro_nats").desc(),
                                     F.col("doc_id").asc()).limit(50).collect()]
    assert len(set(sel) & set(top)) >= 45
    # and NOT the doc_id-order collapse the overflow produced
    lowest_ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())[:50]
    assert set(sel) != set(lowest_ids)


def test_corpus_datacard_reconciles(spark, docs):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import corpus_datacard
    card = corpus_datacard(docs).head()
    assert card["n_docs"] == docs.count()
    assert card["n_langs"] == docs.select("lang").distinct().count()
    assert 0.0 <= card["dup_rate"] <= 1.0
    assert card["mean_doc_tokens"] > 0
    # planted duplicates must register
    dup = docs.unionAll(docs.limit(10))
    card2 = corpus_datacard(dup).head()
    assert card2["n_exact_dup_docs"] >= 20  # 10 pairs = 20 dup-mass docs


def test_source_quality_report_cross_source_dups(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        source_quality_report,
    )
    d = spark.createDataFrame(
        [(1, "copied text", "en", "srcA", 11),
         (2, "copied text", "en", "srcB", 11),   # cross-source mirror
         (3, "unique alpha", "en", "srcA", 12),
         (4, "within dup", "de", "srcB", 10),
         (5, "within dup", "de", "srcB", 10),    # within-source dup
         (6, "solo beta", "fr", "srcB", 9)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = {r["source"]: r for r in source_quality_report(d).collect()}
    a, b = rows["srcA"], rows["srcB"]
    assert a["n_docs"] == 2 and b["n_docs"] == 4
    # doc 1 is a dup (corpus-wide) and a cross-source dup; doc 3 clean
    assert a["n_dup_docs"] == 1 and a["n_cross_source_dups"] == 1
    # docs 2 (cross-source) + 4,5 (within-source) are dups for srcB,
    # but only doc 2's digest spans two sources
    assert b["n_dup_docs"] == 3 and b["n_cross_source_dups"] == 1
    # modal language, ties broken lexicographically: srcB has de=2,
    # en=1, fr=1 -> de
    assert a["top_lang"] == "en" and b["top_lang"] == "de"
    assert a["total_ws_tokens"] == 4  # 2+2 whitespace tokens
    assert a["mean_doc_tokens"] == 2.0


def test_ngram_novelty_semantics(spark):
    """First doc of a template family scores 1.0; an exact later copy
    scores 0.0; a doc sharing a prefix scores the unshared fraction;
    sub-k-token docs are absent."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import ngram_novelty
    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # 3 grams, all first-seen here
         (2, "a b c d e"),        # exact copy -> 0.0
         (3, "a b c d x y"),      # grams: abc bcd cde? no: a b c d x y ->
                                  # abc bcd cdx dxy ; abc+bcd seen in doc1
         (4, "zz yy")],           # < 3 tokens: absent
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
           for r in ngram_novelty(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 0, 0.0)
    assert got[3] == (4, 2, 0.5)


def test_temperature_mixture_plan_invariants(spark, sf_dir):
    """Targets sum EXACTLY to the budget; τ→1 approaches natural
    proportions; τ<1 strictly upweights the smallest language's share
    relative to its natural proportion."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import temperature_mixture_plan
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    plan = temperature_mixture_plan(docs, tau=0.3).collect()
    assert sum(r["target_tokens"] for r in plan) == 1_000_000
    tot = sum(r["n_tokens"] for r in plan)
    smallest = min(plan, key=lambda r: r["n_tokens"])
    assert smallest["target_tokens"] / 1_000_000 \
        > smallest["n_tokens"] / tot  # tail language upsampled
    flat = temperature_mixture_plan(docs, tau=1.0).collect()
    assert sum(r["target_tokens"] for r in flat) == 1_000_000
    for r in flat:  # τ=1: share ≈ natural proportion (quantization ulp)
        assert abs(r["target_tokens"] / 1_000_000 - r["n_tokens"] / tot) \
            < 5e-3


def test_length_percentile_matches_cume_dist(spark):
    """The histogram CDF must equal the classic cume_dist definition
    (count ≤ v over n) on a small corpus with ties."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import length_percentile_docs
    rows = [(i, "x", "en", "web", ln) for i, ln in
            enumerate([10, 10, 20, 30, 30, 30, 40])]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["doc_id"]: r["pct_rank"]
           for r in length_percentile_docs(docs).collect()}
    lens = [10, 10, 20, 30, 30, 30, 40]
    for i, ln in enumerate(lens):
        expect = round(sum(1 for x in lens if x <= ln) / len(lens), 6)
        assert abs(got[i] - expect) < 1e-9, (i, got[i], expect)


def test_doc_length_gini_known_values(spark):
    """Gini = 0 for equal lengths; matches the closed-form rank formula
    on an unequal corpus."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import doc_length_gini

    def mk(lens):
        return spark.createDataFrame(
            [(i, "x", "en", "web", ln) for i, ln in enumerate(lens)],
            "doc_id long, text string, lang string, source string, n_chars long")

    assert doc_length_gini(mk([50, 50, 50, 50])).collect()[0]["gini"] == 0.0
    lens = [1, 2, 3, 4, 10]
    xs = sorted(lens)
    n, t = len(xs), sum(xs)
    sr = sum((i + 1) * x for i, x in enumerate(xs))
    expect = round((2 * sr - (n + 1) * t) / (n * t), 6)
    got = doc_length_gini(mk(lens)).collect()[0]
    assert got["n_docs"] == n and got["total_chars"] == t
    assert abs(got["gini"] - expect) < 1e-9


def test_doc_lexical_stats_hand_doc(spark):
    """Hand doc: 5 tokens, 3 distinct, 20 letters, 7 vowel groups —
    every ratio is the exact half-up micro value."""
    from text_sentiment_classification_hadoop_spark_spark.operators.text_analysis import doc_lexical_stats
    docs = spark.createDataFrame(
        [(0, "spark spark rules the cluster")],
        "doc_id long, text string")
    r = doc_lexical_stats(docs).collect()[0]
    assert r["n_tokens"] == 5 and r["n_distinct"] == 4
    assert r["ttr_frac"] == 0.8
    # chars without whitespace: 5+5+5+3+7 = 25 -> 25/5 = 5.0
    assert r["mean_word_len_frac"] == 5.0
    # vowel groups: spark(a) spark(a) rules(u,e) the(e) cluster(u,e) = 7
    assert r["vgroups_per_word_frac"] == 1.4


def test_source_diversity_index_golden(spark):
    """Gini-Simpson golden values: a single-language source scores 0,
    a perfectly 2-way-uniform source scores 0.5, and a 3-way-uniform
    source 2/3 (all exact under the integer protocol)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import source_diversity_index
    rows = [
        (1, "t", "en", "mono"), (2, "t", "en", "mono"),
        (3, "t", "en", "duo"), (4, "t", "de", "duo"),
        (5, "t", "en", "trio"), (6, "t", "de", "trio"), (7, "t", "fr", "trio"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    got = {r["source"]: r for r in source_diversity_index(docs).collect()}
    assert got["mono"]["simpson_frac"] == 0.0 and got["mono"]["n_langs"] == 1
    assert got["duo"]["simpson_frac"] == 0.5
    assert got["duo"]["top_lang_share_frac"] == 0.5
    assert got["trio"]["simpson_frac"] == 0.666667  # 1 - 3*(1/9), 6dp half-up
    assert got["trio"]["n_docs"] == 3


# ------------------------------------------- FFD sequence packing

def _py_ffd_reference(items, budget):
    """Single-node reference of the exact first-fit-decreasing
    semantics: (n_tok desc, doc_id asc) order, first open bin with
    remaining >= n_tok, else a new bin (remaining may go negative for
    oversize docs — they own their bin)."""
    out, bins = {}, []
    for nt, did in sorted(items, key=lambda x: (-x[0], x[1])):
        for i, rem in enumerate(bins):
            if rem >= nt:
                out[did] = (i, budget - rem, nt)
                bins[i] = rem - nt
                break
        else:
            out[did] = (len(bins), 0, nt)
            bins.append(budget - nt)
    return out


def test_pack_ffd_hand_case_and_null_contract(spark):
    """Pinned hand case (budget 128): oversize doc owns seq 0, the
    130/100/90/60 docs open their own bins, 50 first-fits into the
    60-doc's bin (offset 60), 10 backtracks into the 100-doc's bin
    (offset 100) — real first-fit, not next-fit. NULL budgets (the
    unigram foreign-vocab contract) are excluded; callers re-attach
    left-anti like unigram_token_counts."""
    from text_sentiment_classification_hadoop_spark_spark.operators.text_analysis import pack_sequences_ffd
    rows = [(1, 100), (2, 90), (3, 60), (4, 50), (5, 40), (6, 200),
            (7, 10), (8, 130), (9, None)]
    b = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {r["doc_id"]: (r["seq_id"], r["offset_in_seq"], r["n_tok"])
           for r in pack_sequences_ffd(b, budget=128, n_buckets=1).collect()}
    assert got == {6: (0, 0, 200), 8: (1, 0, 130), 1: (2, 0, 100),
                   7: (2, 100, 10), 2: (3, 0, 90), 3: (4, 0, 60),
                   4: (4, 60, 50), 5: (5, 0, 40)}
    assert 9 not in got  # NULL budget -> excluded by contract


def test_pack_ffd_matches_python_reference(spark, sf_dir):
    """Full-corpus replay: per bucket, the distributed fold must equal
    the single-node FFD byte-for-byte, and packing is a permutation of
    the input (every doc exactly once, no drops, no duplicates)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.text_analysis import pack_sequences_ffd
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budgets = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"))
    budget = 512
    rows = pack_sequences_ffd(budgets, budget=budget, n_buckets=4).collect()
    assert len(rows) == docs.count()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) > 1
    for recs in by_bucket.values():
        want = _py_ffd_reference([(r["n_tok"], r["doc_id"]) for r in recs],
                                 budget)
        got = {r["doc_id"]: (r["seq_id"], r["offset_in_seq"], r["n_tok"])
               for r in recs}
        assert got == want
        # packing validity: per sequence, spans are disjoint, in-budget
        # (oversize docs own their sequence), padding is implicit
        seqs = {}
        for did, (sq, off, nt) in got.items():
            seqs.setdefault(sq, []).append((off, nt))
        for spans in seqs.values():
            spans.sort()
            end = 0
            for off, nt in spans:
                assert off >= end
                end = off + nt
            assert end <= budget or len(spans) == 1


def test_write_packed_shards_layout(spark, tmp_path):
    """Writer contract: one parquet file per bucket dir, rows inside a
    bucket file in (seq_id, offset_in_seq) order — the zero-shuffle
    trainer stream order."""
    import glob

    from text_sentiment_classification_hadoop_spark_spark.operators.text_analysis import pack_sequences_ffd
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_packed_shards
    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "tok " * (i % 7)) for i in range(40)],
        "doc_id long, text string")
    budgets = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"))
    packing = pack_sequences_ffd(budgets, budget=16, n_buckets=3)
    path = str(tmp_path / "packed")
    write_packed_shards(docs, packing, path, n_buckets=3)
    bucket_dirs = sorted(glob.glob(f"{path}/bucket=*"))
    assert len(bucket_dirs) == len(
        {r["bucket"] for r in packing.collect()})
    for d in bucket_dirs:
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, f"{d}: expected one file per bucket"
        back = spark.read.parquet(d).collect()
        order = [(r["seq_id"], r["offset_in_seq"]) for r in back]
        assert order == sorted(order)
        assert all(r["text"] is not None for r in back)  # payload joined
