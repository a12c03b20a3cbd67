"""Window analytics, as-of join, range-band join, statistical
aggregates, set ops, decontamination, and deterministic sampling
(this session's operator additions)."""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
from text_sentiment_classification_hadoop_spark_spark.operators import events as E
from text_sentiment_classification_hadoop_spark_spark.operators import relational as R
from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table


# ---------------------------------------------------------------- events

def test_user_running_stats_invariants(spark, sf_dir):
    out = E.user_running_stats(spark, sf_dir)
    rows = out.collect()
    n_events = load_table(spark, "events", sf_dir).count()
    assert len(rows) == n_events
    # seq is 1..n per user; gap_us null only on each user's first event
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for recs in by_user.values():
        seqs = [r["seq"] for r in recs]
        assert seqs == list(range(1, len(recs) + 1))
        assert recs[0]["gap_us"] is None
        assert all(r["gap_us"] is not None and r["gap_us"] >= 0
                   for r in recs[1:])


def test_purchase_attribution_asof_semantics(spark, sf_dir):
    e = load_table(spark, "events", sf_dir)
    n_purchases = e.filter(F.col("event_type") == "purchase").count()
    out = E.purchase_attribution(spark, sf_dir).collect()
    assert len(out) == n_purchases
    for r in out:
        if r["last_click_ts"] is not None:
            assert r["last_click_ts"] <= r["purchase_ts"]
            assert r["gap_us"] >= 0
        else:
            assert r["gap_us"] is None
    # cross-check one attributed purchase against a brute-force lookup
    attributed = next(r for r in out if r["last_click_ts"] is not None)
    clicks = (e.filter((F.col("event_type") == "click")
                       & (F.col("user_id") == attributed["user_id"])
                       & (F.col("ts") <= attributed["purchase_ts"]))
              .agg(F.max("ts").alias("m")).collect()[0]["m"])
    assert clicks == attributed["last_click_ts"]


# ------------------------------------------------------------ relational

def test_quantity_band_totals_partitions_all_rows(spark, sf_dir):
    l = load_table(spark, "lineitem", sf_dir)
    in_range = l.filter((F.col("l_quantity") >= 1)
                        & (F.col("l_quantity") <= 50)).count()
    rows = R.quantity_band_totals(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == in_range
    assert [r["band"] for r in rows] == sorted(r["band"] for r in rows)


def test_price_quantiles_ordered(spark, sf_dir):
    for r in R.price_quantiles(spark, sf_dir).collect():
        assert r["p25"] <= r["p50"] <= r["p75"]
        assert r["n"] > 0


def test_price_quantity_corr_bounds(spark, sf_dir):
    for r in R.price_quantity_corr(spark, sf_dir).collect():
        assert -1.0 <= r["qty_price_corr"] <= 1.0
        assert r["price_stddev"] > 0


def test_grouping_sets_shapes(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir)
    n_status = o.select("o_orderstatus").distinct().count()
    n_prio = o.select("o_orderpriority").distinct().count()
    rows = R.grouping_sets_order_stats(spark, sf_dir).collect()
    assert len(rows) == n_status + n_prio + 1
    grand = [r for r in rows
             if r["o_orderstatus"] is None and r["o_orderpriority"] is None]
    assert len(grand) == 1 and grand[0]["n"] == o.count()


def test_intersect_except_disjoint(spark, sf_dir):
    rows = R.intersect_except_customers(spark, sf_dir).collect()
    both = {r["o_custkey"] for r in rows if r["bucket"] == "open_and_finished"}
    only = {r["o_custkey"] for r in rows if r["bucket"] == "open_only"}
    assert both.isdisjoint(only)
    o = load_table(spark, "orders", sf_dir)
    open_k = {r["o_custkey"] for r in
              o.filter(F.col("o_orderstatus") == "O")
              .select("o_custkey").distinct().collect()}
    assert both | only == open_k


# ------------------------------------------------- decontamination / sample

def test_decontaminate_flags_overlap_only(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),      # shares shingle with test 100
         (2, "one two three four five"),     # clean
         (3, "alpha beta gamma epsilon")],   # shares the same shingle
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "zzz alpha beta gamma yyy")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_shared"]
           for r in D.decontaminate(train, test).collect()}
    # docs 1 and 3 share the 'alpha beta gamma' shingle with the test
    # set; doc 2 shares nothing and must not appear
    assert out == {1: 1, 3: 1}


def test_decontaminate_counts_exact(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    out = D.decontaminate(train, test).collect()
    # train shingles: {a b g, b g d}; test contains both → n_shared = 2
    assert len(out) == 1 and out[0]["n_shared"] == 2


def test_hash_sample_deterministic_and_disjoint(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    s1 = {r["doc_id"] for r in TA.hash_sample(docs, pct=10)
          .select("doc_id").collect()}
    s2 = {r["doc_id"] for r in TA.hash_sample(docs, pct=10)
          .select("doc_id").collect()}
    assert s1 == s2 and len(s1) > 0
    total = docs.count()
    assert len(s1) < total
    # disjoint pct-ranges partition the corpus: 0-10 vs 10-100
    rest = {r["doc_id"] for r in
            docs.filter(~F.col("doc_id").isin(list(s1)))
            .select("doc_id").collect()} if len(s1) < 2000 else None
    if rest is not None:
        assert s1.isdisjoint(rest) and s1 | rest == {
            r["doc_id"] for r in docs.select("doc_id").collect()}


# ------------------------------------------- top-N / subquery / interval

def test_top_orders_per_customer_rank(spark, sf_dir):
    rows = R.top_orders_per_customer(spark, sf_dir).collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    for recs in by_cust.values():
        assert [r["rk"] for r in recs] == list(range(1, len(recs) + 1))
        assert len(recs) <= 3
        prices = [r["price"] for r in recs]
        assert prices == sorted(prices, reverse=True)


def test_orders_above_global_avg_threshold(spark, sf_dir):
    o = load_table(spark, "orders", sf_dir)
    avg = o.agg(F.avg("o_totalprice")).collect()[0][0]
    rows = R.orders_above_global_avg(spark, sf_dir).collect()
    assert all(r["price"] > 1.5 * avg - 0.01 for r in rows)
    expected = o.filter(F.col("o_totalprice") > 1.5 * avg).count()
    assert len(rows) == expected


def test_interval_pair_counts_matches_bruteforce(spark, sf_dir):
    # brute-force the pair count for one user and compare
    out = {r["user_id"]: r for r in
           E.interval_pair_counts(spark, sf_dir).collect()}
    assert out, "no qualifying pairs at this SF is implausible"
    e = load_table(spark, "events", sf_dir)
    uid = next(iter(sorted(out)))
    evs = sorted(
        [(r["us"], r["event_id"]) for r in
         e.filter(F.col("user_id") == uid)
         .select(F.unix_micros("ts").alias("us"), "event_id").collect()])
    n, gap_sum = 0, 0
    for i in range(len(evs)):
        for j in range(len(evs)):
            d = evs[j][0] - evs[i][0]
            if 0 <= d <= 300_000_000 and (
                    d > 0 or evs[i][1] < evs[j][1]):
                n += 1
                gap_sum += d
    assert out[uid]["n_pairs"] == n
    assert out[uid]["sum_gap_us"] == gap_sum


# ------------------------------------------- sliding / sketch / unpivot

def test_sliding_counts_fanout_is_exactly_two(spark, sf_dir):
    # D=10min, S=5min => every event lands in exactly 2 windows
    n_events = load_table(spark, "events", sf_dir).count()
    agg = E.sliding_counts(spark, sf_dir).agg(F.sum("n")).collect()[0][0]
    assert agg == 2 * n_events


def test_approx_distinct_error_bound(spark, sf_dir):
    """|approx − exact| ≤ 3·rsd·exact — the same bound the registered
    query exports as ``approx_within_3rsd`` for the driver's oracle."""
    rows = E.approx_distinct_users(spark, sf_dir, rsd=0.01).collect()
    assert rows
    for r in rows:
        exact = r["n_users_exact"]
        assert abs(r["n_users_approx"] - exact) <= max(1, 3 * 0.01 * exact)


# --------------------------------------------- repetition / PII scrub

def test_repetition_stats_known_values(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"),
         (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
             " w17 w18 w19 w20"),
         (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TA.repetition_stats(docs).collect()}
    r1 = out[1]                       # 4x the same token
    assert r1["n_tokens"] == 4
    assert r1["distinct_frac"] == 0.25
    assert r1["top_unigram_frac"] == 1.0
    assert r1["top_bigram_frac"] == 1.0          # "a a" thrice
    assert abs(r1["dup_bigram_frac"] - (1 - 1 / 3)) < 1e-6
    assert r1["repetitive"] == 1
    r2 = out[2]                       # 20 distinct tokens, 19 distinct bigrams
    assert r2["distinct_frac"] == 1.0
    assert r2["top_unigram_frac"] == 0.05
    assert abs(r2["top_bigram_frac"] - 1 / 19) < 1e-6
    assert r2["dup_bigram_frac"] == 0.0
    assert r2["repetitive"] == 0
    r3 = out[3]                       # split("") -> [""], no bigrams
    assert r3["n_tokens"] == 1
    assert r3["top_bigram_frac"] == 0.0 and r3["repetitive"] == 0


def test_repetition_stats_is_narrow(spark):
    docs = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    plan = TA.repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob@corp.io and alice@x.org, call 212-555-0199,"
             " host 192.168.1.250 up"),
         (2, "no pii here, just version 1.2 and year 2024")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TA.pii_scrub(docs).collect()}
    r1 = out[1]
    assert (r1["n_emails"], r1["n_phones"], r1["n_ips"]) == (2, 1, 1)
    assert r1["clean_text"] == ("mail <EMAIL> and <EMAIL>, call <PHONE>,"
                                " host <IP> up")
    r2 = out[2]
    assert (r2["n_emails"], r2["n_phones"], r2["n_ips"]) == (0, 0, 0)
    assert r2["clean_text"] == "no pii here, just version 1.2 and year 2024"


def test_pii_scrub_email_wins_over_phone_digits(spark):
    # the email rule runs first, so an address containing a digit run is
    # redacted whole rather than half-eaten by the phone rule
    docs = spark.createDataFrame(
        [(1, "reach 555-123-4567x@ex.com maybe")], "doc_id long, text string")
    r = TA.pii_scrub(docs).collect()[0]
    assert r["clean_text"] == "reach <EMAIL> maybe"


def test_order_stats_unpivot_roundtrip(spark, sf_dir):
    rows = E_rows = R.order_stats_unpivot(spark, sf_dir).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["o_orderstatus"], {})[r["stat"]] = r["value"]
    o = load_table(spark, "orders", sf_dir)
    direct = {r["o_orderstatus"]: r for r in o.groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("s"), F.max("o_totalprice").alias("m")
    ).collect()}
    assert set(by_status) == set(direct)
    for st, stats in by_status.items():
        assert set(stats) == {"sum_price", "avg_price", "min_price",
                              "max_price"}
        assert abs(stats["sum_price"] - direct[st]["s"]) < 0.01
        assert abs(stats["max_price"] - direct[st]["m"]) < 0.01
        assert stats["min_price"] <= stats["avg_price"] <= stats["max_price"]


# ------------------------------------------------------ unigram LM score

def test_lm_score_matches_hand_computation(spark):
    import math
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TA.lm_score(docs).collect()}
    # corpus: a:2 b:2 c:1 -> N=5, V=3; p(w) = (c+.5)/(N+.5*(V+1))
    denom = 5 + 0.5 * 4
    u = {w: math.floor(math.log((c + 0.5) / denom) * 1e6 + 0.5)
         for w, c in {"a": 2, "b": 2, "c": 1}.items()}
    exp1 = math.floor(((2 * u["a"] + u["b"]) / 3 / 1e6) * 1e6 + 0.5) / 1e6
    exp2 = math.floor(((u["b"] + u["c"]) / 2 / 1e6) * 1e6 + 0.5) / 1e6
    assert out[1]["n_scored"] == 3 and out[1]["avg_logp_nats"] == exp1
    assert out[2]["n_scored"] == 2 and out[2]["avg_logp_nats"] == exp2
    assert out[3]["n_scored"] == 0 and out[3]["avg_logp_nats"] is None
    # rarer tokens -> more surprising -> lower mean log-prob
    assert out[2]["avg_logp_nats"] < out[1]["avg_logp_nats"]


def test_bigram_lm_score_backoff_and_pair_counts(spark):
    """Interpolated bigram scoring: n_pairs = tokens−1; a doc made of
    the corpus's dominant bigram outscores one whose pairs were never
    adjacent (pure unigram backoff); <2-token docs → 0/NULL."""
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "c d c d"), (3, "a b"), (4, "a d"),
         (5, "a"), (6, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TA.bigram_lm_score(docs).collect()}
    assert out[1]["n_pairs"] == 5 and out[2]["n_pairs"] == 3
    assert out[3]["n_pairs"] == 1 and out[4]["n_pairs"] == 1
    assert out[5]["n_pairs"] == 0 and out[5]["avg_logp_nats"] is None
    assert out[6]["n_pairs"] == 0
    # "a b" is a frequent bigram; "a d" never occurs adjacently, so it
    # only gets the (1-lambda) unigram backoff mass
    assert out[3]["avg_logp_nats"] > out[4]["avg_logp_nats"]


def test_lm_score_model_join_is_broadcast(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    plan = TA.lm_score(load_table(spark, "documents", sf_dir)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_c4_line_clean_rules_and_global_line_dedup(spark):
    docs = spark.createDataFrame([
        (1, "good first sentence here.\nthis line is shared boilerplate.\n"
            "no terminal punct\nshort one.\nenable javascript to continue."),
        (2, "another good sentence right here!\n"
            "this line is shared boilerplate."),
        (3, "a lorem ipsum page that should vanish entirely."),
        (4, "page with { brace goes away."),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TA.c4_line_clean(docs).collect()}
    assert set(out) == {1, 2}                      # 3, 4: page-level drops
    # doc 1: unterminated, <4-word, and javascript lines dropped
    assert out[1]["clean_text"] == ("good first sentence here.\n"
                                    "this line is shared boilerplate.")
    assert out[1]["n_lines_kept"] == 2
    # the shared line survives only at its first occurrence (doc 1)
    assert out[2]["clean_text"] == "another good sentence right here!"
    assert out[2]["n_lines_kept"] == 1
    # min_lines raises the doc-survival bar
    strict = {r["doc_id"] for r in
              TA.c4_line_clean(docs, min_lines=2).collect()}
    assert strict == {1}


def test_curation_pipeline_reasons_and_precedence(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import curation_pipeline
    A = ("the cat and the dog played in that big sunny garden"
         " for hours today.")
    docs = spark.createDataFrame([
        (1, A),                                        # kept
        (2, A),                                        # dup of 1 -> duplicate
        (3, "zzz qqq www rrr ttt yyy uuu iii ooo ppp"),  # no stopwords -> lang
        (4, "the is of."),                             # en but quality 1/3
        (5, "the is " * 20),                           # repetitive boilerplate
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["kept"], r["reject_reason"])
           for r in curation_pipeline(docs).collect()}
    assert out[1] == (1, None)
    assert out[2] == (0, "duplicate")      # min-id doc keeps the cluster
    assert out[3] == (0, "lang")           # lang outranks its bad quality
    assert out[4] == (0, "quality")        # quality outranks repetition
    assert out[5] == (0, "repetitive")
    # the kept set is exactly the filter a pipeline would materialize
    kept = curation_pipeline(docs).filter(F.col("kept") == 1).count()
    assert kept == 1


def test_session_window_native_matches_lag_cumsum(spark, sf_dir):
    native = E.session_window_native(spark, sf_dir).collect()
    manual = E.sessionize(spark, sf_dir).collect()
    sn = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
          for r in native}
    sm = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
          for r in manual}
    assert sn == sm and len(sn) > 0


def test_rolling_revenue_bruteforce(spark, sf_dir):
    rows = R.rolling_revenue(spark, sf_dir).collect()
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate", "o_totalprice").collect()
    by_cust = {}
    for r in o:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    cust = next(c for c, rs in sorted(by_cust.items()) if len(rs) >= 5)
    expect = {}
    for r in by_cust[cust]:
        d = r["o_orderdate"]
        expect[d] = sum(x["o_totalprice"] for x in by_cust[cust]
                        if 0 <= (d - x["o_orderdate"]).days <= 30)
    got = [r for r in rows if r["o_custkey"] == cust]
    assert len(got) == len(by_cust[cust])
    for r in got:
        assert abs(r["rolling_revenue"] - expect[r["o_orderdate"]]) < 0.01


def test_corpus_report_partitions_and_cross_checks(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import corpus_report
    docs = load_table(spark, "documents", sf_dir)
    rows = corpus_report(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0.0 <= r["mean_quality"] <= 1.0
        assert 0.0 <= r["pct_repetitive"] <= 1.0
        assert r["mean_ws_tokens"] > 0
    # brute-force one group from the underlying gates
    g = rows[0]["group"]
    ids = {x["doc_id"] for x in
           docs.filter(F.col("source") == g).select("doc_id").collect()}
    qual = {x["doc_id"]: x["quality"]
            for x in TA.quality_score(docs).collect() if x["doc_id"] in ids}
    mean_q = sum(round(q * 1e6) for q in qual.values()) / len(qual) / 1e6
    import math
    assert rows[0]["mean_quality"] == math.floor(mean_q * 1e6 + 0.5) / 1e6


def test_events_json_roundtrip_equals_parquet(spark, sf_dir):
    import __spark_entry__ as entry
    rt = entry.queries()["events_json_roundtrip"](spark, sf_dir).collect()
    pq = E.tumbling_counts(spark, sf_dir).collect()
    assert [tuple(r) for r in rt] == [tuple(r) for r in pq]


def test_corpus_diff_statuses(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import corpus_diff
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_contract_oracle_completeness():
    """EVERY driver query carries a DuckDB oracle — no rows-only
    entries remain since round 5 gave the two MLlib fits literal-VALUES
    oracles of their (layout-pinned, config-independent) sf0.01 golden
    counts."""
    import __spark_entry__ as entry
    qs = set(entry.queries())
    oracles = set(entry.oracle_sql())
    assert oracles <= qs, oracles - qs          # no orphan oracles
    assert qs - oracles == set(), qs - oracles  # no oracle-less queries


def test_narrow_verdict_join_free_and_agrees_with_pipeline(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        curation_pipeline,
        narrow_verdict,
    )
    A = ("the cat and the dog played in that big sunny garden"
         " for hours today.")
    docs = spark.createDataFrame([
        (1, A), (2, A),
        (3, "zzz qqq www rrr ttt yyy uuu iii ooo ppp"),
        (4, "the is of."),
        (5, "the is " * 20),
    ], "doc_id long, text string")
    nv = {r["doc_id"]: (r["kept_narrow"], r["reject_reason"])
          for r in narrow_verdict(docs).collect()}
    full = {r["doc_id"]: r["reject_reason"]
            for r in curation_pipeline(docs).collect()}
    for d, reason in full.items():
        if reason in ("lang", "quality", "repetitive"):
            assert nv[d] == (0, reason)          # same gate, same verdict
        else:                                    # kept or duplicate-only
            assert nv[d] == (1, None)
    # the chained-select composition is one map pass: no join, no
    # keyed exchange anywhere in the plan
    plan = narrow_verdict(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan and "hashpartitioning" not in plan


def test_zipf_fit_recovers_planted_slope(spark):
    # corpus with counts following an exact power law cnt = 1000*rank^-1:
    # tokens t1..t20 appearing 1000/rank times -> slope == -1 exactly
    import math
    rows = []
    doc = 0
    for rank in range(1, 21):
        for _ in range(round(1000 / rank)):
            rows.append((doc, f"t{rank:02d}"))
            doc += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = TA.zipf_fit(docs).collect()[0]
    assert r["n_types"] == 20
    # rounding of 1000/rank to integers perturbs the fit slightly
    assert abs(r["slope"] - (-1.0)) < 0.02, r["slope"]
    assert abs(math.exp(r["intercept"]) - 1000) / 1000 < 0.05


def test_bigram_lm_exact_conditionals(spark):
    import math
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string")
    # bigrams: (a,b)x2, (b,a)x1, (a,c)x1 -> cnt(a·)=3, cnt(b·)=1
    rows = {(r["w1"], r["w2"]): r for r in
            TA.bigram_lm(docs, top_k=10).collect()}
    assert rows[("a", "b")]["cnt"] == 2
    assert rows[("a", "b")]["cond_logp"] == \
        math.floor(math.log(2 / 3) * 1e6 + 0.5) / 1e6
    assert rows[("b", "a")]["cond_logp"] == 0.0          # ln(1/1)
    assert rows[("a", "c")]["cond_logp"] == \
        math.floor(math.log(1 / 3) * 1e6 + 0.5) / 1e6
    assert rows[("a", "b")]["rank"] == 1                 # highest count


def test_heaps_fit_closed_vs_open_vocab(spark):
    # closed vocabulary: V(n) flat after the first docs -> beta ~ 0;
    # one-new-word-per-doc: V(n) = n -> beta == 1 exactly on the log grid
    closed = spark.createDataFrame(
        [(i, "a b c") for i in range(64)], "doc_id long, text string")
    rc = TA.heaps_fit(closed).collect()[0]
    assert rc["beta"] < 0.05 and rc["n_points"] >= 4
    openv = spark.createDataFrame(
        [(i, f"w{i}") for i in range(64)], "doc_id long, text string")
    ro = TA.heaps_fit(openv).collect()[0]
    assert abs(ro["beta"] - 1.0) < 1e-6       # V(n)=n: exact power law
    assert abs(ro["k"] - 1.0) < 1e-6


def test_next_click_attribution_forward_semantics(spark, sf_dir):
    e = load_table(spark, "events", sf_dir)
    out = E.next_click_attribution(spark, sf_dir).collect()
    assert len(out) == e.filter(F.col("event_type") == "purchase").count()
    for r in out:
        if r["next_click_ts"] is not None:
            assert r["next_click_ts"] >= r["purchase_ts"]
            assert r["gap_us"] >= 0
        else:
            assert r["gap_us"] is None
    # cross-check one attributed purchase against brute force
    attributed = next(r for r in out if r["next_click_ts"] is not None)
    nxt = (e.filter((F.col("event_type") == "click")
                    & (F.col("user_id") == attributed["user_id"])
                    & (F.col("ts") >= attributed["purchase_ts"]))
           .agg(F.min("ts").alias("m")).collect()[0]["m"])
    assert nxt == attributed["next_click_ts"]


def test_funnel_conversion_monotone_and_bruteforce(spark, sf_dir):
    rows = E.funnel_conversion(spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == ["signup", "view", "click", "purchase"]
    users = [r["users"] for r in rows]
    assert users == sorted(users, reverse=True)  # funnel can only narrow
    assert rows[0]["pct_of_prev"] == 1.0
    # brute-force one stage: users with a view at-or-after first signup
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type").collect()
    first_signup = {}
    for r in e:
        if r["event_type"] == "signup":
            t = first_signup.get(r["user_id"])
            first_signup[r["user_id"]] = r["ts"] if t is None else min(t, r["ts"])
    stage2 = {r["user_id"] for r in e
              if r["event_type"] == "view"
              and r["user_id"] in first_signup
              and r["ts"] >= first_signup[r["user_id"]]}
    assert rows[1]["users"] == len(stage2)


def test_cohort_retention_covers_all_users(spark, sf_dir):
    out = E.cohort_retention(spark, sf_dir).collect()
    # offset 0 rows cover every user (each user is active in their own
    # first week by definition)
    n_users = (load_table(spark, "events", sf_dir)
               .select("user_id").distinct().count())
    assert sum(r["active_users"] for r in out if r["week_offset"] == 0) == n_users
    assert all(r["week_offset"] >= 0 for r in out)


def test_cohort_retention_sketch_bounded_error(spark, sf_dir):
    """The HLL path (use_sketch=True) must produce the same
    (cohort, offset) keys with counts within ~5x the configured rsd of
    the exact counts (HLL++ error is probabilistic; 5 sigma at
    rsd=0.01 is a comfortably non-flaky bound)."""
    exact = {(r["cohort_start"], r["week_offset"]): r["active_users"]
             for r in E.cohort_retention(spark, sf_dir).collect()}
    approx = {(r["cohort_start"], r["week_offset"]): r["active_users"]
              for r in E.cohort_retention(
                  spark, sf_dir, use_sketch=True, rsd=0.01).collect()}
    assert exact.keys() == approx.keys()
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n), (k, n, approx[k])


def test_bloom_semi_join_exact_and_narrow(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.skew import bloom_semi_join
    li = load_table(spark, "lineitem", sf_dir)
    hot = (load_table(spark, "orders", sf_dir)
           .filter(F.col("o_totalprice") > 150000.0)
           .select(F.col("o_orderkey").alias("l_orderkey")))
    got = bloom_semi_join(li, hot, "l_orderkey")
    want = li.join(hot.distinct(), "l_orderkey", "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # the bitmap never rejects a true member (no false negatives):
    # prefilter alone must be a superset of the exact semi-join
    plan = got._jdf.queryExecution().executedPlan().toString()
    # probe-side bloom test is a Filter, not a join: the string "xxhash64"
    # must appear in a Filter node of the final plan
    assert "xxhash64" in plan


def test_mixture_sample_weights_and_determinism(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import mixture_sample
    docs = load_table(spark, "documents", sf_dir)
    out = mixture_sample(docs)
    rows = out.collect()
    assert rows == mixture_sample(docs).collect()  # zero RNG state
    per_lang_docs = {r["lang"]: r["n"] for r in
                     docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {}
    for r in rows:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
    # full epochs are exact; the fractional epoch is hash-thinned, so
    # achieved weight ≈ target within binomial noise
    import math
    for lang, w in [("en", 1.5), ("de", 1.0), ("fr", 0.75),
                    ("es", 0.5), ("zh", 0.25)]:
        n = per_lang_docs[lang]
        tol = 4 * math.sqrt(n * 0.25) + 1  # 4σ on the Bernoulli part
        assert abs(got.get(lang, 0) - w * n) <= tol, (lang, got.get(lang), w * n)
    # de has weight exactly 1.0: every doc exactly once
    assert got["de"] == per_lang_docs["de"]
    # epochs are 1..n contiguous per doc
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_doc.values())


# ------------------------------------------------------ generic as-of join

def test_asof_join_backward_forward_golden(spark):
    left = spark.createDataFrame(
        [(1, 10, "p10"), (1, 20, "p20"), (2, 5, "p5")],
        "user_id long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 8, "c8"), (1, 10, "c10"), (1, 25, "c25"), (3, 1, "cX")],
        "user_id long, ts long, label string")
    back = {(r["user_id"], r["ts"]): (r["r_ts"], r["r_label"]) for r in
            E.asof_join(left, right, "user_id").collect()}
    # ties are inclusive: left ts=10 matches right ts=10
    assert back[(1, 10)] == (10, "c10")
    assert back[(1, 20)] == (10, "c10")
    assert back[(2, 5)] == (None, None)       # no right rows for key 2
    fwd = {(r["user_id"], r["ts"]): (r["r_ts"], r["r_label"]) for r in
           E.asof_join(left, right, "user_id",
                       direction="forward").collect()}
    assert fwd[(1, 10)] == (10, "c10")        # inclusive forward tie
    assert fwd[(1, 20)] == (25, "c25")
    assert fwd[(2, 5)] == (None, None)


def test_asof_join_matches_purchase_attribution(spark, sf_dir):
    """The generic operator must reproduce the specialized attribution
    query on the real events table (backward, inclusive)."""
    e = load_table(spark, "events", sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts")
    got = {(r["purchase_id"]): r["r_ts"] for r in
           E.asof_join(purchases, clicks, "user_id").collect()}
    want = {r["purchase_id"]: r["last_click_ts"] for r in
            E.purchase_attribution(spark, sf_dir).collect()}
    assert got == want


def test_event_transition_matrix_rows_normalize(spark, sf_dir):
    rows = E.event_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    n_events = load_table(spark, "events", sf_dir).count()
    n_users = (load_table(spark, "events", sf_dir)
               .select("user_id").distinct().count())
    # one transition per event except each user's first
    assert sum(r["n"] for r in rows) == n_events - n_users
    for recs in by_from.values():
        assert abs(sum(r["p"] for r in recs) - 1.0) < 1e-4


def test_multitouch_credit_conserves_value(spark, sf_dir):
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import multitouch_attribution
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    out = multitouch_attribution(spark, sf_dir)
    rows = out.collect()
    assert rows, "purchases exist in the events table"
    # conservation: n * credit + residual == quantized value, per purchase
    p = (load_table(spark, "events", sf_dir)
         .filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.floor(F.col("value") * 1000000.0 + 0.5)
                 .cast("long").alias("v")))
    v = {r["purchase_id"]: r["v"] for r in p.collect()}
    for r in rows:
        got = r["n_touches"] * r["credit_per_touch_micro"] + r["residual_micro"]
        assert got == v[r["purchase_id"]]
        assert 0 <= r["residual_micro"] <= max(r["n_touches"] - 1, 0) or \
            (r["n_touches"] == 0 and r["residual_micro"] == v[r["purchase_id"]])


def test_multitouch_bucketized_join_matches_bruteforce(spark, monkeypatch):
    """The bucketized interval join finds EXACTLY the clicks a brute
    Python scan finds, across window-boundary and bucket-straddle
    cases (hypothesis over random event layouts)."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    W_US = ev.INTERVAL_JOIN_WINDOW_US
    T0 = dt.datetime(2024, 1, 1)

    @settings(deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(
        st.tuples(st.integers(0, 2),                      # user
                  st.integers(0, 1200),                   # seconds offset
                  st.booleans()),                         # purchase?
        min_size=1, max_size=14))
    def check(evts):
        rows = [(i, T0 + dt.timedelta(seconds=s), u,
                 "purchase" if p else "click", 10.0, "{}")
                for i, (u, s, p) in enumerate(evts)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        monkeypatch.setattr(ev, "load_table", lambda s, n, d: df)
        got = {r["purchase_id"]: r["n_touches"] for r in
               ev.multitouch_attribution(spark, "ignored").collect()}
        want = {}
        for i, (u, s, p) in enumerate(evts):
            if not p:
                continue
            want[i] = sum(
                1 for j, (u2, s2, p2) in enumerate(evts)
                if not p2 and u2 == u and 0 <= (s - s2) * 1_000_000 <= W_US)
        assert got == want

    check()


def test_gap_fill_forward_semantics(spark, sf_dir):
    """Grid completeness, LOCF correctness, and observed flags — checked
    against a brute-force Python fill for a handful of users."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import gap_fill_forward
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 5)
    out = gap_fill_forward(ev, slot_seconds=3600).collect()
    rows = ev.select("user_id", "event_id", "ts", "value").collect()
    import collections
    per = collections.defaultdict(list)
    for r in rows:
        per[r["user_id"]].append(r)
    got = collections.defaultdict(list)
    for r in out:
        got[r["user_id"]].append(r)
    for uid, evs in per.items():
        slots = {}
        for r in evs:
            s = int(r["ts"].timestamp() // 3600) * 3600
            k = (r["ts"], r["event_id"])
            if s not in slots or k > slots[s][0]:
                slots[s] = (k, r["value"])
        lo, hi = min(slots), max(slots)
        expect = []
        lastv = None
        for s in range(lo, hi + 3600, 3600):
            if s in slots:
                lastv = slots[s][1]
                expect.append((s, lastv, 1))
            else:
                expect.append((s, lastv, 0))
        actual = [(int(r["slot_ts"].timestamp()), r["filled_value"],
                   r["observed"]) for r in got[uid]]
        assert actual == expect


def test_gap_fill_interp_endpoints_and_linearity(spark, sf_dir):
    """Observed slots keep their value; interior gap slots lie on the
    line between neighbors (within rounding)."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import (
        gap_fill_forward,
        gap_fill_interp,
    )
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 5)
    li = gap_fill_interp(ev, slot_seconds=3600).collect()
    lo = {(r["user_id"], r["slot_ts"]): r for r in
          gap_fill_forward(ev, slot_seconds=3600).collect()}
    import collections
    per = collections.defaultdict(list)
    for r in li:
        per[r["user_id"]].append(r)
    checked_gap = 0
    for uid, rows in per.items():
        rows.sort(key=lambda r: r["slot_ts"])
        # same grid as the LOCF fill
        assert [r["slot_ts"] for r in rows] == \
            sorted(k[1] for k in lo if k[0] == uid)
        obs_idx = [i for i, r in enumerate(rows) if r["observed"] == 1]
        assert obs_idx[0] == 0 and obs_idx[-1] == len(rows) - 1
        for a, b in zip(obs_idx, obs_idx[1:]):
            va, vb = rows[a]["interp_value"], rows[b]["interp_value"]
            for i in range(a + 1, b):
                frac = (i - a) / (b - a)
                want = va + (vb - va) * frac
                assert abs(rows[i]["interp_value"] - want) < 1e-4
                checked_gap += 1
    assert checked_gap > 0


def test_hourly_anomalies_planted_spike(spark, sf_dir):
    """A planted 100x value spike must flag; z is NULL until the frame
    fills; z matches a numpy rolling computation."""
    import numpy as np
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import hourly_anomalies
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir)
    # pick an hour the series actually OBSERVES (the densified grid
    # also carries zero-filled empty hours a spike multiplier can't
    # touch), past the warmup
    base = sorted(r["slot_ts"] for r in hourly_anomalies(ev).collect()
                  if r["event_type"] == "click" and r["total"] > 0)
    spike_slot = base[30]
    spiked = ev.withColumn(
        "value", F.when((F.col("event_type") == "click")
                        & (F.date_trunc("hour", "ts") == spike_slot),
                        F.col("value") * 1000).otherwise(F.col("value")))
    out = hourly_anomalies(spiked).collect()
    clicks = sorted((r for r in out if r["event_type"] == "click"),
                    key=lambda r: r["slot_ts"])
    # first 24 slots of the series: baseline not yet full, no z
    assert all(r["z"] is None for r in clicks[:24])
    spike = [r for r in clicks if r["slot_ts"] == spike_slot]
    assert spike and spike[0]["is_anomaly"] == 1 and spike[0]["z"] > 2
    # numpy check on a stretch with full frames
    tot = np.array([r["total"] for r in clicks])
    for i in range(40, 60):
        wnd = tot[i - 24:i]              # exclusive baseline
        var = wnd.var()
        if var > 0:
            z = (tot[i] - wnd.mean()) / np.sqrt(var)
            assert abs(clicks[i]["z"] - z) < 1e-4


def test_hourly_anomalies_dense_wall_clock_baseline(spark):
    """The trailing frame must be 24 WALL-CLOCK hours, not 24
    observed rows. A series with a 3-day quiet gap gets explicit zero
    rows for the empty hours, the slot after the gap is scored against
    the zeros (not against observations from days earlier), and the
    grid is exactly contiguous from first to last observed slot."""
    from datetime import datetime, timedelta

    from text_sentiment_classification_hadoop_spark_spark.operators.events import hourly_anomalies
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # 30 alternating-level hours (non-constant baseline: a constant one
    # has std 0 and z is NULL by the constant-baseline rule), then a
    # 72-hour outage, then one big hour
    for h in list(range(30)) + [30 + 72]:
        eid += 1
        v = 5000.0 if h >= 30 else (100.0 if h % 2 == 0 else 110.0)
        rows.append((eid, 1, "click", t0 + timedelta(hours=h), v))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double")
    out = sorted(hourly_anomalies(ev).collect(), key=lambda r: r["slot_ts"])
    # dense contiguous grid: 30 observed + 72 zero + 1 observed
    assert len(out) == 30 + 72 + 1
    slots = [r["slot_ts"] for r in out]
    assert all((b - a).total_seconds() == 3600
               for a, b in zip(slots, slots[1:]))
    gap = [r for r in out if 30 <= (r["slot_ts"] - t0).total_seconds() // 3600 < 102]
    assert all(r["total"] == 0.0 for r in gap)
    # the first zero hour is itself scored against the steady baseline:
    # a sudden flatline IS the outage anomaly
    first_zero = gap[0]
    assert first_zero["z"] is not None and first_zero["is_anomaly"] == 1
    assert first_zero["z"] < 0
    # the post-gap spike is scored against the 24 zero-filled hours
    # before it (variance 0 -> z NULL by the constant-baseline rule),
    # NOT against the pre-gap observations
    last = out[-1]
    assert last["total"] == 5000.0
    assert last["z"] is None  # baseline = 24 zeros, std 0


def test_pareto_orders_matches_bruteforce(spark, sf_dir):
    """Frontier = rows not dominated on (price, day) — brute-force
    verified, including the equal-price tier rule."""
    rows = [tuple(r) for r in R.pareto_orders(spark, sf_dir).collect()]
    base = [(r["o_orderkey"], float(r["o_totalprice"]),
             r["day"]) for r in
            load_table(spark, "orders", sf_dir).selectExpr(
                "o_orderkey", "o_totalprice",
                "datediff(o_orderdate, '1990-01-01') AS day").collect()]
    def dominated(row):
        _, p, d = row
        return any((p2 >= p and d2 >= d and (p2 > p or d2 > d))
                   for _, p2, d2 in base)
    want = sorted((k, p, d) for k, p, d in base
                  if not dominated((k, p, d)))
    assert sorted(rows) == want and want


def test_top_session_paths_reconciles_with_sessionize(spark, sf_dir):
    """Path count total equals the session count from the verified
    sessionizer (same 30-min gap rule)."""
    import __spark_entry__ as entry
    n_sessions = E.sessionize(spark, sf_dir).count()
    paths = entry.queries()["top_session_paths"](spark, sf_dir).collect()
    # top-20 only covers the head; check invariants instead
    assert 1 <= len(paths) <= 20
    assert [r["rank"] for r in paths] == list(range(1, len(paths) + 1))
    ns = [r["n_sessions"] for r in paths]
    assert ns == sorted(ns, reverse=True)
    assert all(1 <= len(r["path"].split(">")) <= 3 for r in paths)
    assert sum(ns) <= n_sessions


def test_hourly_profile_shape(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.events import hourly_profile
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    ev = load_table(spark, "events", sf_dir)
    rows = hourly_profile(ev).collect()
    assert sum(r["n"] for r in rows) == ev.count()
    assert all(0 <= r["hour"] <= 23 for r in rows)


def test_user_entropy_bounds_and_extremes(spark):
    """0 for a single-type user; ln(k) for a uniform k-type user."""
    import math

    from text_sentiment_classification_hadoop_spark_spark.operators.events import user_entropy
    rows = ([(1, "click")] * 10
            + [(2, "click"), (2, "view"), (2, "purchase"), (2, "signup")]
            + [(3, "click")] * 9 + [(3, "view")])
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["user_id"]: r for r in user_entropy(df).collect()}
    assert out[1]["entropy_nats"] == 0.0
    assert abs(out[2]["entropy_nats"] - math.log(4)) < 1e-5
    p = [0.9, 0.1]
    want = -sum(x * math.log(x) for x in p)
    assert abs(out[3]["entropy_nats"] - want) < 1e-5


def test_funnel_time_to_convert_invariants(spark, sf_dir):
    """Converted counts must match the funnel's stage counts, and each
    median must be an actual observed gap with half the mass at or
    below it."""
    import __spark_entry__ as entry
    rows = entry.queries()["funnel_time_to_convert"](spark, sf_dir) \
        .orderBy("stage_order").collect()
    assert [r["stage_order"] for r in rows] == [1, 2, 3]
    fun = {r["stage_order"]: r["users"] for r in
           E.funnel_conversion(spark, sf_dir).collect()}
    for r in rows:
        # stage k+1 reach count == pairs converted from stage k
        assert r["n_converted"] == fun[r["stage_order"] + 1]
        assert r["median_gap_s"] >= 0


def test_cohort_value_reconciles_with_retention(spark, sf_dir):
    """Same cohort/offset cells as the retention matrix; event totals
    reconcile with the raw table."""
    import __spark_entry__ as entry
    lv = entry.queries()["cohort_value"](spark, sf_dir).collect()
    rt = E.cohort_retention(spark, sf_dir).collect()
    assert {(r["cohort_start"], r["week_offset"]) for r in lv} == \
        {(r["cohort_start"], r["week_offset"]) for r in rt}
    total_events = load_table(spark, "events", sf_dir).count()
    assert sum(r["n_events"] for r in lv) == total_events
    assert all(r["total_value"] >= 0 for r in lv)


# ----------------------------------------------------- binned range join

def test_range_join_binned_matches_theta_join(spark):
    """Pair set must equal the naive theta join exactly — half-open
    [lo, hi) bounds, intervals spanning multiple bins, overlapping
    intervals (a point in two windows pairs twice), and exactly-once
    pairs (no dedup hidden in the operator)."""
    from datetime import datetime, timedelta

    from text_sentiment_classification_hadoop_spark_spark.operators.events import range_join_binned
    t0 = datetime(2024, 3, 1, 0, 0, 0)
    pts = spark.createDataFrame(
        [(i, t0 + timedelta(minutes=7 * i)) for i in range(200)],
        "pid long, ts timestamp")
    ivs = spark.createDataFrame(
        [(100, t0 + timedelta(minutes=30), t0 + timedelta(minutes=150)),
         (101, t0 + timedelta(minutes=90), t0 + timedelta(minutes=210)),  # overlaps 100
         (102, t0 + timedelta(minutes=600), t0 + timedelta(minutes=607)),  # sub-bin
         (103, t0 + timedelta(minutes=606), t0 + timedelta(minutes=606))],  # empty [x, x)
        "iid long, lo timestamp, hi timestamp")
    got = sorted((r["pid"], r["iid"]) for r in
                 range_join_binned(pts, ivs, bin_seconds=3600).collect())
    want = sorted(
        (p, i) for p in range(200) for i, lo_m, hi_m in
        [(100, 30, 150), (101, 90, 210), (102, 600, 607), (103, 606, 606)]
        if lo_m <= 7 * p < hi_m)
    assert got == want and len(got) == len(set(got))
    # boundary discipline: a point exactly at lo is IN, exactly at hi is OUT
    assert (30 // 7 + (1 if 30 % 7 else 0), 100) not in got or True
    edge = spark.createDataFrame(
        [(1, t0 + timedelta(minutes=30)), (2, t0 + timedelta(minutes=150))],
        "pid long, ts timestamp")
    e = sorted((r["pid"], r["iid"]) for r in
               range_join_binned(edge, ivs, bin_seconds=3600).collect())
    assert (1, 100) in e and (2, 100) not in e


def test_range_join_binned_plan_is_equi_not_nested_loop(spark, sf_dir):
    """The whole point of the binning: the executed plan must contain a
    hash/sort-merge EQUI join on the bin, and NO BroadcastNestedLoop or
    CartesianProduct — the shapes the theta form would force."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import busy_window_profile
    from text_sentiment_classification_hadoop_spark_spark.plans.explain import plan_string
    df = busy_window_profile(spark, sf_dir)
    df.collect()
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_range_join_binned_survives_burst_skew(spark):
    """SCALE.md §7's claim, demonstrated: a
    pathological burst — EVERY interval overlapping one hot bin, 90% of
    points inside it — is plain equi-join skew on the bin key, so (a)
    the pair set still equals the naive theta join exactly, and (b)
    AQE's skew-join split engages on the executed plan (thresholds
    lowered so test-sized partitions register; real-scale defaults trip
    on the same shape)."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import range_join_binned

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "16KB")
        t0 = datetime(2024, 3, 1, 12, 0, 0)
        hot_us = int(t0.timestamp()) * 1_000_000
        # 90% of 20k points in the single hot hour, rest spread over
        # 100h — the hot bin's shuffle partition (~18k rows × 40
        # intervals) stays orders of magnitude over the lowered 64KB
        # threshold, so the skew-split assertion is unchanged; 20k vs
        # the original 60k only trims the naive-comparison cost (this
        # is a plan-behavior test, not a data-scale test)
        pts = spark.range(20_000).select(
            F.col("id").alias("pid"),
            F.timestamp_micros(
                F.when(F.col("id") % 10 < 9,
                       hot_us + (F.col("id") * 37) % 3_600_000_000)
                .otherwise(hot_us + 3_600_000_000
                           + (F.col("id") * 6007) % 360_000_000_000)
            ).alias("ts"))
        # every interval covers the hot hour (plus a varying tail)
        ivs = spark.createDataFrame(
            [(i, t0 + timedelta(minutes=-(i % 7)),
              t0 + timedelta(minutes=60 + 11 * (i % 13))) for i in range(40)],
            "iid long, lo timestamp, hi timestamp")
        j = range_join_binned(pts, ivs, bin_seconds=3600)
        got = j.count()
        naive = (pts.crossJoin(ivs)
                 .filter((F.col("ts") >= F.col("lo"))
                         & (F.col("ts") < F.col("hi"))).count())
        assert got == naive and got > 0
        j.collect()  # finalize THIS DataFrame's adaptive plan
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple")
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_range_join_binned_exact_floor_division(spark):
    """Bin ids use exact integer floor division (pmod + div): pre-1970
    timestamps — where a truncating double quotient rounds the bin id
    TOWARD zero and pairs points with the wrong bucket's intervals —
    must produce exactly the theta-join pair set, including points and
    intervals straddling the epoch."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import range_join_binned
    t0 = datetime(1969, 12, 31, 22, 0, 0)  # 2h before the epoch
    pts = spark.createDataFrame(
        [(i, t0 + timedelta(minutes=11 * i)) for i in range(24)],
        "pid long, ts timestamp")
    ivs = spark.createDataFrame(
        [(0, t0 + timedelta(minutes=30), t0 + timedelta(minutes=100)),
         (1, t0 + timedelta(minutes=100), t0 + timedelta(minutes=160)),
         (2, t0 + timedelta(minutes=115), t0 + timedelta(minutes=125))],
        "iid long, lo timestamp, hi timestamp")
    got = sorted((r["pid"], r["iid"]) for r in
                 range_join_binned(pts, ivs, bin_seconds=3600).collect())
    want = sorted((r["pid"], r["iid"]) for r in
                  pts.crossJoin(ivs)
                  .filter((F.col("ts") >= F.col("lo"))
                          & (F.col("ts") < F.col("hi"))).collect())
    assert got == want and len(got) > 0


def test_user_state_scd2_golden(spark, tmp_path):
    """SCD2 run-collapse golden: duplicate consecutive states merge
    into one interval, half-open boundaries chain exactly, the last
    run is open (NULL valid_to, is_current=1)."""
    from datetime import datetime, timedelta

    from text_sentiment_classification_hadoop_spark_spark.operators.events import user_state_scd2
    t0 = datetime(2024, 5, 1, 0, 0, 0)
    rows = [  # user 1: view,view,click,click,view ; user 2: signup
        (1, t0, 10, "view"), (1, t0 + timedelta(minutes=1), 11, "view"),
        (1, t0 + timedelta(minutes=2), 12, "click"),
        (1, t0 + timedelta(minutes=3), 13, "click"),
        (1, t0 + timedelta(minutes=4), 14, "view"),
        (2, t0, 20, "signup"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string")
    import os
    d = str(tmp_path / "events.parquet")
    df.write.parquet(d)
    got = [(r["user_id"], r["state"], r["valid_from"], r["valid_to"],
            r["is_current"])
           for r in user_state_scd2(spark, str(tmp_path)).collect()]
    assert got == [
        (1, "view", t0, t0 + timedelta(minutes=2), 0),
        (1, "click", t0 + timedelta(minutes=2), t0 + timedelta(minutes=4), 0),
        (1, "view", t0 + timedelta(minutes=4), None, 1),
        (2, "signup", t0, None, 1),
    ]
    assert os.path.isdir(d)


def test_events_asof_enrich_matches_naive(spark, sf_dir):
    """The generic-asof registry query must equal the naive
    min-over-qualifying-purchases computation row for row."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import events_asof_enrich
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    got = {(r["user_id"], r["event_id"]):
           (r["next_purchase_id"], r["lag_us"])
           for r in events_asof_enrich(spark, sf_dir).collect()}
    e = load_table(spark, "events", sf_dir)
    v = [(r["user_id"], r["event_id"], r["ts"])
         for r in e.filter(F.col("event_type") == "view").collect()]
    p = {}
    for r in e.filter(F.col("event_type") == "purchase").collect():
        p.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    assert len(got) == len(v)
    for user, eid, ts in v:
        cands = sorted(c for c in p.get(user, []) if c[0] >= ts)
        if cands:
            d = cands[0][0] - ts  # exact integer micros, not the
            # float total_seconds()*1e6 (loses 1 us past ~2^53 ns)
            want = (cands[0][1], (d.days * 86400 + d.seconds) * 1_000_000
                    + d.microseconds)
        else:
            want = (None, None)
        assert got[(user, eid)] == want, (user, eid)


def test_exact_median_matches_sorted_collect(spark, sf_dir):
    """Two-phase selection must equal the k-th element of the fully
    sorted column (lower median, 1-indexed k=(n+1)//2)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import exact_median_price
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    r = exact_median_price(spark, sf_dir).head()
    prices = sorted(x["l_extendedprice"] for x in
                    load_table(spark, "lineitem", sf_dir)
                    .select("l_extendedprice").collect())
    n = len(prices)
    assert r["n_rows"] == n and r["k"] == (n + 1) // 2
    assert r["median"] == prices[(n + 1) // 2 - 1]


def test_user_state_scd2_partitions_timeline(spark, sf_dir):
    """SCD2 invariants on real data: per user, intervals are
    chronological, non-overlapping, chain exactly (valid_to == next
    valid_from), exactly one open interval marked current, adjacent
    states differ, and interval count == state-change count + 1."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import user_state_scd2
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    hist = {}
    for r in user_state_scd2(spark, sf_dir).collect():
        hist.setdefault(r["user_id"], []).append(r)
    e = load_table(spark, "events", sf_dir) \
        .select("user_id", "ts", "event_id", "event_type").collect()
    by_user = {}
    for r in sorted(e, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r["event_type"])
    assert set(hist) == set(by_user)
    for uid, ivs in hist.items():
        assert [i["valid_from"] for i in ivs] == \
            sorted(i["valid_from"] for i in ivs)
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]   # exact chaining
            assert a["state"] != b["state"]           # runs collapsed
            assert a["is_current"] == 0
        assert ivs[-1]["valid_to"] is None and ivs[-1]["is_current"] == 1
        changes = sum(1 for x, y in zip(by_user[uid], by_user[uid][1:])
                      if x != y)
        assert len(ivs) == changes + 1


def test_revenue_trend_ols_matches_numpy_free_fit(spark, sf_dir):
    """Closed-form slope/intercept must match a driver-side least
    squares over the same daily rollup (pure-python, no numpy)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import revenue_trend_ols
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    r = revenue_trend_ols(spark, sf_dir).head()
    daily = (load_table(spark, "events", sf_dir)
             .groupBy(F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                      .alias("d"))
             .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("y")).collect())
    xs = [row["d"] for row in daily]
    ys = [row["y"] for row in daily]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    assert r["n_days"] == n
    assert r["slope"] == pytest.approx(slope, abs=2e-6)
    assert r["intercept"] == pytest.approx(intercept, abs=2e-6)


def test_holdout_ab_lift_invariants(spark, sf_dir):
    """Arms partition the user population; conversions never exceed
    arm sizes; assignment is deterministic across invocations."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import holdout_ab_lift
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    r1 = holdout_ab_lift(spark, sf_dir).head()
    r2 = holdout_ab_lift(spark, sf_dir).head()
    assert r1 == r2  # stable membership, no RNG state
    n_users = load_table(spark, "events", sf_dir) \
        .select("user_id").distinct().count()
    assert r1["n_a"] + r1["n_b"] == n_users
    assert 0 <= r1["conv_a"] <= r1["n_a"]
    assert 0 <= r1["conv_b"] <= r1["n_b"]
    assert min(r1["n_a"], r1["n_b"]) > 0


def test_exact_median_single_bucket_recursion(spark, tmp_path):
    """Pathological skew: EVERY price lands in one integer bucket, so
    phase 3 would rank the whole table through a single-partition
    window — the recursion level re-histograms at 1e4× granularity
    and must still produce the exact lower median."""
    prices = [5.0 + (i * 37 % 101) / 100.0 for i in range(101)]
    spark.createDataFrame([(p,) for p in prices], "l_extendedprice double") \
        .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = R.exact_median_price(spark, str(tmp_path),
                             bucket_rows_threshold=5).head()
    expect = sorted(prices)[(len(prices) + 1) // 2 - 1]
    assert r["n_rows"] == 101
    assert r["k"] == 51
    assert r["median"] == pytest.approx(expect, abs=0)
    # threshold high enough to skip recursion → identical answer
    r2 = R.exact_median_price(spark, str(tmp_path),
                              bucket_rows_threshold=10**9).head()
    assert r2["median"] == r["median"]


def test_exact_median_empty_table(spark, tmp_path):
    """Empty lineitem must yield zero rows (the oracle's empty join),
    not a driver-side TypeError on the None total."""
    spark.createDataFrame([], "l_extendedprice double") \
        .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = R.exact_median_price(spark, str(tmp_path))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["n_rows", "k", "median"]


def test_customer_order_distribution_partitions_customers(spark, sf_dir):
    """Distribution buckets must partition the customer dim exactly,
    including the zero-order bucket the LEFT join preserves."""
    rows = R.customer_order_distribution(spark, sf_dir).collect()
    n_cust = load_table(spark, "customer", sf_dir).count()
    assert sum(r["custdist"] for r in rows) == n_cust
    assert all(r["c_count"] >= 0 for r in rows)


def test_top_supplier_revenue_is_argmax(spark, sf_dir):
    """Winner rows carry the global max of the per-supplier rollup."""
    out = R.top_supplier_revenue(spark, sf_dir).collect()
    assert len(out) >= 1
    top = out[0]["total_revenue"]
    assert all(r["total_revenue"] == top for r in out)


def test_embedding_drift_report_shape(spark, sf_dir):
    """One row per dimension; shift consistent with the cohort means
    (6-dp rounding tolerance); deterministic across invocations."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import embedding_drift_report
    emb = load_table(spark, "embeddings", sf_dir)
    dims = len(emb.head()["embedding"])
    r1 = embedding_drift_report(emb).collect()
    assert len(r1) == dims
    for r in r1:
        assert r["shift"] == pytest.approx(r["mean_b"] - r["mean_a"],
                                           abs=2e-6)
    assert embedding_drift_report(emb).collect() == r1


def test_benford_prices_hand_counts(spark):
    """Hand-made price list: digit counts, integer micro shares, and
    the literal Benford table all line up; digits never 0."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import (
        BENFORD_MICRO, benford_prices)
    prices = [1.23, 19.99, 150.00, 1999.01, 2.50, 31.41, 0.97, 9999.99]
    orders = spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)],
        "o_orderkey long, o_totalprice double")
    rows = {r["digit"]: r for r in benford_prices(orders).collect()}
    # leading digits of cents: 123->1, 1999->1, 15000->1, 199901->1,
    # 250->2, 3141->3, 97->9, 999999->9
    assert {d: rows[d]["n_orders"] for d in rows} == {1: 4, 2: 1, 3: 1, 9: 2}
    assert rows[1]["observed_micro"] == 500000   # 4/8 half-up micro
    assert rows[2]["observed_micro"] == 125000
    for d, r in rows.items():
        assert r["benford_micro"] == BENFORD_MICRO[d]
        assert r["dev_micro"] == abs(r["observed_micro"] - BENFORD_MICRO[d])


def test_revenue_mom_growth_hand_ratio(spark):
    """Two months, 2x revenue: ratio is exactly 2.0; first month NULL."""
    import datetime

    from text_sentiment_classification_hadoop_spark_spark.operators.relational import revenue_mom_growth
    orders = spark.createDataFrame(
        [(1, 100.00, datetime.datetime(1995, 1, 10)),
         (2, 50.00, datetime.datetime(1995, 1, 20)),
         (3, 300.00, datetime.datetime(1995, 2, 5))],
        "o_orderkey long, o_totalprice double, o_orderdate timestamp")
    rows = revenue_mom_growth(orders).collect()
    assert [r["month_key"] for r in rows] == [199501, 199502]
    assert rows[0]["rev_cents"] == 15000 and rows[0]["mom_ratio"] is None
    assert rows[1]["prev_cents"] == 15000
    assert rows[1]["mom_ratio"] == 2.0


def test_cusum_changepoint_finds_level_shift(spark, tmp_path, monkeypatch):
    """A series flat at 10.00/day for 10 days then 30.00/day for 10
    days: max |CUSUM| lands exactly on the last low day."""
    import datetime

    from text_sentiment_classification_hadoop_spark_spark.operators.events import cusum_changepoint
    rows = []
    for i in range(20):
        v = 10.0 if i < 10 else 30.0
        rows.append((i, datetime.datetime(2024, 1, 1 + i, 12, 0, 0),
                     1, "purchase", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    p = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(p)
    import text_sentiment_classification_hadoop_spark_spark.operators.events as EV
    orig = EV.load_table
    monkeypatch.setattr(
        EV, "load_table",
        lambda s, name, d: s.read.parquet(p) if name == "events"
        else orig(s, name, d))
    r = cusum_changepoint(spark, str(tmp_path)).collect()[0]
    assert r["change_day"] == datetime.date(2024, 1, 10)
    assert r["n_days"] == 20 and r["total_cents"] == 40000
    # |n*S_k| peaks at k=10: n*C - k*T = 20*10000 - 10*40000 = -200000
    # normalized |.|/(n*T) = 200000/800000 = 0.25
    assert r["cusum_frac"] == 0.25


def test_interarrival_hist_hand_gaps(spark, tmp_path, monkeypatch):
    """One user with gaps 0s, 1s, 5s, 16s: buckets 0, 1, 3, 5 with
    lo_seconds 0, 1, 4, 16 and quarter shares."""
    import datetime

    from text_sentiment_classification_hadoop_spark_spark.operators.events import interarrival_hist
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    offs = [0, 0, 1, 6, 22]   # gaps: 0, 1, 5, 16
    rows = [(i, base + datetime.timedelta(seconds=o), 1, "view", 1.0, "{}")
            for i, o in enumerate(offs)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    p = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(p)
    import text_sentiment_classification_hadoop_spark_spark.operators.events as EV
    orig = EV.load_table
    monkeypatch.setattr(
        EV, "load_table",
        lambda s, name, d: s.read.parquet(p) if name == "events"
        else orig(s, name, d))
    got = {r["bucket"]: r for r in interarrival_hist(spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1, 3, 5}
    assert {b: got[b]["lo_seconds"] for b in got} == {0: 0, 1: 1, 3: 4, 5: 16}
    for b in got:
        assert got[b]["n_gaps"] == 1 and got[b]["share_frac"] == 0.25


def test_value_drift_hand_shift(spark, tmp_path, monkeypatch):
    """First half all 1.00 (cents 100 -> bucket 7), second half all
    40.96 (cents 4096 -> bucket 13): shares are 1e6 on opposite sides
    and each bucket's contribution is (1e6)^2 DIV 1e6 = 1e6."""
    import datetime

    from text_sentiment_classification_hadoop_spark_spark.operators.events import value_drift
    rows = []
    for i in range(10):
        v = 1.00 if i < 5 else 40.96
        rows.append((i, datetime.datetime(2024, 1, 1, 0, 0, i), 1,
                     "view", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    p = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(p)
    import text_sentiment_classification_hadoop_spark_spark.operators.events as EV
    orig = EV.load_table
    monkeypatch.setattr(
        EV, "load_table",
        lambda s, name, d: s.read.parquet(p) if name == "events"
        else orig(s, name, d))
    got = {r["bucket"]: r for r in value_drift(spark, str(tmp_path)).collect()}
    # midpoint second = (0+9)//2 = 4: events 0-4 are half A (5 rows),
    # 5-9 half B (5 rows)
    assert set(got) == {7, 13}
    assert (got[7]["n_a"], got[7]["n_b"]) == (5, 0)
    assert (got[13]["n_a"], got[13]["n_b"]) == (0, 5)
    for b in (7, 13):
        assert {got[b]["p_micro"], got[b]["q_micro"]} == {0, 1000000}
        assert got[b]["contrib_micro"] == 1000000


def test_brand_price_deciles_partition_and_edges(spark, sf_dir):
    """Deciles partition each brand (sizes within 1), edges are
    non-overlapping and ascending within a brand."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import brand_price_deciles
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    part = load_table(spark, "part", sf_dir)
    rows = brand_price_deciles(part).collect()
    by_brand: dict = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append(r)
    n_parts = part.count()
    assert sum(r["n_parts"] for r in rows) == n_parts
    for brand, rs in by_brand.items():
        rs.sort(key=lambda r: r["decile"])
        sizes = [r["n_parts"] for r in rs]
        assert max(sizes) - min(sizes) <= 1
        for a, b in zip(rs, rs[1:]):
            assert a["lo_cents"] <= a["hi_cents"] <= b["lo_cents"]


def test_conversion_lifetable_accounting(spark, sf_dir):
    """Lifetable bookkeeping: at_risk decreases by exactly the prior
    bucket's exits, the first bucket's at_risk is the full cohort,
    and events+censored per bucket never exceed its at_risk."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import conversion_lifetable
    rows = conversion_lifetable(spark, sf_dir).collect()
    assert rows, "cohort must be non-empty"
    total = rows[0]["at_risk"]
    assert total == sum(r["n_events"] + r["n_censored"] for r in rows)
    run = total
    for r in rows:
        assert r["at_risk"] == run
        assert r["n_events"] + r["n_censored"] <= r["at_risk"]
        assert 0 <= r["hazard_frac"] <= 1
        run -= r["n_events"] + r["n_censored"]
    assert run == 0


def test_concurrent_sessions_conservation(spark, sf_dir):
    """Scan-line bookkeeping: the running count equals the prefix sum
    of nets, ends nonnegative everywhere, and returns to zero at the
    final boundary (every +1 has its matching -1)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import (
        concurrent_sessions_timeline, sessionize)
    rows = concurrent_sessions_timeline(spark, sf_dir).collect()
    run = 0
    for r in rows:
        run += r["net"]
        assert r["concurrent"] == run
        assert run >= 0
    assert run == 0
    # peak sanity: max concurrency never exceeds the session count
    n_sessions = sessionize(spark, sf_dir).count()
    assert max(r["concurrent"] for r in rows) <= n_sessions


def test_winsorized_revenue_bounds_and_counts(spark, sf_dir):
    """Cut points are genuine order statistics (≈5%/95% of rows sit
    strictly outside), the winsorized mean lies inside [lo, hi], and
    clamping is idempotent bookkeeping (clamped counts match a direct
    filter)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import winsorized_revenue_stats
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    r = winsorized_revenue_stats(spark, sf_dir).collect()[0]
    l = load_table(spark, sf_dir=sf_dir, name="lineitem")
    n = l.count()
    assert r["n_rows"] == n
    assert r["lo_cut"] <= r["winsorized_mean"] <= r["hi_cut"]
    from pyspark.sql import functions as F
    below = l.filter(F.col("l_extendedprice") < r["lo_cut"]).count()
    above = l.filter(F.col("l_extendedprice") > r["hi_cut"]).count()
    assert r["n_clamped_lo"] == below and r["n_clamped_hi"] == above
    assert below <= (n * 5 + 99) // 100
    assert above <= n - ((n * 95 + 99) // 100) + 1


def test_referential_integrity_clean_snapshot(spark, sf_dir):
    """The generated snapshot is referentially intact: six FK edges,
    zero orphans, child counts equal to the raw table counts."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import referential_integrity_report
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    rows = referential_integrity_report(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(r["n_orphans"] == 0 for r in rows)
    li = load_table(spark, "lineitem", sf_dir).count()
    got = {r["fk"]: r["n_child"] for r in rows}
    assert got["lineitem.l_orderkey -> orders"] == li
    assert got["lineitem.l_partkey -> part"] == li


def test_join_key_skew_uniform_vs_skewed(spark, tmp_path, monkeypatch):
    """A perfectly uniform key distribution scores gini 0 and
    top_share 1/n_keys; a one-hot-key distribution scores near 1."""
    import text_sentiment_classification_hadoop_spark_spark.operators.relational as REL
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import join_key_skew_report

    def fake(rows):
        df = spark.createDataFrame([(k,) for k in rows], "l_orderkey long")
        p = str(tmp_path / f"li_{len(rows)}_{rows[0]}.parquet")
        df.write.mode("overwrite").parquet(p)
        return p

    orig = REL.load_table
    # uniform: 4 keys x 3 rows
    p1 = fake([1, 2, 3, 4] * 3)
    monkeypatch.setattr(
        REL, "load_table",
        lambda s, name, d: s.read.parquet(p1) if name == "lineitem"
        else orig(s, name, d))
    r = join_key_skew_report(spark, str(tmp_path)).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == (12, 4, 3)
    assert r["gini_frac"] == 0.0 and r["top_share_frac"] == 0.25
    # skewed: one key holds 97 of 100 rows
    p2 = fake([7] * 97 + [8, 9, 10])
    monkeypatch.setattr(
        REL, "load_table",
        lambda s, name, d: s.read.parquet(p2) if name == "lineitem"
        else orig(s, name, d))
    r = join_key_skew_report(spark, str(tmp_path)).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == (100, 4, 97)
    assert r["top_share_frac"] == 0.97 and r["gini_frac"] > 0.7


def test_revenue_bootstrap_ci_deterministic_and_ordered(spark, sf_dir):
    """The Poisson bootstrap must be fully deterministic (hash-driven
    multiplicities — two runs bit-equal) with ordered CI bounds
    bracketing the mean, and the replicate spread must stay within a
    sane band of the true total (multiplicities average 1)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import revenue_bootstrap_ci
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    r1 = revenue_bootstrap_ci(spark, sf_dir).collect()[0]
    r2 = revenue_bootstrap_ci(spark, sf_dir).collect()[0]
    assert r1 == r2
    assert r1["n_replicates"] == 16
    assert r1["lo_rev"] <= r1["mean_rev"] <= r1["hi_rev"]
    true_total = (load_table(spark, "lineitem", sf_dir)
                  .agg(F.sum(F.col("l_extendedprice")
                             .cast("decimal(18,2)")).cast("double"))
                  .collect()[0][0])
    # Poisson(1) resampling: replicate sums concentrate around the
    # true total; 20% is far outside plausible noise at any sf.
    assert abs(r1["mean_rev"] - true_total) / true_total < 0.2
    assert (r1["hi_rev"] - r1["lo_rev"]) / true_total < 0.2


def test_revenue_mad_outliers_invariants(spark, sf_dir):
    """MAD census invariants: both order statistics positive, the
    outlier count strictly below n (the median itself can never be an
    outlier), and the whole row deterministic across calls."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import revenue_mad_outliers
    r1 = revenue_mad_outliers(spark, sf_dir).collect()[0]
    r2 = revenue_mad_outliers(spark, sf_dir).collect()[0]
    assert r1 == r2
    assert r1["mad"] >= 0 and r1["median_price"] > 0
    assert 0 <= r1["n_outliers"] < r1["n_rows"]


def test_nation_trend_ols_identity(spark, sf_dir):
    """OLS residuals sum to zero: for every nation the fitted line
    must reproduce the monthly mean revenue, mean(y) = slope*mean(x)
    + intercept, to within the 6-dp output rounding."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.relational import nation_trend_ols
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    fit = {r["n_name"]: r for r in nation_trend_ols(spark, sf_dir).collect()}
    assert fit and all(r["n_months"] >= 1 for r in fit.values())
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    stats = (o.join(c, o["o_custkey"] == c["c_custkey"])
             .join(n, c["c_nationkey"] == n["n_nationkey"])
             .groupBy("n_name", mi.alias("m"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("y"))
             .groupBy("n_name")
             .agg(F.avg("m").alias("mx"), F.avg("y").alias("my"))
             .collect())
    for r in stats:
        f = fit[r["n_name"]]
        if f["slope"] is None:
            continue
        pred = f["slope"] * r["mx"] + f["intercept"]
        assert abs(pred - r["my"]) < max(1.0, abs(r["my"]) * 1e-4), \
            (r["n_name"], pred, r["my"])


def test_pricing_rollup_subtotals_exact(spark, sf_dir):
    """ROLLUP exactness: every parent level must equal the SUM of its
    children exactly (decimal protocol — no float drift between
    levels), and the Expand fan-out must produce all three gid levels."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import pricing_rollup
    rows = pricing_rollup(spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 3}
    from decimal import Decimal

    def dsum_(vals):
        # compare through Decimal: the engine's sums are exact 2-dp
        # decimals cast to double at the edge, and toDouble does not
        # commute with float summation — a raw Python float sum could
        # miss by an ulp even though the engine values are exact.
        return float(sum(Decimal(f"{v:.2f}") for v in vals))

    grand = by_gid[3][0]
    assert grand["n_rows"] == sum(r["n_rows"] for r in by_gid[0])
    assert grand["sum_base_price"] == dsum_(
        r["sum_base_price"] for r in by_gid[1])
    for p in by_gid[1]:
        kids = [r for r in by_gid[0] if r["l_returnflag"] == p["l_returnflag"]]
        assert p["n_rows"] == sum(r["n_rows"] for r in kids)
        assert p["sum_qty"] == dsum_(r["sum_qty"] for r in kids)


def test_unpivot_is_pivot_inverse(spark, sf_dir):
    """Melt identity: unpivoting the pivoted matrix (zero cells
    dropped) must equal the direct (user, type) aggregate."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import user_event_unpivot
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    got = {(r["user_id"], r["event_type"]): r["n"]
           for r in user_event_unpivot(spark, sf_dir).collect()}
    direct = {(r["user_id"], r["event_type"]): r["n"] for r in
              load_table(spark, "events", sf_dir)
              .groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n")).collect()}
    assert got == direct and len(got) > 0


def test_sequential_rules_hand_sessions(spark, monkeypatch):
    """Gap-allowed A-then-B on handmade sessions: non-consecutive pairs
    count, order matters, once-per-session dedup holds, and confidence
    is the exact integer floor ratio."""
    import datetime as dt

    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    T0 = dt.datetime(2024, 1, 1)
    # user 1 session: view, click, view, buy  (one session, gaps < 30min)
    # user 2 session: view, buy
    # user 3 session: buy, view   (reverse order — must NOT count view>buy)
    rows = [
        (1, T0, 1, "view", 0.0, "{}"),
        (2, T0 + dt.timedelta(minutes=1), 1, "click", 0.0, "{}"),
        (3, T0 + dt.timedelta(minutes=2), 1, "view", 0.0, "{}"),
        (4, T0 + dt.timedelta(minutes=3), 1, "buy", 0.0, "{}"),
        (5, T0, 2, "view", 0.0, "{}"),
        (6, T0 + dt.timedelta(minutes=5), 2, "buy", 0.0, "{}"),
        (7, T0, 3, "buy", 0.0, "{}"),
        (8, T0 + dt.timedelta(minutes=5), 3, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    monkeypatch.setattr(ev, "load_table", lambda s, n, d: df)
    got = {(r["antecedent"], r["consequent"]):
           (r["n_sessions"], r["n_antecedent"], r["confidence_micro"])
           for r in ev.sequential_rules(spark, "ignored", k=50).collect()}
    # view>buy: sessions 1 and 2 (user 3 is buy-then-view); 3 sessions
    # contain view -> confidence = 2*1e6 div 3 = 666666 (floor, exact)
    assert got[("view", "buy")] == (2, 3, 666666)
    # non-consecutive: view ... buy with click between still counts;
    # click>buy from user 1 only
    assert got[("click", "buy")] == (1, 1, 1000000)
    # A>A: view appears twice in user 1's session only
    assert got[("view", "view")] == (1, 3, 333333)
    # order-sensitivity: buy>view exists (user 3) with support 1 of 3
    assert got[("buy", "view")] == (1, 3, 333333)
    # once-per-session dedup: view>click counted once for user 1
    assert got[("view", "click")] == (1, 3, 333333)


def test_sequential_rules_session_gap_and_cap(spark, monkeypatch):
    """A >30-min gap splits the session (the pair across it vanishes);
    events past the max_len truncation are invisible to patterns AND to
    the antecedent denominator."""
    import datetime as dt

    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    T0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, T0, 1, "a", 0.0, "{}"),
        (2, T0 + dt.timedelta(minutes=40), 1, "b", 0.0, "{}"),  # new session
        (3, T0, 2, "a", 0.0, "{}"),
        (4, T0 + dt.timedelta(minutes=1), 2, "b", 0.0, "{}"),
        (5, T0 + dt.timedelta(minutes=2), 2, "c", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    monkeypatch.setattr(ev, "load_table", lambda s, n, d: df)
    got = {(r["antecedent"], r["consequent"]): r["n_sessions"]
           for r in ev.sequential_rules(spark, "ignored", k=50).collect()}
    assert ("a", "b") in got and got[("a", "b")] == 1   # user 2 only
    # truncation: cap at 2 events hides c entirely
    got2 = {(r["antecedent"], r["consequent"]): r["n_sessions"]
            for r in ev.sequential_rules(spark, "ignored", k=50,
                                         max_len=2).collect()}
    assert ("b", "c") not in got2 and ("a", "c") not in got2
    assert got2[("a", "b")] == 1


def test_sequential_patterns3_matches_bruteforce_triple_join(
        spark, monkeypatch):
    """The greedy earliest-completion identity (A->B->C exists iff a C
    follows the MIN position at which A-then-B completes) must agree
    with the brute-force i<j<l triple enumeration on randomized
    sessions — the identity is what keeps the operator at O(len^2)."""
    import datetime as dt
    import itertools
    import random

    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    rng = random.Random(42)
    T0 = dt.datetime(2024, 1, 1)
    rows, sessions = [], {}
    eid = 0
    for user in range(1, 13):
        seq = [rng.choice("abcd") for _ in range(rng.randint(1, 9))]
        sessions[user] = seq
        for i, t in enumerate(seq):
            eid += 1
            rows.append((eid, T0 + dt.timedelta(minutes=i), user,
                         t, 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    monkeypatch.setattr(ev, "load_table", lambda s, n, d: df)
    got = {(r["first_type"], r["second_type"], r["third_type"]):
           (r["n_sessions"], r["n_pair"], r["confidence_micro"])
           for r in ev.sequential_patterns3(
               spark, "ignored", k=10**6).collect()}
    # brute force: all i<j<l triples / i<j pairs, once per session
    n_abc, n_ab = {}, {}
    for seq in sessions.values():
        trips = {(seq[i], seq[j], seq[l])
                 for i, j, l in itertools.combinations(range(len(seq)), 3)}
        pairs = {(seq[i], seq[j])
                 for i, j in itertools.combinations(range(len(seq)), 2)}
        for t in trips:
            n_abc[t] = n_abc.get(t, 0) + 1
        for p in pairs:
            n_ab[p] = n_ab.get(p, 0) + 1
    want = {t: (n, n_ab[t[:2]], n * 1000000 // n_ab[t[:2]])
            for t, n in n_abc.items()}
    # k was set far above the rule count, so the maps must be EQUAL
    assert got == want and len(want) > 0


def test_approx_quantile_bounds_contract_and_plan(spark, sf_dir):
    """GK bound-check query: every requested quantile's boolean holds
    at sf0.001, exact_p is monotone in q, and the 1-row broadcast
    rank-census stage must plan as a broadcast join — never a
    CartesianProduct."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import (
        approx_quantile_bounds,
    )
    df = approx_quantile_bounds(spark, sf_dir)
    rows = df.collect()
    assert [r["quantile_micro"] for r in rows] == [
        250000, 500000, 750000, 900000, 990000]
    assert all(r["within_rank_eps"] for r in rows)
    assert all(r["n_rows"] == rows[0]["n_rows"] > 0 for r in rows)
    exacts = [r["exact_p"] for r in rows]
    assert exacts == sorted(exacts)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "CartesianProduct" not in plan


def test_approx_quantile_bounds_duplicate_heavy(spark, tmp_path):
    """Regression: when the data is one repeated value,
    the returned element's UPPER rank count(<= v) is n at EVERY
    quantile — a single-rank check against q·n would flip false for
    small q even though the sketch output is legal (its admissible
    rank interval [1, n] contains every target). The interval check
    must return TRUE for all quantiles."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import (
        approx_quantile_bounds,
    )
    sf = str(tmp_path / "dupsf")
    (spark.range(5000)
     .selectExpr("CAST(42.17 AS DOUBLE) AS l_extendedprice")
     .write.parquet(f"{sf}/lineitem.parquet"))
    rows = approx_quantile_bounds(spark, sf).collect()
    assert len(rows) == 5
    assert all(r["within_rank_eps"] for r in rows)
    assert all(r["n_rows"] == 5000 for r in rows)
    assert all(r["exact_p"] == 42.17 for r in rows)


def test_sequential_patterns3_pair_counts_tie_out_with_rules(
        spark, sf_dir):
    """Cross-operator invariant on real data: patterns3's n_pair
    (sessions containing A-then-B, derived via the min-position
    frontier) must equal sequential_rules' n_sessions for the same
    (A, B) — two independent derivations of the same census."""
    from text_sentiment_classification_hadoop_spark_spark.operators import events as ev
    rules = {(r["antecedent"], r["consequent"]): r["n_sessions"]
             for r in ev.sequential_rules(spark, sf_dir, k=10**6).collect()}
    pats = ev.sequential_patterns3(spark, sf_dir, k=10**6).collect()
    assert len(pats) > 0
    for r in pats:
        key = (r["first_type"], r["second_type"])
        assert rules[key] == r["n_pair"], (key, rules[key], r["n_pair"])
        assert 0 < r["n_sessions"] <= r["n_pair"]


def test_cuped_matches_python_reference(spark, sf_dir):
    """delta_cuped/theta/rho2 agree with an independent float
    recomputation from the raw events (numpy-free integer sums), and
    the CUPED identity delta_cuped = delta_raw - theta*dx holds."""
    from text_sentiment_classification_hadoop_spark_spark.functions.hashing import portable_hash64
    from text_sentiment_classification_hadoop_spark_spark.operators.events import cuped_ab_lift
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    r = cuped_ab_lift(spark, sf_dir).head()
    e = load_table(spark, "events", sf_dir)
    rows = e.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (F.col("event_type") == "purchase").cast("long").alias("p"),
        F.pmod(portable_hash64(
            F.concat(F.lit("ab:v1:"), F.col("user_id").cast("string"))),
            F.lit(100)).alias("h")).collect()
    mid = (min(x["us"] for x in rows) + max(x["us"] for x in rows)) // 2
    per = {}
    for x in rows:
        u = per.setdefault(x["user_id"], [0, 0, x["h"] < 50])
        u[0 if x["us"] < mid else 1] += x["p"]
    n = len(per)
    sx = sum(v[0] for v in per.values())
    sy = sum(v[1] for v in per.values())
    sxy = sum(v[0] * v[1] for v in per.values())
    sxx = sum(v[0] ** 2 for v in per.values())
    syy = sum(v[1] ** 2 for v in per.values())
    bs = [v for v in per.values() if v[2]]
    as_ = [v for v in per.values() if not v[2]]
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    cxy = n * sxy - sx * sy
    assert r["n_a"] == len(as_) and r["n_b"] == len(bs)
    theta = cxy / vx
    d_raw = (sum(v[1] for v in bs) / len(bs)
             - sum(v[1] for v in as_) / len(as_))
    d_x = (sum(v[0] for v in bs) / len(bs)
           - sum(v[0] for v in as_) / len(as_))
    assert r["theta"] == pytest.approx(theta, abs=2e-6)
    assert r["delta_raw"] == pytest.approx(d_raw, abs=2e-6)
    assert r["delta_cuped"] == pytest.approx(d_raw - theta * d_x, abs=2e-6)
    assert r["rho2"] == pytest.approx(cxy * cxy / (vx * vy), abs=2e-6)
    assert 0.0 <= r["rho2"] <= 1.0


def test_ir38_negative_ratio_cross_engine(spark):
    """The _ir38 remainder protocol is sign-safe across engines: both
    truncate DECIMAL(38,0) %, so the SAME text yields the SAME half-up
    quotient for negative numerators (CUPED's deltas go negative)."""
    import duckdb

    from text_sentiment_classification_hadoop_spark_spark.operators.events import _ir38
    # every |ratio| inside the documented < 1e9 envelope
    cases = [(-7, 3), (7, 3), (-1, 2), (1, 2), (-123456789, 1000),
             (-5, 10), (5, 10), (0, 7), (-10**14, 10**6),
             (999999999, 2), (-999999999, 2)]
    sql = ("SELECT " + ", ".join(
        f'{_ir38(str(nu), str(de))} AS c{i}'
        for i, (nu, de) in enumerate(cases)))
    got_spark = spark.sql(sql).head()
    got_duck = duckdb.sql(sql).fetchone()
    for i, (nu, de) in enumerate(cases):
        assert got_spark[f"c{i}"] == got_duck[i], (nu, de)
        # half-away-from-zero: within half a 1e-6 step of the ratio
        assert abs(got_spark[f"c{i}"] - nu / de) <= 5e-7 + 1e-12, (nu, de)


def test_theilsen_matches_python_and_resists_outlier(spark, sf_dir, tmp_path):
    """Theil–Sen agrees with an independent python recompute on the
    fixture events; on a hand-built series with one corrupted day the
    median slope stays on the true line while OLS is dragged off it."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import (
        revenue_trend_ols, theilsen_trend)
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table

    r = theilsen_trend(spark, sf_dir).head()
    e = load_table(spark, "events", sf_dir)
    daily = {int(x["_d"]): int(x["_yc"]) for x in
             e.groupBy(F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                       .cast("long").alias("_d"))
             .agg((F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                  .cast("long").alias("_yc")).collect()}
    ds = sorted(daily)
    slopes = sorted(
        round((daily[b] - daily[a]) / (100 * (b - a)), 6)
        for i, a in enumerate(ds) for b in ds[i + 1:])
    n_pairs = len(slopes)
    lower_med = slopes[(n_pairs + 1) // 2 - 1]
    assert r["n_days"] == len(ds) and r["n_pairs"] == n_pairs
    # python round() is banker's at .5 exactly; compare within 1 ulp
    assert r["slope"] == pytest.approx(lower_med, abs=1.1e-6)
    resid = sorted(daily[d] / 100.0 - r["slope"] * d for d in ds)
    assert r["intercept"] == pytest.approx(
        resid[(len(ds) + 1) // 2 - 1], abs=1.1e-6)

    # outlier robustness: y = 10 + 2x with day 12 corrupted 1000x
    import datetime
    rows = []
    for d in range(15):
        v = 10.0 + 2.0 * d if d != 12 else 50_000.0
        rows.append((1, f"e{d}", "purchase",
                     datetime.datetime(2024, 1, 1 + d), float(v)))
    spark.createDataFrame(
        rows, "user_id long, event_id string, event_type string, "
              "ts timestamp, value double") \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    ts = theilsen_trend(spark, str(tmp_path)).head()
    ols = revenue_trend_ols(spark, str(tmp_path)).head()
    assert ts["slope"] == pytest.approx(2.0, abs=1e-3)
    assert abs(ols["slope"] - 2.0) > 10  # OLS dragged by the outlier


def test_ks_price_shift_hand_case_and_identity(spark, tmp_path):
    """Hand-computable KS: A=[1,1,2,2] vs B=[2,2,3,3] has max CDF gap
    0.5 first reached at the 1.00 tier; identical distributions give
    exactly 0. Column names follow lineitem conventions."""
    rows = ([("R", 1.0)] * 2 + [("R", 2.0)] * 2
            + [("N", 2.0)] * 2 + [("N", 3.0)] * 2)
    spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double") \
        .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = R.ks_price_shift(spark, str(tmp_path)).head()
    assert (r["n_a"], r["n_b"], r["n_tiers"]) == (4, 4, 3)
    assert r["ks"] == pytest.approx(0.5, abs=1e-9)
    assert r["at_price"] == pytest.approx(1.0, abs=1e-9)

    same = [("R", v) for v in (1.0, 2.0, 3.0)] \
        + [("N", v) for v in (1.0, 2.0, 3.0)]
    spark.createDataFrame(
        same, "l_returnflag string, l_extendedprice double") \
        .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r2 = R.ks_price_shift(spark, str(tmp_path)).head()
    assert r2["ks"] == pytest.approx(0.0, abs=1e-9)


def test_ks_price_shift_matches_python_on_fixture(spark, sf_dir):
    """KS on the real fixture equals a python recompute from the raw
    per-tier counts (exact cross-multiplied gap, lower-tier argmax)."""
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    r = R.ks_price_shift(spark, sf_dir).head()
    li = load_table(spark, "lineitem", sf_dir) \
        .select("l_returnflag", "l_extendedprice").collect()
    from collections import defaultdict
    t = defaultdict(lambda: [0, 0])
    for x in li:
        c = int(round(x["l_extendedprice"] * 100))
        t[c][0 if x["l_returnflag"] == "R" else 1] += 1
    na = sum(v[0] for v in t.values())
    nb = sum(v[1] for v in t.values())
    ca = cb = 0
    best, at = -1, None
    for c in sorted(t):
        ca += t[c][0]
        cb += t[c][1]
        gap = abs(ca * nb - cb * na)
        if gap > best:
            best, at = gap, c
    assert (r["n_a"], r["n_b"], r["n_tiers"]) == (na, nb, len(t))
    assert r["ks"] == pytest.approx(best / (na * nb), abs=1e-6)
    assert r["at_price"] == pytest.approx(at / 100.0, abs=1e-9)
    assert 0.0 <= r["ks"] <= 1.0
