"""Property-based tests (SURVEY.md §5.2 item 3, hypothesis): the parse
stitch is exactly comma-erasure, the cleaning chains are idempotent and
produce their declared alphabet, ANN self-query recall is exact."""

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.functions.cleaning import clean_chain_a, clean_chain_b
from text_sentiment_classification_hadoop_spark_spark.sources.tweets import parse_tweets_lines

# texts over a printable alphabet without newlines (lines are the input
# unit); commas allowed — that's the point
TEXTS = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=80)

# max_examples inherits the conftest hypothesis profile ("suite"=8;
# HYPOTHESIS_PROFILE=thorough for deep sweeps)
SETTINGS = dict(deadline=None,
                suppress_health_check=[HealthCheck.too_slow])


@given(text=TEXTS)
@settings(**SETTINGS)
def test_nb_stitch_is_comma_erasure(spark, text):
    """For any text, naive-parse(id,label,src,text).text ==
    text.replace(',', '') — the defining property of the stitch
    (NB.java:57-61)."""
    line = f"42,1,Sentiment140,{text}"
    df = spark.createDataFrame([(line,)], "value string")
    out = parse_tweets_lines(df, mode="nb").head()
    assert out["text"] == text.replace(",", "")
    assert out["tweet_id"] == "42" and out["sentiment"] == "1"


@given(text=TEXTS)
@settings(**SETTINGS)
def test_svm_parse_truncates_at_first_comma(spark, text):
    line = f"42,0,Sentiment140,{text}"
    df = spark.createDataFrame([(line,)], "value string")
    out = parse_tweets_lines(df, mode="svm").head()
    assert out["text"] == text.split(",")[0]


@given(text=TEXTS)
@settings(**SETTINGS)
def test_chains_idempotent_and_alphabet(spark, text):
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        clean_chain_a(F.col("t")).alias("a"),
        clean_chain_b(F.col("t")).alias("b")).head()
    a1, b1 = row["a"], row["b"]
    row2 = spark.createDataFrame([(a1, b1)], "a string, b string").select(
        clean_chain_a(F.col("a")).alias("a2"),
        clean_chain_b(F.col("b")).alias("b2")).head()
    # idempotence: cleaning clean output is a no-op
    assert row2["a2"] == a1 and row2["b2"] == b1
    # declared alphabet: lowercase letters and single spaces only
    assert re.fullmatch(r"[a-z]?([a-z ]*[a-z])?", a1), a1
    assert re.fullmatch(r"[a-z]?([a-z ]*[a-z])?", b1), b1
    assert "  " not in a1 and "  " not in b1


def test_ann_self_query_recall(spark, sf_dir):
    """A corpus vector queried against its own corpus must return itself
    at rank 1 through the LSH path (its bucket trivially contains it)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import ann_lsh_topk, cosine_topk
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    for vid in (0, 7):
        q = list(emb.filter(F.col("vec_id") == vid).head()["embedding"])
        top_ann = ann_lsh_topk(emb, q, k=3).head()
        top_exact = cosine_topk(emb, q, k=3).head()
        assert top_ann["vec_id"] == vid == top_exact["vec_id"]
        assert top_ann["cosine"] == 1.0 == top_exact["cosine"]


def test_ivf_self_query_recall(spark, sf_dir):
    """IVF path: a corpus vector's own cell is always probed (its
    nearest centroid is among the query's top-probe cells when query ==
    vector), so self-recall at rank 1 must hold."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import ivf_topk
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    for vid in (0, 11):
        q = list(emb.filter(F.col("vec_id") == vid).head()["embedding"])
        top = ivf_topk(emb, q, k=3, n_cells=8, n_probe=2).head()
        assert top["vec_id"] == vid and top["cosine"] == 1.0


@given(text=TEXTS, n_trailing=st.integers(min_value=1, max_value=3))
@settings(**SETTINGS)
def test_java_split_drops_trailing_empty_fields(spark, text, n_trailing):
    """java_split=True replicates Java String.split(',') (limit 0,
    NB.java:53): trailing empty fields vanish, so a line ending in
    commas parses as if they were absent; the default keeps them
    (Spark/DuckDB semantics). Non-trailing content is unaffected."""
    # last field non-empty so `base` itself has no trailing comma (an
    # empty text field IS a trailing empty — Java drops it too; that
    # case gets its own golden below)
    base = f"42,1,Sentiment140,{text.rstrip(',') or 'x'}"
    line = base + "," * n_trailing
    df = spark.createDataFrame([(line,)], "value string")

    java = parse_tweets_lines(df, mode="nb", java_split=True).head()
    plain = parse_tweets_lines(spark.createDataFrame([(base,)], "value string"),
                               mode="nb").head()
    # Java semantics: trailing commas are invisible
    assert (java["tweet_id"], java["sentiment"], java["text"]) == \
        (plain["tweet_id"], plain["sentiment"], plain["text"])

    default = parse_tweets_lines(df, mode="nb").head()
    # default (engine-portable) semantics: the empties stitch in as ''
    assert default["text"] == (plain["text"] or "")
    # and the SVM pairing: java_split must not resurrect a <4-field row
    svm_rows = parse_tweets_lines(df, mode="svm", java_split=True).collect()
    expect_kept = len(base.split(",")) >= 4
    assert (len(svm_rows) == 1) == expect_kept


def test_java_split_empty_text_field_goldens(spark):
    """Degenerate trailing-comma cases, asserted literally: an empty
    text field is itself a trailing empty, so Java split erases it —
    NB-mode yields NULL text (where real NB.java crashes on cols[3],
    the documented divergence) and SVM-mode drops the row; the default
    engine-portable split keeps the empty field."""
    df = spark.createDataFrame([("42,1,Sentiment140,,",)], "value string")
    assert parse_tweets_lines(df, mode="nb", java_split=True).head()["text"] is None
    assert parse_tweets_lines(df, mode="svm", java_split=True).count() == 0
    assert parse_tweets_lines(df, mode="nb").head()["text"] == ""
    assert parse_tweets_lines(df, mode="svm").count() == 1


@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                min_size=1, max_size=12),
       st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                min_size=0, max_size=12),
       st.sampled_from(["backward", "forward"]))
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, lrows, rrows, direction):
    """asof_join == the theta-join argmin/argmax on arbitrary inputs
    (keys 0-3, integer times, both directions, inclusive ties)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.events import asof_join
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        "k long, ts long, lid long")
    right = spark.createDataFrame(
        [(k, t, 1000 + i) for i, (k, t) in enumerate(rrows)],
        "k long, ts long, rid long") if rrows else spark.createDataFrame(
        [], "k long, ts long, rid long")
    got = {r["lid"]: r["r_rid"] for r in
           asof_join(left, right, "k", direction=direction).collect()}

    def brute(k, t):
        if direction == "backward":
            c = [(rt, rid) for (rk, rt), rid in
                 zip(rrows, range(1000, 1000 + len(rrows)))
                 if rk == k and rt <= t]
            # engine tie-break: struct-greatest (rt, rid) among matches
            return max(c)[1] if c else None
        c = [(rt, rid) for (rk, rt), rid in
             zip(rrows, range(1000, 1000 + len(rrows)))
             if rk == k and rt >= t]
        # engine tie-break: struct-least (rt, rid) among matches
        return min(c)[1] if c else None

    for i, (k, t) in enumerate(lrows):
        assert got[i] == brute(k, t), (k, t, direction)


@given(st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)),
                min_size=1, max_size=20))
@settings(**SETTINGS)
def test_zorder_key_is_injective_and_monotone(spark, pts):
    """Morton keys are injective over the (a, b) domain and preserve
    per-dimension order when the other coordinate is fixed."""
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import zorder_key_txt
    df = spark.createDataFrame(list(set(pts)), "a long, b long") \
        if len(set(pts)) == len(pts) else spark.createDataFrame(
        list(set(pts)), "a long, b long")
    rows = df.selectExpr("a", "b",
                         zorder_key_txt(["a", "b"], bits=8) + " AS z").collect()
    seen = {}
    for r in rows:
        assert (r["a"], r["b"]) not in seen or seen[(r["a"], r["b"])] == r["z"]
        seen[(r["a"], r["b"])] = r["z"]
    assert len({r["z"] for r in rows}) == len(rows)  # injective


@settings(deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.sets(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).map(
        lambda p: (min(p), max(p))).filter(lambda p: p[0] < p[1]),
    min_size=1, max_size=20))
def test_triangle_counts_match_bruteforce(spark, edge_set):
    from itertools import combinations

    from text_sentiment_classification_hadoop_spark_spark.operators.graph import triangle_counts
    edges = sorted(edge_set)
    adj = set(edges)
    nodes = sorted({n for e in edges for n in e})
    expected: dict[int, int] = {}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in adj and (b, c) in adj and (a, c) in adj:
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


@settings(deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.sets(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda p: p[0] != p[1]),
    min_size=1, max_size=15))
def test_pagerank_matches_single_node_reference(spark, pair_set):
    """The distributed fixed-point loop equals a direct single-node
    evaluation of the same integer recurrence."""
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        RESET_MICRO,
        SCALE,
        pagerank_fixed_point,
    )
    edges = sorted({(a, b) for a, b in pair_set} | {(b, a) for a, b in pair_set})
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    ranks = {n: SCALE for n in out}
    for _ in range(3):
        mass = {n: 0 for n in out}
        for s, ds in out.items():
            c = ranks[s] // len(ds)
            for d in ds:
                mass[d] += c
        ranks = {n: RESET_MICRO + (mass[n] * DAMP_NUM) // DAMP_DEN
                 for n in out}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_micro"]
           for r in pagerank_fixed_point(df, iters=3).collect()}
    assert got == ranks


@settings(deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.sets(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).map(
        lambda p: (min(p), max(p))).filter(lambda p: p[0] < p[1]),
    min_size=1, max_size=18),
    st.integers(2, 3), st.integers(1, 3))
def test_kcore_peel_matches_python_simulation(spark, edge_set, k, rounds):
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import kcore_peel
    edges = sorted(edge_set)

    es = set(edges)
    for _ in range(rounds):
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        low = {n for n, d in deg.items() if d < k}
        es = {(u, v) for u, v in es if u not in low and v not in low}
    want = {}
    for u, v in es:
        want[u] = want.get(u, 0) + 1
        want[v] = want.get(v, 0) + 1

    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["degree"]
           for r in kcore_peel(df, k=k, rounds=rounds).collect()}
    assert got == want


@given(st.lists(st.tuples(st.sampled_from(["aa", "bb", "cc", "dd"]),
                          st.integers(min_value=1, max_value=4000)),
                min_size=1, max_size=4, unique_by=lambda t: t[0]),
       st.integers(min_value=1, max_value=10_000_000))
@settings(deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mixture_plan_largest_remainder_property(spark, weights, budget):
    """For ANY weights/budget: targets sum EXACTLY to the budget and
    each target is within 1 token of its exact proportional share —
    the largest-remainder guarantee."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import mixture_token_plan
    langs = [w[0] for w in weights]
    docs = spark.createDataFrame(
        [(i, "tok " * 3, langs[i % len(langs)]) for i in range(20)],
        "doc_id long, text string, lang string")
    w_float = [(lang, mills / 1000.0) for lang, mills in weights]
    rows = mixture_token_plan(docs, weights=w_float,
                              budget_tokens=budget).collect()
    assert sum(r["target_tokens"] for r in rows) == budget
    total_w = sum(int(round(w * 1000)) for _, w in w_float)
    for r in rows:
        exact = budget * int(round(r["w"] * 1000)) / total_w
        assert abs(r["target_tokens"] - exact) < 1.0


@given(
    pts=st.lists(st.integers(min_value=-500_000, max_value=500_000),
                 min_size=1, max_size=20),
    ivs=st.lists(st.tuples(
        st.integers(min_value=-500_000, max_value=500_000),
        st.integers(min_value=0, max_value=20_000)),
        min_size=1, max_size=8),
    bin_seconds=st.sampled_from([60, 3600, 86400]),
)
@settings(**SETTINGS)
def test_range_join_binned_matches_bruteforce(spark, pts, ivs, bin_seconds):
    """For ANY points/intervals — including pre-1970 (negative epoch)
    timestamps, empty intervals, and any bin size — the binned equi
    rewrite produces exactly the brute-force containment pair set,
    each pair exactly once."""
    from datetime import datetime, timedelta, timezone

    from text_sentiment_classification_hadoop_spark_spark.operators.events import range_join_binned
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)
    p = spark.createDataFrame(
        [(i, epoch + timedelta(seconds=s)) for i, s in enumerate(pts)],
        "pid long, ts timestamp")
    iv = spark.createDataFrame(
        [(j, epoch + timedelta(seconds=lo),
          epoch + timedelta(seconds=lo + span))
         for j, (lo, span) in enumerate(ivs)],
        "iid long, lo timestamp, hi timestamp")
    got = sorted((r["pid"], r["iid"]) for r in
                 range_join_binned(p, iv, bin_seconds=bin_seconds)
                 .collect())
    want = sorted((i, j) for i, s in enumerate(pts)
                  for j, (lo, span) in enumerate(ivs)
                  if lo <= s < lo + span)
    assert got == want and len(got) == len(set(got))


@given(edge_set=st.sets(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)),
    min_size=1, max_size=25))
@settings(**SETTINGS)
def test_bfs_matches_python_bfs(spark, edge_set):
    """bfs_depths equals a driver-side BFS from node 0 on any small
    directed graph (self-loops included), depth-capped identically."""
    from collections import deque

    from text_sentiment_classification_hadoop_spark_spark.operators.graph import bfs_depths
    cap = 5
    adj = {}
    for s, d in edge_set:
        adj.setdefault(s, []).append(d)
    want, q = {0: 0}, deque([0])
    while q:
        u = q.popleft()
        if want[u] >= cap:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    edges = spark.createDataFrame(sorted(edge_set), "src long, dst long")
    got = {r["node"]: r["depth"]
           for r in bfs_depths(edges, 0, max_rounds=cap).collect()}
    assert got == want
