"""Physical-plan contracts (SURVEY.md §4): small dims broadcast, filters
push to parquet, narrow pipelines have no exchange, the hot path stays
in whole-stage codegen (no Python UDFs)."""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import relational as R
from text_sentiment_classification_hadoop_spark_spark.operators import sentiment as S
from text_sentiment_classification_hadoop_spark_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_exchange,
    assert_pushed_filters,
    plan_string,
)


def test_revenue_joins_are_broadcast(spark, sf_dir):
    assert_broadcast_join(R.revenue_by_region(spark, sf_dir))


def _zipf_split(spark):
    """A 1,500-row train/test split whose words are Zipf(1.0) draws
    over 2^14 ranks: a vocabulary of a few thousand words."""
    import random
    rng = random.Random(11)
    ranks = range(1, 1 << 14)
    weights = [1.0 / r for r in ranks]
    rows = [(i, " ".join(f"w{r}" for r in rng.choices(ranks, weights, k=8)),
             float(i % 2)) for i in range(1500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label double")
    return S.train_test(docs)


def _project_outputs(plan) -> list[str]:
    """Names of the columns every Project node of a logical plan outputs."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Project":
            out = node.output()
            names += [out.apply(i).name() for i in range(out.size())]
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return names


@pytest.mark.parametrize("vocab_size", ["small", "zipf"])
@pytest.mark.parametrize("scorer", ["nb", "nb_raw", "svm"])
def test_scorers_are_one_in_row_projection(spark, sf_dir, scorer, vocab_size):
    """Scoring reads each row once and never regroups it: no exchange
    and no join. The optimized plan holds the shipped vocabulary table
    exactly once and no Project outputs it — a table projected as a
    column and read twice is copied into every row."""
    from text_sentiment_classification_hadoop_spark_spark.functions import vocab
    from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
    from text_sentiment_classification_hadoop_spark_spark.operators import svm as SVM
    if vocab_size == "small":
        train, test = S.train_test(S.labeled_documents(spark, sf_dir))
    else:
        train, test = _zipf_split(spark)
    if scorer == "svm":
        df = SVM.svm_score(test, SVM.svm_effective_train(train))
    else:
        model, stats = NB.nb_train(train)
        score = NB.nb_score if scorer == "nb" else NB.nb_score_compat_raw
        df = score(test, model, stats)
    assert_no_exchange(df)
    assert "Join" not in plan_string(df)
    optimized = df._jdf.queryExecution().optimizedPlan()
    assert optimized.toString().count(f"LocalRelation [{vocab._T}#") == 1
    assert optimized.toString().count("scalar-subquery#") == 1
    assert vocab._T not in _project_outputs(optimized)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    assert_pushed_filters(R.filtered_projection(spark, sf_dir))


def test_column_pruning(spark, sf_dir):
    plan = plan_string(R.filtered_projection(spark, sf_dir))
    # ReadSchema must be the 6 needed columns, not the full 11-col table
    assert "l_comment" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_orderkey" in read[0] and "l_partkey" not in read[0]


def test_narrow_pipeline_has_no_exchange(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    l = load_table(spark, "lineitem", sf_dir)
    narrow = l.filter(F.col("l_quantity") > 10).select(
        "l_orderkey", (F.col("l_extendedprice") * 2).alias("x"))
    assert_no_exchange(narrow)


def test_hot_path_has_no_python_udf(spark, sf_dir):
    for df in (S.nb_predictions_query(spark, sf_dir),
               R.pricing_summary(spark, sf_dir)):
        plan = plan_string(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_uses_partial_aggregation(spark, sf_dir):
    """The signature aggregation must combine map-side: the exchange
    carries 16 per-perm mins per (doc, partition), not raw shingles."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import minhash_signatures
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    sigs = minhash_signatures(load_table(spark, "documents", sf_dir))
    plan = plan_string(sigs)
    assert "partial_min" in plan


def test_topk_is_take_ordered_not_global_window(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import cosine_topk
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    plan = plan_string(cosine_topk(emb, q, k=10))
    assert "TakeOrderedAndProject" in plan


def test_multimodal_decode_is_arrow_batched(spark, sf_dir):
    """mapInPandas must compile to a single Arrow-batched python node —
    the designed slow path — not per-row python evaluation."""
    from text_sentiment_classification_hadoop_spark_spark.operators import multimodal as MM
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    plan = plan_string(MM.decode_image_features(MM.synth_multimodal(docs)))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    df = R.pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = plan_string(df)
    assert "isFinalPlan=true" in plan
    # formatted mode marks codegen'd nodes with a '*' prefix
    assert "* HashAggregate" in plan or "* Sort" in plan


@pytest.mark.parametrize("case", ["flat", "two_level", "pq"])
def test_ivf_assignment_is_narrow(spark, sf_dir, case):
    """Codebook assignment (flat IVF, two-level IVF, PQ encode) rides
    plan-time literals and a per-row array argmax: never a hash or
    range shuffle of the corpus (the old Window.partitionBy(vec_id)
    form) and never a nested-loop join against a codebook row. Flat
    IVF reads its input as is, so its plan has no exchange at all; the
    other two allow only widen()'s round-robin fan-out (a no-op at
    scale)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec"))
    df = {"flat": lambda: SIM.ivf_assign_cells(emb, centroids),
          "two_level": lambda: SIM.ivf_assign_cells_two_level(emb, centroids),
          "pq": lambda: SIM.pq_encode(emb)}[case]()
    plan = plan_string(df)
    for banned in ("hashpartitioning", "rangepartitioning",
                   "BroadcastNestedLoopJoin"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    if case == "flat":
        assert_no_exchange(df)


def test_exprtext_matches_column_build(spark, sf_dir):
    """The SQL-text builders must be bit-identical to the legacy
    Column-API builds (same fold order, same rounding)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir).limit(200)
    # sign-LSH: text path (column name) vs legacy path (Column)
    both = emb.select(
        SIM.sign_lsh_bucket("embedding", n_planes=6).alias("a"),
        SIM.sign_lsh_bucket(F.col("embedding"), n_planes=6).alias("b"),
        SIM.rp_array_expr("embedding", out_dims=4).alias("ra"),
        SIM.rp_array_expr(F.col("embedding"), out_dims=4).alias("rb"),
    )
    assert both.filter("a != b OR ra != rb").count() == 0


def test_tfidf_pairs_df_table_is_broadcast_and_no_cartesian(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.search import tfidf_doc_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    plan = plan_string(tfidf_doc_pairs(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_embeddings_broadcasts_test_side(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import decontaminate_embeddings
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    plan = plan_string(decontaminate_embeddings(emb, emb.limit(50)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_join_is_hash_not_nested_loop(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import triangle_counts
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(0, 2)], "u long, v long")
    plan = plan_string(triangle_counts(e))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_window_is_doc_partitioned(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import cdc_chunks
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    plan = plan_string(cdc_chunks(docs))
    # the running-boundary window must partition by doc_id — a global
    # (SinglePartition) window would serialize the corpus
    assert "SinglePartition" not in plan


def test_integer_discipline_invariant_under_shuffle_partitions(spark, sf_dir):
    """The micro-unit determinism contract, demonstrated: results of
    integer-disciplined operators are IDENTICAL under different
    shuffle partition counts (different aggregation merge orders)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.search import bm25_topk, tfidf_doc_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")

    def run():
        pairs = sorted(map(tuple, tfidf_doc_pairs(docs).collect()))
        hits = sorted(map(tuple, bm25_topk(docs, "table scan merge").collect()))
        return pairs, hits

    base = run()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        alt = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt


def test_dsir_weight_join_is_broadcast_and_no_cartesian(spark, sf_dir):
    """The bucket weight table (n_buckets rows) must broadcast onto the
    feature explode; nothing in the plan may be a cartesian product."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import dsir_scores
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    plan = plan_string(dsir_scores(load_table(spark, "documents", sf_dir)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_split_is_shuffle_free(spark, sf_dir):
    """Split/shard assignment is a pure narrow hash pass — the only
    allowed exchange is the presentation orderBy's range partitioning."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import shuffle_split
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    plan = plan_string(shuffle_split(load_table(spark, "documents", sf_dir)))
    assert "hashpartitioning" not in plan  # no shuffle beyond the sort
    assert "Join" not in plan and "Aggregate" not in plan


def test_quota_select_single_exchange(spark, sf_dir):
    """One group-keyed hash exchange for the window; no join at all."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import quota_select
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    plan = plan_string(quota_select(load_table(spark, "documents", sf_dir)))
    assert plan.count("hashpartitioning(grp") >= 1  # the window exchange
    # exactly one hash exchange overall (the formatted plan names the
    # partitioning in the Exchange node's Arguments detail line)
    ex_args = [ln for ln in plan.splitlines()
               if "hashpartitioning" in ln and "rangepartitioning" not in ln]
    assert len(ex_args) == 1, ex_args
    assert "Join" not in plan


def test_embedding_dim_stats_partial_aggregates(spark, sf_dir):
    """The (d)-keyed rollup must combine map-side so the shuffle is
    dims-sized, not corpus-sized."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import embedding_dim_stats
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    plan = plan_string(embedding_dim_stats(load_table(spark, "embeddings", sf_dir)))
    assert "partial_sum" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_planaudit_wsc_counter_sees_codegen(spark, sf_dir):
    """The PLANAUDIT `wsc` column must carry signal: before round 5 its
    regex grepped for a literal `WholeStageCodegen` token that simple-
    mode explain never emits (codegen'd operators are prefixed `*(N)`),
    so the column was 0 for all 193 queries and could not prove the
    "JVM-side, codegen'd hot path" claim. Assert the fixed counter
    reports >= 1 fused span on the narrow parse/clean hot-path queries."""
    import __spark_entry__ as em
    from tools.audit_plans import wsc_spans

    for name in ("tweets_parse_naive", "tweets_clean_chain_b",
                 "tokens_exploded", "filtered_projection"):
        df = em.queries()[name](spark, sf_dir)
        df.collect()  # AQE only finalizes (and labels codegen) on execution
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        assert wsc_spans(plan) >= 1, f"{name}: no codegen span in\n{plan}"


def test_shipping_priority_pushdown_and_topk(spark, sf_dir):
    """Q3 shape contracts: both date predicates reach the parquet
    scans, the segment-pruned customer side broadcasts, and the top-10
    is TakeOrderedAndProject — not a global sort."""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import shipping_priority
    from text_sentiment_classification_hadoop_spark_spark.plans.explain import plan_string
    df = shipping_priority(spark, sf_dir)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)
    assert any("l_shipdate" in ln for ln in pushed)
    rows = df.collect()
    assert len(rows) == 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q5_cycle_join_all_dims_broadcast(spark, sf_dir):
    """Q5 shape: the nation-correlation cycle must close as a residual
    on broadcast hash joins — no nested loop, no cartesian, and every
    dimension arm broadcast (zero SortMergeJoin at test scale)."""
    df = R.local_supplier_volume(spark, sf_dir)
    plan = plan_string(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)
    # correctness spot: revenue strictly descending, nations unique
    rows = df.collect()
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert len({r["n_name"] for r in rows}) == len(rows)


def test_q4_exists_is_left_semi_hash_join(spark, sf_dir):
    """Q4 shape: EXISTS with a non-equi lateness residual must plan as
    a LeftSemi HASH join on the orderkey (the residual rides the equi
    key), never BroadcastNestedLoop over the fact."""
    df = R.order_priority_counts(spark, sf_dir)
    plan = plan_string(df)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    counts = {r["o_orderpriority"]: r["order_count"] for r in df.collect()}
    assert all(v > 0 for v in counts.values())


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18 shape: the quantity rollup (with its HAVING prune) must sit
    BELOW both joins in the plan — the lineitem scan feeds an aggregate
    whose output joins orders, never a fact-fact join first."""
    df = R.large_volume_customers(spark, sf_dir)
    plan = plan_string(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # the aggregate's filter on sum_qty must appear, and each surviving
    # order must be unique with sum_qty above the threshold
    rows = df.collect()
    assert len({r["o_orderkey"] for r in rows}) == len(rows)
    assert all(r["sum_qty"] > 300.0 for r in rows)


def test_tpch_q2_q11_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q2/Q11 shapes: every dimension arm broadcasts; the correlated
    min / scalar-fraction rejoin must be a hash join, never a nested
    loop over the fact."""
    for df in (R.min_cost_supplier(spark, sf_dir),
               R.important_part_value(spark, sf_dir)):
        plan = plan_string(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


def test_tpch_q16_anti_join_is_broadcast(spark, sf_dir):
    """Q16's NOT-IN supplier exclusion must plan as a broadcast
    anti-join, not a shuffled one — the complaint set is tiny."""
    plan = plan_string(R.parts_supplier_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_tpch_q21_is_single_fact_pass(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS collapse: the fact (lineitem) must be
    scanned exactly once — the flattened form replaces the benchmark's
    two extra self-joins with one order-keyed aggregate."""
    plan = plan_string(R.waiting_suppliers(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 1
    assert "CartesianProduct" not in plan


def test_referential_integrity_single_fact_scan(spark, sf_dir):
    """The FK audit's three lineitem edges must SHARE one fact scan
    (membership flags off one pass), never three anti-join passes —
    the 100 TB shape."""
    plan = plan_string(R.referential_integrity_report(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 1
    assert "CartesianProduct" not in plan


def test_rank_stat_queries_have_no_partition_less_window(spark, sf_dir):
    """nb_auc's tier cumulative and
    theilsen_trend's two rank selections must run the two-phase
    distributed prefix sum — a partition-less Window would serialize
    the frame through one task. (A bare ``SinglePartition`` check is
    too strict here: both queries END in a legitimate global scalar
    aggregate whose final stage exchanges only map-side partials.)
    A global window prints ``windowspecdefinition(<order> ASC ...``
    — ordering first — where a partitioned one leads with the
    partition columns."""
    import re

    import __spark_entry__ as entry
    from text_sentiment_classification_hadoop_spark_spark.operators import events as E
    global_window = re.compile(
        r"windowspecdefinition\([^,()]*(ASC|DESC)")
    for df in (entry.queries()["nb_auc"](spark, sf_dir),
               E.theilsen_trend(spark, sf_dir)):
        plan = plan_string(df)
        assert "Window" in plan  # the cumulative pass is still a window
        assert not global_window.search(plan), plan
