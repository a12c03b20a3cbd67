"""Regenerate PLANS.md: formatted physical plans for representative
queries, as evidence the plans are the intended ones (broadcasts where
expected, pushdown reaching parquet, partial aggregation, no stray
exchanges, Arrow-batched Python only where designed).

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from text_sentiment_classification_hadoop_spark_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

SHOWCASE = [
    ("pack_sequences_ffd",
     "FFD sequence packing: corpus appears once (budget metadata), one "
     "hash exchange to count-derived buckets, the whole first-fit fold "
     "ONE JVM aggregate HOF per bucket with the bin scan let-bound — "
     "no Python stage, no per-doc driver loop"),
    ("containment_pairs",
     "grouped-posting pair emission: df-guarded postings grouped once "
     "per fingerprint, C(df,2) pairs emitted narrowly from the sorted "
     "array — no posting self-join, one fewer corpus-sized shuffle"),
    ("jaccard_prefix_pairs",
     "exact set-similarity join: prefix-posting equi-join with the "
     "lossless length AND positional (PPJoin) filters inline in the "
     "join condition — candidate stream pruned before the distinct "
     "shuffle and the array verify (the sf1 scale-killer fix)"),
    ("unigram_lm_vocab",
     "unigram-LM hard-EM: broadcast vocab join onto the lattice, the "
     "whole forward/backward DP one JVM projection (aggregate HOF) — "
     "no per-row Python, corpus appears once in word_freqs"),
    ("active_learning_batch",
     "three families in one plan: broadcast NB model join -> micro-nat "
     "margin, left-anti near-dup exclusion fed by the banded LSH "
     "equi-join, salted per-class quota windows (no single-reducer "
     "rank) — no cartesian, no corpus re-shuffle between stages"),
    ("nb_predictions", "broadcast model join + per-doc log-sum; no corpus shuffle"),
    ("filtered_projection", "predicate pushdown + column pruning into the parquet scan"),
    ("minhash_signatures", "explode -> partial_min map-side aggregation"),
    ("cosine_topk", "TakeOrderedAndProject top-k, no global window"),
    ("mm_image_features", "Arrow-batched MapInPandas (the one designed Python stage)"),
    ("pricing_summary", "whole-stage codegen spans the scan->agg pipeline"),
    ("interval_pair_counts",
     "bucketized interval self-join: hash equi-join on (user_id, bucket), "
     "no nested-loop theta join"),
    ("ivf_topk",
     "narrow IVF assignment: codebook folded into plan-time literals, "
     "argmax is a per-row array expression — no exchange before the "
     "probe join"),
    ("embedding_near_dups",
     "banded sign-LSH bucket equi-join with per-row norms hoisted "
     "before the join; never an all-pairs cross product"),
    ("lm_quality_score",
     "broadcast vocab-model join (no token-keyed shuffle, no hot-key "
     "skew) + partial-agg integer micro-nat sums"),
    ("random_projection",
     "JL ±1 literal matrix: one narrow fused-multiply-add pass, zero "
     "keyed shuffles"),
    ("c4_clean_docs",
     "line filters BEFORE the corpus-wide first-occurrence dedup "
     "shuffle; arg-min partial-aggregates map-side"),
    ("pq_codes",
     "single-F.expr literal codebooks (constant lambda count): narrow "
     "scan -> project/generate, no hash/range exchange"),
    ("zorder_keys",
     "Morton interleave as pure integer shift/mask codegen — layout "
     "key for write_zordered's multi-dimensional clustering"),
    ("dq_orders_report",
     "every expectation rule in ONE scan + scalar aggregate; "
     "constant-size explode to the long-form report"),
    ("pps_sample_docs",
     "distributed two-phase prefix sum: range exchange + in-partition "
     "window; per-partition offsets fold back as a literal map"),
    ("ann_multiprobe_topk",
     "plan-time literal probe IN-list over the bucket column — "
     "n_planes+1 bucket reads, never a scan at a bucketed layout"),
    ("curation_pipeline",
     "gate composition: narrow screens + doc_id-keyed joins that "
     "co-partition after the first exchange"),
    ("pack_sequences",
     "single hash-partition exchange; the per-bucket cumsum window "
     "sorts partition-sized runs, never globally"),
    ("bm25_search",
     "explode pruned to query terms before any shuffle; N/avgdl as a "
     "broadcast 1-row join; integer micro-unit weight sums"),
    ("pq_adc_topk",
     "code-only scan with a literal integer LUT — no float vector "
     "math after encode; TakeOrderedAndProject ascending"),
    ("dedup_span_removal",
     "duplicated-k-gram removal: one corpus hash count + per-doc "
     "dup-start arrays joined back; the token rebuild is a narrow "
     "filter/exists over the array — no UDF, no extra corpus shuffle"),
    ("chunk_documents",
     "overlapping chunk windows via posexplode over plan-computed "
     "starts — fan-out inside the scan stage, zero exchanges"),
    ("semdedup",
     "within-cell pair join (cell equi-join, never all-pairs) + "
     "min-label CC; norms hoisted once per row before the join"),
    ("decontaminate_embeddings",
     "bipartite train x test LSH bucket join with the eval-suite side "
     "explicitly broadcast — a map pass over train, no self-join"),
    ("neardup_triangles",
     "id-oriented wedge join + membership probe: two edge-keyed hash "
     "joins, each triangle generated exactly once, no cross product"),
    ("bpe_doc_token_counts",
     "segmented dictionary broadcast back onto the corpus word "
     "explode — the merge cascade runs per DISTINCT word only"),
    ("winnow_near_dups",
     "fingerprint equi-join behind the max_df skew guard; the fp table "
     "is materialized once for its three consumers"),
    ("hybrid_rrf_search",
     "rank fusion over two top-k-sized inputs: union -> tiny hash agg "
     "-> TakeOrdered; integer micro-unit contributions"),
    ("dedup_threshold_sweep",
     "candidates computed once at threshold 0, full-outer fused with "
     "md5 truth pairs, constant-size threshold explode -> one agg"),
    ("dsir_scores",
     "DSIR: one union'd n-gram explode, 4096-row bucket tables, "
     "broadcast weight join, integer micro-nat partial-agg sums; the "
     "only SMJ is the corpus-sized doc_id join-back"),
    ("shuffle_split_docs",
     "deterministic split/shard assignment as a pure narrow hash "
     "pass — zero hash exchanges"),
    ("stream_neardup_candidates",
     "at-ingest LSH lookup: stateless per-row MinHash (shingle-hash "
     "array hoisted out of the per-perm lambdas) + stream-static "
     "band-index join"),
    ("knn_graph",
     "cell-bounded kNN-graph self-join with hoisted norms; per-src "
     "top-k window partitioned by cell members, never all-pairs"),
    ("pareto_orders",
     "skyline via price-tier collapse + an INCREMENTAL running-max "
     "window (DESC order + lag) — the (1, unboundedFollowing) frame "
     "Spark recomputes per row was O(n²): 306 s -> 1.4 s at sf0.1"),
    ("events_anomalies",
     "exact decimal hourly rollup + exclusive trailing baseline "
     "frame; per-type partition-local rolling stats"),
    ("nb_pr_curve",
     "9-row threshold codebook broadcast over one aggregation pass; "
     "integer-exact precision/recall rounding"),
    ("events_range_join",
     "range join with NO equi key as a bin-bucketed equi join: "
     "interval explode over covered bins, broadcast hash join on the "
     "bin, exact containment filter — no BroadcastNestedLoop"),
    ("bitext_mined_pairs",
     "bipartite banded sign-LSH candidates (plane-literal buckets), "
     "hoisted norms, exact cosine on candidates, two candidate-sized "
     "mutual-best windows — never |src|x|tgt|"),
    ("source_quality_report",
     "corpus-wide digest agg (count + countDistinct(source) per md5) "
     "+ digest-keyed join back; shuffles carry 32-byte hashes, not "
     "documents"),
    ("copurchase_communities",
     "weighted LPA: lazy 3-round plan, two node-keyed shuffles per "
     "round fused under AQE; the argmax is a max-struct aggregate, "
     "never a rank window"),
    ("sequential_patterns3",
     "length-3 sequential patterns WITHOUT a len-cubed stage: the "
     "session-keyed O(len^2) pair join + a min-position frontier "
     "(types^2-bounded) joined back; all keys session-scoped"),
    ("approx_quantile_bounds",
     "GK sketch + rank census: the sketch+exact agg (fact pass 1) is "
     "collected to the driver and re-lit, so the shown plan is pass 2 "
     "alone — one partial-aggregating scan against literal "
     "thresholds, NO join of any kind (r11; the r10 shape carried a "
     "one-row BroadcastNestedLoopJoin and re-embedded the sketch "
     "subtree)"),
    ("bpe_merges_batched",
     "batched BPE returns the driver-built merge table: the per-round "
     "pair counts aggregate over the vocabulary-sized dictionary, "
     "batch_k merges per job instead of one"),
    ("cuped_ab_lift",
     "CUPED: one user-keyed rollup + one 12-counter global aggregate "
     "(both map-side-combining); every theta/delta/rho2 term is "
     "scalar DECIMAL(38,0) projection on the 1-row result — nothing "
     "corpus-sized after the first exchange"),
    ("copurchase_ppr",
     "personalized PageRank: the 3-row seed list broadcast onto the "
     "node table ONCE before the loop; per-iteration plan identical "
     "to global fixed-point PR (checkpointed rounds)"),
    ("bloom_decontaminate",
     "bitmap probe as a 4096-word BROADCAST hash join feeding a "
     "narrow bit test — corpus shingles never shuffle; the exact "
     "confirm equi-join sees only the flagged sliver"),
    ("containment_pairs",
     "asymmetric containment: ONE fingerprint-keyed equi-join behind "
     "the max_df skew guard, pair aggregate with min_shared "
     "pre-filter, node-sized size joins — 8-byte keys, never text, "
     "never all-pairs"),
    ("theilsen_trend",
     "Theil-Sen: one corpus-sized daily rollup (checkpointed), then "
     "calendar-bounded pairwise slopes — the partition-less rank "
     "windows act on a |days|^2 frame, never on data volume"),
    ("ks_price_shift",
     "exact two-sample KS: tier aggregate + the distributed two-phase "
     "prefix sum (range exchange, in-partition window, re-lit "
     "offsets) — the corpus never crosses a global window; gap stays "
     "cross-multiplied DECIMAL(38,0) until one final quantization"),
    ("nb_auc",
     "exact ROC-AUC by rank-sum identity: margin-tier collapse + one "
     "BIGINT cumulative pass — never the n_pos x n_neg pair join"),
]


def main() -> None:
    spark = get_spark(app_name="dump_plans")
    qs = entry.queries()
    out = [
        "# PLANS — representative physical plans (sf0.01, local[32])",
        "",
        "Generated by `python tools/dump_plans.py`. What to look for is",
        "noted per query; the assertions live in `tests/test_plans.py`.",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, SF)
        df.collect()  # let AQE finalize so the plan shown is the executed one
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
