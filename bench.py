"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Reference baseline context (BASELINE.md): the reference's Spark NB/SVM
pipelines measured 72.05 s / 78.78 s (fits only, on a cluster, 100k-1M
rows). Here every query is timed over an explicit action (collect) —
materialization included, unlike the reference's timer (M9 quirk,
``NaiveBayes.py:36,66``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from text_sentiment_classification_hadoop_spark_spark.session import get_spark  # noqa: E402

# Headline set: the sentiment pipelines (the reference's workload)
# plus the full extension families — mirrors what the correctness
# gate covers so BENCH and CORRECTNESS speak about the same queries.
# Module-level so tests can assert every name resolves in queries()
# (a renamed registry key must fail a pytest, not the driver bench).
HEADLINE_QUERIES = [
        # sentiment (the reference workload)
        "nb_predictions", "nb_confusion", "nb_metrics", "nb_pr_curve",
        "svm_predictions", "svm_declared_weights", "svm_metrics",
        # relational
        "pricing_summary", "sql_pricing_summary", "revenue_by_region",
        "distinct_parts_per_supplier", "customer_order_totals",
        "top_orders_per_customer", "orders_above_global_avg", "order_rank_stats",
        "word_counts", "word_counts_salted", "pareto_orders",
        # dedup
        "dedup_exact", "minhash_signatures", "simhash_fingerprints",
        "near_dup_pairs", "ngram_jaccard", "decontaminate_train", "simhash_near_dups",
        "stratified_sample_docs",
        "hash_sample_docs", "embedding_near_dups", "decontaminate_embeddings",
        "dedup_canonical",
        "dedup_canonical_alternating", "dedup_canonical_best",
        "dup_kgram_stats", "dedup_span_removal", "semdedup",
        "semdedup_hier", "ivf_cells_two_level",
        "winnow_fingerprints", "winnow_near_dups", "tfidf_doc_pairs",
        "cdc_chunks", "cdc_shared_chunks", "dedup_threshold_sweep",
        "curation_pipeline", "corpus_report", "corpus_diff", "corpus_datacard", "mixture_sample",
        "dsir_scores", "shuffle_split_docs", "quota_select_docs",
        "mixture_token_plan", "training_manifest", "split_leakage_report",
        "weighted_sample_docs", "dsir_resample_docs",
        "curation_observed_metrics",
        # similarity
        "cosine_topk", "knn_batch", "ann_lsh_topk", "ann_multiprobe_topk",
        "ann_recall_at10", "ivf_topk", "ivf_probe_sweep", "mrl_topk", "mrl_recall_at10",
        "sq8_codes", "sq8_recall_at10",
        "kmeans_cells", "kmeans_quality", "random_projection", "rp_ann_topk",
        "pq_codes", "pq_adc_topk", "pq_trained_codes",
        "embedding_dim_stats", "hard_negatives", "mmr_rerank", "knn_graph",
        "ann_rbo_at10",
        # corpus stats / training prep
        "token_freq_histogram", "top_tokens", "zipf_fit", "bigram_lm", "heaps_fit", "pack_sequences",
        "chunk_documents", "bpe_merges", "bpe_token_counts",
        "bpe_doc_token_counts", "bpe_vocab_curve", "unigram_lm_vocab",
        "unigram_token_counts",
        # search
        "bm25_search", "inverted_index", "cms_token_counts",
        "hybrid_rrf_search", "phrase_search", "pmi_collocations", "textrank_keywords",
        # text analysis
        "lang_id", "lang_id_confusion", "quality_score", "token_counts", "doc_fingerprints",
        "tfidf_long", "doc_repetition", "pii_scrub", "lm_quality_score",
        "ctfidf_keywords", "cluster_keywords",
        "doc_bigram_ppl", "ppl_band_docs", "c4_clean_docs", "zorder_keys",
        "nb_model_kv_roundtrip", "orc_roundtrip",
        "dq_orders_report", "pps_sample_docs",
        # multimodal
        "mm_image_features", "mm_frame_samples", "mm_audio_features",
        "mm_frame_dedup", "lang_centroids",
        # events (batch)
        "events_tumbling", "events_sliding", "events_sessionize", "events_json_roundtrip",
        "events_session_window_native", "rolling_revenue",
        "events_pivot", "events_json_props", "events_json_malformed", "events_gap_fill", "events_gap_interp", "events_anomalies", "user_running_stats",
        "purchase_attribution", "next_click_attribution",
        "multitouch_attribution", "interval_pair_counts",
        "funnel_conversion", "funnel_time_to_convert", "cohort_retention", "cohort_value", "event_transitions",
        "events_hourly_profile", "top_session_paths", "user_entropy",
        "fuzzy_part_names", "bloom_prefilter_join",
        "approx_distinct_users", "copurchase_pagerank",
        "copurchase_pagerank_weighted", "copurchase_components",
        "neardup_triangles",
        "neardup_kcore",
        # round-11 additions (every new registry
        # query joins the headline set the round it lands, so the
        # isolated fresh-JVM bench covers it from its first round)
        "cuped_ab_lift", "copurchase_ppr", "copurchase_ppr_weighted",
        "bloom_decontaminate", "containment_pairs", "theilsen_trend",
        "ks_price_shift", "nb_auc", "copurchase_communities_deep",
        # registry-tail heavies promoted in r12 — they rode the r11/r10
        # isolated artifacts as ad-hoc extras; making them headline
        # keeps their round-over-round medians first-class
        "basket_rules_topk", "jaccard_prefix_pairs",
        "mllib_svm_confusion", "part_entity_resolution",
        # round-13 additions (+ the pre-existing M7 headline hole,
        # mllib_nb_confusion's SVM sibling was
        # promoted in r11 but M7 itself never was)
        "mllib_nb_confusion", "active_learning_batch",
        "salted_segment_revenue", "bpe_merges_roundtrip",
        "band_index_store_contents",
        # r13 one-time sweep: every reference-
        # parity query gets a first-class isolated median — the M7
        # hole must be structurally impossible for the parity set
        "tweets_parse_naive", "tweets_parse_svm", "tweets_parse_strict",
        "tweets_clean_chain_b", "tokens_exploded", "nb_model", "nb_stats",
        "svm_weights", "svm_confusion", "union_paths",
        "conditional_counts", "filtered_projection", "global_sort_orders",
        # r13 sweep: the ≥2s in-bench tail promoted so no expensive
        # registry query lives outside the isolated artifact
        "approx_quantile_bounds", "supplier_cooccurrence",
        "copurchase_bfs_depths", "neardup_cluster_sizes",
        "brand_median_price", "bpe_fertility", "embedding_pca_power",
        "revenue_mad_outliers", "ngram_novelty",
        "copurchase_cheapest_paths", "stream_funnel_stages",
        "stream_asof_enrich",
        # structured streaming
        "events_tumbling_stream", "events_sliding_stream",
        "events_sessionize_stream", "stream_dedup_docs", "stream_dedup_native",
        "stream_dedup_watermarked",
        "stream_stream_join", "stream_static_enrich",
        "stream_winnow_fingerprints",
        "stream_doc_repetition", "stream_curation_gates",
        "stream_neardup_candidates", "stream_hourly_profile",
    # round-14 additions
    "bpe_merges_headroom16", "pack_sequences_ffd",
    "packed_shards_readback",
]


def previous_inline_names(repo_dir: str) -> list[str]:
    """Names shown by the most recent committed ``BENCH_r{N}.json``'s
    one-line ``queries`` dict (the driver's PERF comparison surface) —
    the pin set for :func:`build_inline_line`. Empty when no previous
    artifact exists (first round / fresh checkout); a corrupt newest
    artifact raises rather than silently emptying the pin set."""
    import glob
    import re
    arts = sorted(
        (p for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
         if re.search(r"BENCH_r(\d+)\.json$", p)),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))
    if not arts:
        return []
    with open(arts[-1]) as fh:
        prev = json.load(fh)
    return list((prev.get("parsed") or prev).get("queries") or {})


def build_inline_line(base: dict, timings: dict, core: list[str],
                      pinned: list[str], budget: int = 1900) -> str:
    """The ONE stdout JSON line, sized to the driver's 2000-char capture
    buffer. Inclusion is deterministic: ``core``
    (the reference-workload set), then ``pinned`` (every name the
    previous round's line showed — so the round-over-round comparable
    set only ever GROWS while names stay in the registry), then
    slowest-first for whatever budget remains. If core+pinned alone
    would overflow, the display precision drops 3 → 2 decimals (a
    reporting fallback only; bench_result.json always carries the full
    3-decimal medians). If they still overflow at 2 decimals, the line
    carries ``"truncated": N``, the number of core+pinned names left
    out, so a reader can tell budget truncation from a removed query."""
    core = [n for n in core if n in timings]
    pinned = [n for n in pinned if n in timings and n not in core]
    by_cost = sorted((n for n in timings
                      if n not in core and n not in pinned),
                     key=lambda n: -timings[n])
    must_show = core + pinned

    def fill(head: dict, prec: int) -> dict[str, float]:
        shown: dict[str, float] = {}
        for name in must_show + by_cost:
            trial = dict(head, queries=dict(
                shown, **{name: round(timings[name], prec)}))
            if len(json.dumps(trial, separators=(",", ":"))) > budget:
                break
            shown[name] = round(timings[name], prec)
        return shown

    for prec in (3, 2):
        shown = fill(base, prec)
        if all(n in shown for n in must_show):
            return json.dumps(dict(base, queries=shown),
                              separators=(",", ":"))
    # reserve the marker's widest value, then fill in the real count
    head = dict(base, truncated=len(must_show))
    shown = fill(head, 2)
    head["truncated"] = sum(n not in shown for n in must_show)
    return json.dumps(dict(head, queries=shown), separators=(",", ":"))


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT",
                                               "3")),
                    help="samples per query; reported value is the "
                         "median (single runs carry no round-over-round "
                         "signal — the r5 bench showed ±40% noise)")
    cli = ap.parse_args()
    repeat = max(1, cli.repeat)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")

    import __spark_entry__ as entry

    names = HEADLINE_QUERIES
    # Registry tail: every remaining queries() entry, timed the same way
    # so the bench covers the FULL registry. Kept out of the headline
    # `value` so that metric stays composition-stable across rounds —
    # these are mostly library-demo twins of already-benched physical
    # shapes (parse/clean stages that feed every sentiment query above,
    # single-shuffle relational variants of pricing_summary, and the
    # MLlib fits). Their total is reported as `registry_total`.
    tail = sorted(set(entry.queries()) - set(names))
    qs = entry.queries()

    # warm the JVM/session so query timings measure the queries, not
    # one-time startup: touch the parquet reader, the shuffle path, and
    # codegen with a tiny representative job
    from pyspark.sql import functions as F
    (spark.read.parquet(f"{sf_dir}/region.parquet")
     .groupBy(F.lower(F.col("r_name")).alias("k")).count().count())
    # ... and the Arrow local-relation path (session.local_frame):
    # its JVM conversion machinery class-loads ~3 s on first use
    # (r15 §4), one-time like the codegen warmup above
    from text_sentiment_classification_hadoop_spark_spark.session import local_frame
    local_frame(spark, [(0, "w")], "i int, s string").count()

    # --repeat N samples per query, interleaved by PASS (pass 1 of all
    # queries, then pass 2, ...) rather than back-to-back, so a
    # transient slowdown (GC pause, page-cache warmup, a noisy
    # neighbor) lands in at most one sample of every query instead of
    # all samples of one query. Reported value = median; spread
    # (min/max of the samples) goes to bench_result.json so
    # round-over-round movers can be judged against measured noise.
    import statistics

    # Ambient-pressure hygiene + instrumentation (the
    # 217-query common subtotal drifted +16% r6→r7 with no plan
    # changes — consistent with JVM heap/GC pressure accumulating over
    # a longer single-process run). Between passes: drop the SQL
    # relation cache and prompt a full GC so ContextCleaner releases
    # dereferenced localCheckpoint RDD blocks; record per-pass heap and
    # subtotals so drift is MEASURED, not assumed.
    jvm_rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()

    def heap_mb() -> float:
        return round((jvm_rt.totalMemory() - jvm_rt.freeMemory()) / 2**20, 1)

    def inter_pass_hygiene() -> None:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    samples: dict[str, list[float]] = {n: [] for n in names + tail}
    pass_totals: list[float] = []
    heap_per_pass: list[float] = []
    for pass_i in range(repeat):
        pass_t0 = time.perf_counter()
        for name in names + tail:
            fn = qs[name]
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()  # full materialization
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            print(f"# [{pass_i + 1}/{repeat}] {name}: {dt:.3f}s"
                  f" ({n} rows)", file=sys.stderr)
        pass_totals.append(round(time.perf_counter() - pass_t0, 3))
        heap_per_pass.append(heap_mb())
        inter_pass_hygiene()
        print(f"# pass {pass_i + 1} total {pass_totals[-1]}s, "
              f"heap {heap_per_pass[-1]} MB (post-pass, pre-GC)",
              file=sys.stderr)

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    total = 0.0
    tail_total = 0.0
    for name in names + tail:
        med = statistics.median(samples[name])
        timings[name] = round(med, 3)
        spread[name] = [round(min(samples[name]), 3),
                        round(max(samples[name]), 3)]
        if name in tail:
            tail_total += med
        else:
            total += med

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    full_line = json.dumps({
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "registry_total": round(total + tail_total, 3),
        "n_headline": len(names),
        "n_registry": len(names) + len(tail),
        "repeat": repeat,
        "queries": timings,
        "spread": spread,
        "pass_totals": pass_totals,
        "heap_mb_per_pass": heap_per_pass,
        "sf": sf_val,
    })
    # The driver captures only the LAST 2000 chars of stdout; a 120-query
    # map is ~3.5 KB, so the full line's head gets cut and `parsed` comes
    # back null (BENCH_r03). Persist the full JSON to a file, then print
    # a stdout line guaranteed to fit the capture buffer: same headline
    # metric, with per-query detail limited to whatever fits — the
    # reference-workload queries first (the baseline comparison set),
    # then slowest-first (the ones worth reading).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_result.json"), "w") as fh:
        fh.write(full_line + "\n")

    core = [n for n in ("nb_predictions", "nb_confusion", "nb_metrics", "nb_pr_curve",
                        "svm_predictions", "svm_declared_weights",
                        "svm_metrics", "pricing_summary") if n in timings]
    base = {"metric": "headline_queries_total", "value": round(total, 3),
            "unit": "sec", "sf": sf_val, "n_queries": len(timings),
            "repeat": repeat,
            "registry_total": round(total + tail_total, 3),
            "queries_full": "bench_result.json"}
    line = build_inline_line(
        base, timings, core,
        previous_inline_names(os.path.dirname(os.path.abspath(__file__))))
    # stop Spark FIRST (JVM shutdown logs would otherwise land after
    # the line and can push its head out of the capture buffer), and
    # make the JSON line the very last output.
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
