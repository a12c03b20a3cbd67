"""CLI parity with the reference's four entry points.

The reference is driven as (README.md:88-124):

    hadoop jar NB.jar  NB  <train> <test> <train_split> <test_split>
    hadoop jar SVM.jar SVM <train...> <test...> <splits...>
    spark-submit NaiveBayes.py <n>
    spark-submit SVM.py <n>

Equivalent invocations here (same workloads, same printed metrics
block, tweets-CSV in — a reference user switches by swapping the
command line):

    python -m text_sentiment_classification_hadoop_spark_spark nb-compat   --train T.csv [--test E.csv] [--model-out DIR]
    python -m text_sentiment_classification_hadoop_spark_spark svm-compat  --train T.csv [--test E.csv] [--model-out DIR]
    python -m text_sentiment_classification_hadoop_spark_spark svm-strict  --train T.csv [--test E.csv]   # M4: epoch chain actually wired
    python -m text_sentiment_classification_hadoop_spark_spark nb-mllib    --input T.csv
    python -m text_sentiment_classification_hadoop_spark_spark svm-mllib   --input T.csv

Output mirrors the reference's console sink (S8): confusion counts then
Accuracy/Precision/Recall/F1 (``NB.java:343-349``; the MLlib commands
additionally print the weighted F-measure like ``NaiveBayes.py:72-75``).
With no ``--test``, the train file is scored, from the same parse and
clean, cached for the command's duration (the reference's
single-input Spark programs split 75/25 internally — the mllib commands
do exactly that with seed 1234).
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import functions as F


def _docs(spark, path: str, mode: str, chain):
    from .sources.tweets import label_col, read_tweets_naive
    raw = read_tweets_naive(spark, path, mode=mode)
    return raw.select(
        F.col("tweet_id").alias("doc_id"),
        label_col().alias("label"),
        chain(F.col("text")).alias("text"),
    ).na.fill({"text": ""})


def _print_metrics(scored, with_weighted: bool = False) -> None:
    from .operators import metrics as M
    c = M.confusion_counts(scored)
    b = M.binary_metrics(c)
    print(f"True Positives = {c['tp']}")
    print(f"False Positives = {c['fp']}")
    print(f"True Negatives = {c['tn']}")
    print(f"False Negatives = {c['fn']}")
    print(f"Accuracy = {b['accuracy']}")
    print(f"Precision = {b['precision']}")
    print(f"Recall = {b['recall']}")
    print(f"F1 Score = {b['f1']}")
    if with_weighted:
        print(f"Weighted F-measure = {M.weighted_f_measure(scored)}")


def _stop(spark, owns: bool) -> None:
    # only stop a session this invocation created: callers embedding the
    # CLI (pytest, notebooks) pass their own session and keep it alive
    if owns:
        spark.stop()


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="text_sentiment_classification_hadoop_spark_spark")
    p.add_argument("command", choices=[
        "nb-compat", "svm-compat", "svm-strict", "nb-mllib", "svm-mllib",
        "curate", "dedup", "tokenize-train", "search", "manifest",
        "explain"])
    p.add_argument("--train", help="training tweets CSV (compat commands)")
    p.add_argument("--test", help="test tweets CSV; defaults to --train")
    p.add_argument("--input", help="tweets CSV for the mllib commands (75/25 split inside)")
    p.add_argument("--model-out", help="optional parquet dir to persist the model")
    p.add_argument("--docs", help="documents parquet path (curate/dedup)")
    p.add_argument("--out", help="optional parquet dir for the kept corpus (curate/dedup)")
    p.add_argument("--keep", choices=["first", "best"], default="first",
                   help="dedup canonical policy: min-id (first) or "
                        "highest --score-col (best)")
    p.add_argument("--score-col", default="n_chars",
                   help="score column for --keep best (default n_chars)")
    p.add_argument("--threshold", type=float, default=0.5,
                   help="estimated-Jaccard near-dup threshold (dedup)")
    p.add_argument("--merges", type=int, default=64,
                   help="number of BPE merges to learn (tokenize-train)")
    p.add_argument("--query", help="query string (search)")
    p.add_argument("--topk", type=int, default=10,
                   help="results to print (search)")
    args = p.parse_args(argv)

    from .functions.cleaning import clean_chain_a, clean_chain_b
    owns_spark = spark is None
    if owns_spark:
        from .session import get_spark
        spark = get_spark(app_name=f"cli-{args.command}")
    t0 = time.perf_counter()

    if args.command == "curate":
        if not args.docs:
            p.error("--docs is required for curate")
        from .operators.curation import corpus_report, curation_pipeline
        docs = spark.read.parquet(args.docs)
        verdict = curation_pipeline(docs.select("doc_id", "text")) \
            .localCheckpoint(eager=True)
        counts = {r["reject_reason"]: r["cnt"] for r in
                  verdict.groupBy("reject_reason")
                  .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        print(f"Documents = {sum(counts.values())}")
        print(f"Kept = {counts.pop(None, 0)}")
        for reason in ("lang", "quality", "repetitive", "duplicate"):
            print(f"Rejected[{reason}] = {counts.get(reason, 0)}")
        if "source" in docs.columns:
            for r in corpus_report(docs).orderBy("group").collect():
                print(f"Source {r['group']}: n_docs={r['n_docs']} "
                      f"mean_quality={r['mean_quality']} "
                      f"pct_repetitive={r['pct_repetitive']}")
        if args.out:
            kept_ids = verdict.filter(F.col("kept") == 1).select("doc_id")
            docs.join(kept_ids, "doc_id").write.mode("overwrite") \
                .parquet(args.out)
            print(f"Kept corpus written to {args.out}")
        print(f"Execution time: {time.perf_counter() - t0:.2f} s")
        _stop(spark, owns_spark)
        return 0

    if args.command == "dedup":
        if not args.docs:
            p.error("--docs is required for dedup")
        from .operators.dedup import (
            canonical_docs,
            canonical_docs_best,
            minhash_near_dups,
        )
        docs = spark.read.parquet(args.docs)
        pairs = minhash_near_dups(docs.select("doc_id", "text"),
                                  threshold=args.threshold)
        if args.keep == "best":
            if args.score_col not in docs.columns:
                p.error(f"--score-col {args.score_col!r} not in the docs "
                        f"schema {docs.columns}")
            resolved = canonical_docs_best(docs, pairs,
                                           score_col=args.score_col)
        else:
            resolved = canonical_docs(docs, pairs)
        resolved = resolved.localCheckpoint(eager=True)
        n = resolved.count()
        n_dup = resolved.filter(F.col("is_dup") == 1).count()
        print(f"Documents = {n}")
        print(f"Duplicates removed = {n_dup}")
        print(f"Kept = {n - n_dup}")
        if args.out:
            keep_ids = resolved.filter(F.col("is_dup") == 0).select("doc_id")
            docs.join(keep_ids, "doc_id").write.mode("overwrite") \
                .parquet(args.out)
            print(f"Deduplicated corpus written to {args.out}")
        print(f"Execution time: {time.perf_counter() - t0:.2f} s")
        _stop(spark, owns_spark)
        return 0

    if args.command == "tokenize-train":
        if not args.docs:
            p.error("--docs is required for tokenize-train")
        from .operators.bpe import bpe_segment_counts, bpe_train, word_freqs
        docs = spark.read.parquet(args.docs).select("text")
        wf = word_freqs(docs).localCheckpoint(eager=True)
        merges = bpe_train(wf, n_merges=args.merges)
        print(f"Words (distinct) = {wf.count()}")
        print(f"Merges learned = {len(merges)}")
        for i, (pair, f) in enumerate(merges[:20], 1):
            print(f"  {i:3d}. {pair!r} -> {pair.replace(' ', '')!r}  (freq {f})")
        if len(merges) > 20:
            print(f"  ... {len(merges) - 20} more")
        vocab = bpe_segment_counts(docs, [m for m, _ in merges])
        print(f"Subword vocabulary = {vocab.count()}")
        if args.out:
            from .operators.bpe import save_merges
            save_merges(spark, merges, args.out)
            print(f"Merge table written to {args.out}")
        print(f"Execution time: {time.perf_counter() - t0:.2f} s")
        _stop(spark, owns_spark)
        return 0

    if args.command == "search":
        if not args.docs or not args.query:
            p.error("--docs and --query are required for search")
        from .operators.search import bm25_topk
        docs = spark.read.parquet(args.docs)
        hits = bm25_topk(docs.select("doc_id", "text"), args.query,
                         k=args.topk).collect()
        print(f"Query = {args.query!r}")
        print(f"Hits = {len(hits)}")
        texts = {r["doc_id"]: r["text"] for r in
                 docs.select("doc_id", "text")
                 .join(spark.createDataFrame(
                     [(h["doc_id"],) for h in hits], "doc_id long"),
                     "doc_id").collect()}
        for h in hits:
            snippet = texts.get(h["doc_id"], "")[:60]
            print(f"  {h['rank']:3d}. doc {h['doc_id']} "
                  f"(score {h['score']}): {snippet}")
        print(f"Execution time: {time.perf_counter() - t0:.2f} s")
        _stop(spark, owns_spark)
        return 0

    if args.command == "explain":
        # developer tool: the formatted physical plan of any registry
        # query — what PLANAUDIT automates, one query at a time
        if not args.query:
            p.error("--query <registry name> is required for explain")
        # the registry lives next to the package dir (repo root), not
        # at a fixed path — derive it so the CLI works from any
        # checkout location or installed layout
        import sys as _sys
        from pathlib import Path
        _sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
        import __spark_entry__ as entry
        qs = entry.queries()
        if args.query not in qs:
            p.error(f"unknown query {args.query!r}; registry has "
                    f"{len(qs)} names (see COVERAGE.md)")
        sf_dir = args.docs or "/root/testdata/sf0.001"
        from .plans.explain import plan_string
        df = qs[args.query](spark, sf_dir)
        print(plan_string(df))
        print(f"Execution time: {time.perf_counter() - t0:.2f} s")
        _stop(spark, owns_spark)
        return 0

    if args.command == "manifest":
        if not args.docs:
            p.error("--docs is required for manifest")
        from .operators.curation import training_manifest
        docs = spark.read.parquet(args.docs)
        man = training_manifest(docs).localCheckpoint(eager=True)
        per = {(r["split"],): r["n"] for r in
               man.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
        print(f"Manifest rows = {man.count()}")
        for s in ("train", "val", "test"):
            print(f"Split[{s}] = {per.get((s,), 0)}")
        if args.out:
            from .operators.curation import shuffle_split
            from .sources.layout import write_training_shards
            # the manifest carries quota-selected docs; re-derive the
            # shuffle key (manifest drops it) and join the payload
            keyed = shuffle_split(docs).select("doc_id", "shuffle_key")
            payload = (man.join(keyed, "doc_id")
                       .join(docs.select("doc_id", "text"), "doc_id"))
            write_training_shards(payload, args.out)
            print(f"Training shards written to {args.out}")
        print(f"Execution time: {time.perf_counter() - t0:.2f} s")
        _stop(spark, owns_spark)
        return 0

    if args.command in ("nb-compat", "svm-compat", "svm-strict"):
        if not args.train:
            p.error("--train is required for compat commands")
        from .session import persisted_rdd_ids, unpersist_rdds
        if args.command == "nb-compat":
            mode, chain = "nb", clean_chain_a
        else:
            mode, chain = "svm", clean_chain_b
        # the command releases what it persists (its cached corpus, the
        # NB counts checkpoint) before it returns
        held = persisted_rdd_ids(spark)
        try:
            train = _docs(spark, args.train, mode, chain)
            if args.test:
                test = _docs(spark, args.test, mode, chain)
            else:
                # training and scoring read one parse of the file
                test = train = train.cache()
            if args.command == "nb-compat":
                from .operators import nb as NB
                model, stats = NB.nb_train(train)
                scored = NB.nb_score(test, model, stats)
            else:
                from .operators import svm as SVM
                if args.command == "svm-strict":
                    model = SVM.svm_train_declared(train)
                else:
                    model = SVM.svm_effective_train(train)
                scored = SVM.svm_score(test, model)
            if args.model_out:
                from .sources.model_store import save_model
                save_model(model, args.model_out)
            _print_metrics(scored)
        finally:
            unpersist_rdds(spark, persisted_rdd_ids(spark) - held)
    else:
        if not args.input:
            p.error("--input is required for mllib commands")
        from .operators.svm import mllib_pipeline
        algo = "nb" if args.command == "nb-mllib" else "svm"
        docs = _docs(spark, args.input, "nb", clean_chain_a)
        preds, _model, cached_frames = mllib_pipeline(docs, algorithm=algo)
        _print_metrics(preds, with_weighted=True)
        for cached in cached_frames:
            cached.unpersist()

    # M9: wall-clock around explicit actions (unlike the reference's
    # Spark timer, which stopped before materialization)
    print(f"Execution time: {time.perf_counter() - t0:.2f} s")
    _stop(spark, owns_spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
