"""One benchmark process: a fresh Python interpreter and JVM.

Usage: python3 worker.py SPEC.json  (started by run.py, which sets
PYTHONPATH to the checkout and gives the process its own temporary dirs).

It sets up a session the way the CLI does, runs the first trivial job,
and then runs the workload's passes: the first pass is cold, the others
warm. Outputs go to the JSON file named in the spec; checking them is the
launcher's job, outside the timed region.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import nullcontext, redirect_stdout

from py4j.protocol import Py4JJavaError

import procs
from workloads import REGISTRY_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(ROOT, "tools"))
_COUNT_LINE = re.compile(r"^(True|False) (Positives|Negatives) = (\d+)$", re.M)


def _counts(stdout: str) -> dict[str, int]:
    out = {}
    for tf, pn, n in _COUNT_LINE.findall(stdout):
        out[tf[0].lower() + pn[0].lower()] = int(n)
    return out


def _keep_going(n_done: int, spec: dict, t0: float) -> bool:
    return n_done < spec["passes"] or time.perf_counter() - t0 < spec["seconds"]


# ---------------------------------------------------------------- tweets

def cli_pass(spark, path: str) -> dict:
    """``nb-compat`` then ``svm-strict`` through the CLI entry point."""
    from text_sentiment_classification_hadoop_spark_spark import __main__ as cli
    rec = {}
    for job, cmd in (("nb", "nb-compat"), ("svm", "svm-strict")):
        buf = io.StringIO()
        t = time.perf_counter()
        try:
            with redirect_stdout(buf):
                cli.main([cmd, "--train", path], spark=spark)
        except Py4JJavaError as exc:
            rec[f"{job}_error"] = str(exc)[:500]
        rec[f"{job}_job_s"] = time.perf_counter() - t
        rec[f"{job}_confusion"] = _counts(buf.getvalue())
    return rec


def traced_pass(spark, path: str, rec) -> dict:
    """The same two jobs through the layer functions, materialized at every
    layer boundary so each span holds its own layer's work."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.cleaning import (
        clean_chain_a,
        clean_chain_b,
    )
    from text_sentiment_classification_hadoop_spark_spark.functions.tokenize import (
        explode_tokens,
    )
    from text_sentiment_classification_hadoop_spark_spark.operators import metrics as M
    from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
    from text_sentiment_classification_hadoop_spark_spark.operators import svm as SVM
    from text_sentiment_classification_hadoop_spark_spark.sources.tweets import (
        label_col,
        read_tweets_naive,
    )

    held = []

    def keep(df):
        df = df.cache()
        held.append(df)
        return df, df.count()

    def docs(mode, chain, span):
        with rec.span("parse"):
            raw, n = keep(read_tweets_naive(spark, path, mode=mode))
        rec.add("parse.rows", n)
        with rec.span(span):
            d, _ = keep(raw.select(F.col("tweet_id").alias("doc_id"),
                                   label_col().alias("label"),
                                   chain(F.col("text")).alias("text"))
                        .na.fill({"text": ""}))
        return d

    out = {}
    t = time.perf_counter()
    d = docs("nb", clean_chain_a, "clean_a")
    with rec.span("tokenize"):
        rec.add("tokenize.tokens", explode_tokens(d).count())
    with rec.span("nb.train"):
        model, stats = NB.nb_train(d)
        model, _ = keep(model)
    rec.add("nb.vocab", stats.features_size)
    with rec.span("nb.score"):
        scored, _ = keep(NB.nb_score(d, model, stats))
    with rec.span("metrics"):
        out["nb_confusion"] = M.confusion_counts(scored)
        M.binary_metrics(out["nb_confusion"])
    out["nb_job_s"] = time.perf_counter() - t

    t = time.perf_counter()
    d = docs("svm", clean_chain_b, "clean_b")
    with rec.span("svm.train"):
        w = SVM.svm_train_declared(d)
        literal = w._jdf.queryExecution().analyzed().getClass().getSimpleName() \
            == "LocalRelation"
        w, vocab = keep(w)
    rec.add("svm.vocab", vocab)
    rec.add("svm.distributed_path", 0 if literal else 1)
    with rec.span("svm.score"):
        scored, _ = keep(SVM.svm_score(d, w))
    with rec.span("metrics"):
        out["svm_confusion"] = M.confusion_counts(scored)
        M.binary_metrics(out["svm_confusion"])
    out["svm_job_s"] = time.perf_counter() - t
    for df in held:
        df.unpersist()
    return out


def _pass(spark, trace: bool, run) -> dict:
    """One pass; traced, it gets a span recorder and reports its layers."""
    cpu = procs.tree_cpu_s(os.getpid())
    if not trace:
        p = run(None)
        p["cpu_s"] = procs.tree_cpu_s(os.getpid()) - cpu
        return p
    from layers import Recorder, codegen_counters
    rec = Recorder(spark)
    c0 = codegen_counters(spark)
    p = run(rec)
    c1 = codegen_counters(spark)
    rec.add("codegen.compiles", c1[0] - c0[0])
    rec.add("codegen.s", c1[1] - c0[1])
    p["layers"] = dict(rec.values)
    p["cpu_s"] = procs.tree_cpu_s(os.getpid()) - cpu
    return p


def tweets(spark, spec: dict) -> dict:
    from gen import tweets_csv

    def corpus(k: int) -> str:
        path = os.path.join(spec["dir"], f"tweets_{k}.csv")
        corpora.append(tweets_csv(path, spec["profile"], spec["rows"],
                                  spec["seed"] * 1000 + k))
        return path

    def one_pass(path: str, rec) -> dict:
        t = time.perf_counter()
        p = traced_pass(spark, path, rec) if rec is not None else cli_pass(spark, path)
        p["pass_s"] = time.perf_counter() - t
        return p

    corpora, passes = [], []
    t0 = time.perf_counter()
    gen_s = 0.0  # corpus generation happens between passes and is not measured
    while _keep_going(len(passes), spec, t0 + gen_s):
        g = time.perf_counter()
        path = corpus(len(passes))
        gen_s += time.perf_counter() - g
        passes.append(_pass(spark, spec["trace"], lambda rec: one_pass(path, rec)))
    out = {"run_s": time.perf_counter() - t0 - gen_s, "passes": passes,
           "corpora": corpora}
    if spec["trace"]:
        out["untraced_pass"] = one_pass(corpus(len(passes)), None)
    return out


# -------------------------------------------------------------- registry

def registry_pass(spark, spec: dict, rec=None) -> dict:
    import __spark_entry__ as entry  # before check_correctness, which edits sys.path
    from check_correctness import df_to_rows

    from layers import plan_phases

    qs = entry.queries()
    span = rec.span if rec is not None else (lambda _name: nullcontext())
    out = {}
    for name, _module in REGISTRY_QUERIES:
        q = {}
        try:
            t = time.perf_counter()
            with span("registry.build"):
                df = qs[name](spark, spec["dir"])
            q["build_s"] = time.perf_counter() - t
            t = time.perf_counter()
            with span("registry.action"):
                rows = df.collect()
            q["action_s"] = time.perf_counter() - t
            if rec is not None:
                for phase, s in plan_phases(df).items():
                    rec.add(f"plan.{phase}_s", s)
            cols = sorted(df.columns)
            q["columns"] = cols
            q["rows"] = df_to_rows(cols, [r.asDict() for r in rows])
        except Py4JJavaError as exc:
            q["error"] = str(exc)[:500]
        out[name] = q
    return out


def registry(spark, spec: dict) -> dict:
    passes = []
    t0 = time.perf_counter()
    while _keep_going(len(passes), spec, t0):
        passes.append(_pass(spark, spec["trace"], lambda rec: {
            "queries": registry_pass(spark, spec, rec)}))
    out = {"run_s": time.perf_counter() - t0, "passes": passes}
    if spec["trace"]:
        out["untraced_pass"] = {"queries": registry_pass(spark, spec)}
    return out


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    from text_sentiment_classification_hadoop_spark_spark.session import get_spark
    spark = get_spark(app_name=f"perfbench-{spec['kind']}")
    spark.range(1).count()
    out = {"setup_wall_s": time.time() - spec["t_spawn"],
           "setup_cpu_s": procs.tree_cpu_s(os.getpid())}
    jvm = spark.sparkContext._gateway.proc
    try:
        run = tweets if spec["kind"] == "tweets" else registry
        out.update(run(spark, spec))
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait for it, so no run's
        # JVM is still shutting down when the next one starts
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
    with open(spec["out"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
