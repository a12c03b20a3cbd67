"""Checks on the benchmark's own inputs and span recorder.

Run: python3 -m pytest perfbench/test_perfbench.py -q
(only the span test starts a local Spark session; it is skipped without
pyspark).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402
from workloads import TWEETS_ROWS  # noqa: E402

# svm_train_declared's default literal_map_max: the two tweets workloads
# must sit on opposite sides of it.
LITERAL_MAP_MAX = 4096


def test_small_profile_stays_on_the_literal_map_path(tmp_path):
    for seed in (1, 2):
        rec = gen.tweets_csv(str(tmp_path / "t.csv"), "small", TWEETS_ROWS, seed)
        assert rec["distinct_tokens_chain_a"] < LITERAL_MAP_MAX
        assert rec["distinct_tokens_chain_b"] < LITERAL_MAP_MAX


def test_zipf_profile_forces_the_distributed_path(tmp_path):
    for seed in (1, 2):
        rec = gen.tweets_csv(str(tmp_path / "t.csv"), "zipf", TWEETS_ROWS, seed)
        assert rec["distinct_tokens_chain_a"] > LITERAL_MAP_MAX
        assert rec["distinct_tokens_chain_b"] > LITERAL_MAP_MAX


def test_profiles_share_row_shape():
    small = gen.tweet_lines("small", 2000, 5)
    zipf = gen.tweet_lines("zipf", 2000, 5)
    for lines in (small, zipf):
        assert all(len(line.split(",")) >= 4 for line in lines)
    words = [sum(len(line.split(" ")) for line in lines) for lines in (small, zipf)]
    assert abs(words[0] - words[1]) / words[0] < 0.05


def test_inputs_depend_only_on_the_seed(tmp_path):
    assert gen.tweet_lines("zipf", 500, 3) == gen.tweet_lines("zipf", 500, 3)
    assert gen.tweet_lines("zipf", 500, 3) != gen.tweet_lines("zipf", 500, 4)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    gen.registry_tables(str(a), 9)
    gen.registry_tables(str(b), 9)
    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name


def test_reference_cleaning_matches_the_chains():
    raw = "@bob Loving it!! http://t.co/x12 so, great #win &amp; 42 days"
    assert reference.clean_a(raw) == "loving it so great days"
    assert reference.clean_b(raw) == "bob loving it so great win amp days"


def test_reference_parse_modes():
    line = "7,1,Sentiment140,one, two,three"
    assert reference.parse([line], "nb") == [(1.0, "one twothree")]
    assert reference.parse([line], "svm") == [(1.0, "one")]
    assert reference.parse(["8,0,x"], "svm") == []


def test_benchmark_json_names_every_metric_the_run_prints():
    import json

    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    # tweets-small-vocab runs by hand only; NOTES.md says why
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS) - {
        "tweets-small-vocab"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()


def test_spans_with_one_name_count_only_their_own_jobs():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(HERE))
    from layers import Recorder
    from text_sentiment_classification_hadoop_spark_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    sc = spark.sparkContext
    try:
        first, second = Recorder(spark), Recorder(spark)
        with first.span("x"):
            sc.parallelize([1, 2, 3]).count()
        with second.span("x"):
            sc.parallelize([1, 2, 3]).count()
            sc.parallelize([4, 5]).count()
        with first.span("x"):
            sc.parallelize([6]).count()
        assert first.values["x.jobs"] == 2
        assert second.values["x.jobs"] == 2
    finally:
        spark.stop()


def test_every_operator_module_owns_a_registry_query():
    from workloads import REGISTRY_MODULES

    ops = os.path.join(os.path.dirname(HERE),
                       "text_sentiment_classification_hadoop_spark_spark", "operators")
    modules = {f[:-3] for f in os.listdir(ops)
               if f.endswith(".py") and f != "__init__.py"}
    assert modules <= set(REGISTRY_MODULES)


def test_launcher_leaves_no_orphaned_process():
    # an orphan like a JVM that outlives its worker: reaped, or killed after
    # the grace period, before reap_descendants returns
    script = (
        "import os, subprocess, procs, run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'],"
        " stdout=subprocess.DEVNULL)\n"
        "assert procs.descendants(os.getpid(), procs.table())\n"
        "run.reap_descendants(0.2)\n"
        "print(len(procs.descendants(os.getpid(), procs.table())))\n")
    out = subprocess.run([sys.executable, "-c", script], cwd=HERE, timeout=30,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "0"
