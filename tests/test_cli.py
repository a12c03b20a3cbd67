"""The CLI entry points (reference README parity) run and print the
reference-shaped metrics block.

One test (the nb-compat golden) drives the REAL ``python -m`` surface in
a subprocess — entrypoint wiring, arg parsing, exit code, its own Spark
lifecycle. The rest call ``main(argv, spark=...)`` in-process against
the suite's shared session: same code path from argparse down, without
paying a fresh JVM per command (the seven subprocess tests
were ~136 s of the suite, almost all of it Spark startup).
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from text_sentiment_classification_hadoop_spark_spark.__main__ import main

DOCS = "/root/testdata/sf0.001/documents.parquet"
TWEETS = str(Path(__file__).resolve().parents[1] / "fixtures" / "tweets_fixture.csv")


def _kv(stdout: str) -> dict:
    return {l.split(" = ")[0]: l.split(" = ")[1]
            for l in stdout.strip().splitlines() if " = " in l}


def test_nb_compat_cli_golden():
    # the one true-subprocess smoke: proves the module entrypoint, not
    # just main() — keep exactly one of these (JVM spinup ~15 s each)
    out = subprocess.run(
        [sys.executable, "-m", "text_sentiment_classification_hadoop_spark_spark", "nb-compat",
         "--train", "fixtures/tweets_fixture.csv"],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = _kv(out.stdout)
    # the golden confusion from test_fixture_e2e, via the CLI surface
    assert (got["True Positives"], got["False Positives"],
            got["True Negatives"], got["False Negatives"]) == ("14", "0", "17", "1")
    assert "Execution time" in out.stdout


def test_curate_cli(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "kept")
    rc = main(["curate", "--docs", DOCS, "--out", out_dir], spark=spark)
    stdout = capsys.readouterr().out
    assert rc == 0
    got = _kv(stdout)
    total = int(got["Documents"])
    kept = int(got["Kept"])
    rejected = sum(int(v) for k, v in got.items() if k.startswith("Rejected["))
    assert total > 0 and kept + rejected == total
    assert "Source " in stdout          # per-source report printed
    assert "Kept corpus written" in stdout
    assert spark.read.parquet(out_dir).count() == kept


def test_dedup_cli(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "deduped")
    rc = main(["dedup", "--docs", DOCS,
               "--keep", "best", "--score-col", "n_chars",
               "--out", out_dir], spark=spark)
    stdout = capsys.readouterr().out
    assert rc == 0
    got = _kv(stdout)
    total = int(got["Documents"])
    kept = int(got["Kept"])
    assert total > 0 and kept + int(got["Duplicates removed"]) == total
    assert "Deduplicated corpus written" in stdout
    assert spark.read.parquet(out_dir).count() == kept


def test_tokenize_train_cli(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "merges")
    rc = main(["tokenize-train", "--docs", DOCS,
               "--merges", "8", "--out", out_dir], spark=spark)
    stdout = capsys.readouterr().out
    assert rc == 0
    got = _kv(stdout)
    assert int(got["Merges learned"]) == 8
    assert int(got["Words (distinct)"]) > 0
    assert int(got["Subword vocabulary"]) > 0
    assert "Merge table written" in stdout


def test_search_cli(spark, capsys):
    rc = main(["search", "--docs", DOCS,
               "--query", "table scan merge", "--topk", "5"], spark=spark)
    stdout = capsys.readouterr().out
    assert rc == 0
    assert "Query = 'table scan merge'" in stdout
    assert "Hits = " in stdout


def test_cli_manifest(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "shards")
    rc = main(["manifest", "--docs", DOCS, "--out", out_dir], spark=spark)
    stdout = capsys.readouterr().out
    assert rc == 0
    assert "Manifest rows = 250" in stdout
    assert "Training shards written" in stdout
    assert sorted(d for d in os.listdir(out_dir) if d.startswith("split=")) == \
        ["split=test", "split=train", "split=val"]


def test_cli_explain(spark, capsys):
    rc = main(["explain", "--query", "pricing_summary"], spark=spark)
    stdout = capsys.readouterr().out
    assert rc == 0
    assert "== Physical Plan ==" in stdout
    assert "Scan parquet" in stdout


def test_cli_injected_session_survives(spark):
    # the seam contract: an injected session is NOT stopped by main()
    main(["explain", "--query", "pricing_summary"], spark=spark)
    assert spark.range(1).count() == 1


def _stored_rdds(spark) -> set:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_compat_commands_release_their_storage(spark, capsys):
    """Each compat command parses its file once, caches it while it
    trains and scores, and leaves no cached or checkpointed data behind
    in the caller's session."""
    before = _stored_rdds(spark)
    for cmd in ("nb-compat", "svm-compat", "svm-strict"):
        assert main([cmd, "--train", TWEETS], spark=spark) == 0
        assert _stored_rdds(spark) <= before, cmd
    assert "True Positives" in capsys.readouterr().out


@pytest.mark.parametrize("cmd", ["nb-compat", "svm-strict"])
def test_compat_rows_sharing_an_id_are_scored_apart(spark, tmp_path, capsys, cmd):
    """A positive and a negative tweet that share a tweet id are two
    tweets: both are classified right."""
    train, test = tmp_path / "train.csv", tmp_path / "test.csv"
    train.write_text("".join(
        f"{i},1,src,love great happy day\n{i + 1},0,src,hate awful sad day\n"
        for i in range(1, 13, 2)))
    test.write_text("9,1,src,love great happy\n9,0,src,hate awful sad\n")
    assert main([cmd, "--train", str(train), "--test", str(test)], spark=spark) == 0
    got = _kv(capsys.readouterr().out)
    assert (got["True Positives"], got["False Positives"],
            got["True Negatives"], got["False Negatives"]) == ("1", "0", "1", "0")
