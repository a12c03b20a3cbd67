"""The shared two-phase prefix-sum helper (functions/prefix.py) —
the scale-safe replacement for partition-less windows — plus the
degenerate-input guards it enabled."""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.functions.prefix import ROWS, ranged_cumsum


def test_ranged_cumsum_matches_global_window(spark):
    """Inclusive cumsums + global row numbers from the two-phase form
    equal the single-window reference on a frame with duplicate keys
    spread over many partitions."""
    rows = [(i % 17, i % 5 + 1, 2 * (i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, a long, b long") \
        .repartition(13)
    cum, totals = ranged_cumsum(df, ["k"], ["a", "b"], n_parts=6)
    got = cum.select("k", "a", "b", "_cum_a", "_cum_b", ROWS).collect()
    assert totals["a"] == sum(r[1] for r in rows)
    assert totals["b"] == sum(r[2] for r in rows)
    assert totals["rows"] == len(rows)
    # reference: per-key totals must agree at every key boundary (ties
    # order arbitrarily WITHIN a key, so compare at key granularity)
    import itertools
    ref, acc_a, acc_b, acc_n = {}, 0, 0, 0
    for k, grp in itertools.groupby(sorted(rows), key=lambda r: r[0]):
        g = list(grp)
        acc_a += sum(r[1] for r in g)
        acc_b += sum(r[2] for r in g)
        acc_n += len(g)
        ref[k] = (acc_a, acc_b, acc_n)
    by_key = {}
    for r in got:
        cur = by_key.get(r["k"])
        cand = (r["_cum_a"], r["_cum_b"], r[ROWS])
        if cur is None or cand > cur:
            by_key[r["k"]] = cand
    assert by_key == ref
    # and every row's inclusive sums are consistent: cum − own ≥ 0,
    # strictly increasing row numbers 1..n
    rns = sorted(r[ROWS] for r in got)
    assert rns == list(range(1, len(rows) + 1))


def test_ranged_cumsum_empty_input_is_typed_and_zero(spark):
    """The empty frame must NOT build an empty map() literal (an
    analysis error — the ks_price_shift degenerate); it
    returns typed zero columns and zero totals."""
    df = spark.createDataFrame([], "k long, a long")
    cum, totals = ranged_cumsum(df, ["k"], ["a"])
    assert totals == {"a": 0, "rows": 0}
    assert cum.count() == 0
    types = dict(cum.dtypes)
    assert types["_cum_a"] == "bigint" and types[ROWS] == "bigint"


def test_ranged_cumsum_order_statistic_deterministic_on_ties(spark):
    """Rows with equal order keys land in one range partition, so the
    value at any global rank is the exact order statistic regardless
    of tie order — the contract theilsen_trend's median relies on."""
    vals = [5.0] * 10 + [1.0] * 7 + [9.0] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v double") \
        .repartition(8)
    cum, totals = ranged_cumsum(df, ["v"], [], n_parts=4)
    k = (totals["rows"] + 1) // 2  # lower median rank = 11
    got = cum.filter(F.col(ROWS) == k).collect()
    assert len(got) == 1 and got[0]["v"] == 5.0


def test_ks_price_shift_degenerate_inputs_raise(spark, tmp_path):
    """Empty lineitem / one-class returnflag must fail
    fast with a clear error, not an ill-typed map literal or a silent
    NULL ks."""
    from text_sentiment_classification_hadoop_spark_spark.operators import relational as R
    spark.createDataFrame(
        [], "l_returnflag string, l_extendedprice double") \
        .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(ValueError, match="degenerate"):
        R.ks_price_shift(spark, str(tmp_path))
    spark.createDataFrame(
        [("R", 1.0), ("R", 2.0)],
        "l_returnflag string, l_extendedprice double") \
        .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(ValueError, match="n_b=0"):
        R.ks_price_shift(spark, str(tmp_path))
