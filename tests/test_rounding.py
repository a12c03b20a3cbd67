"""Cross-engine rounding helpers (functions/rounding.py): the half-up
mean must be EXACT past the 2^53 double cliff (the pre-r5
form cast the integer numerator to double before dividing, so quantity
sums around TPC-H sf30+ reopened the nondeterminism window the helper
exists to close)."""

import math
import subprocess
import sys
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.functions.rounding import (
    pround_avg2,
    sql_pround_avg2,
)


def _half_up_mean(values, n=6):
    """Python-exact round-half-up(mean, n) via Fraction — no doubles."""
    s = sum(Fraction(str(v)) for v in values)
    m = (2 * s * 10 ** n + len(values)) // (2 * len(values))
    return float(m) / 10 ** n


# 10 rows near 1e9 each: S*2e6 ≈ 2.0e16 > 2^53 ≈ 9.0e15 — the old
# CAST-to-DOUBLE numerator is already rounding here
BIG = [987654321.01, 987654321.02, 987654321.04, 987654321.08,
       987654321.16, 987654321.32, 987654321.64, 987654322.28,
       987654324.56, 987654329.12]


def test_pround_avg2_exact_past_2_53(spark):
    df = spark.createDataFrame([(v,) for v in BIG], "x double")
    got = df.agg(pround_avg2(F.col("x")).alias("m")).head()["m"]
    assert got == _half_up_mean(BIG)
    # and the numerator really is past the double cliff
    assert sum(BIG) * 2e6 > 2.0 ** 53


def test_sql_pround_avg2_mirror_agrees_on_both_engines(spark, tmp_path):
    """The SAME SQL text must produce the identical double on Spark and
    DuckDB (sql_pricing_summary executes the oracle text on Spark)."""
    df = spark.createDataFrame([(v,) for v in BIG], "x double")
    df.createOrReplaceTempView("t_round")
    sql = f"SELECT {sql_pround_avg2('x')} AS m FROM t_round"
    spark_val = spark.sql(sql).head()["m"]
    # DuckDB in a subprocess: an in-process connection after heavy Spark
    # can trip the fd limit (see .claude/skills/verify)
    code = (
        "import duckdb\n"
        f"rel = duckdb.sql(\"\"\"SELECT * FROM (VALUES {', '.join(f'({v})' for v in BIG)}) AS t_round(x)\"\"\")\n"
        "duckdb.register('t_round', rel)\n"
        f"print(repr(duckdb.sql('''{sql.replace('t_round', 't_round')}''').fetchone()[0]))\n"
    )
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, check=True)
    duck_val = eval(out.stdout.strip())
    assert spark_val == duck_val == _half_up_mean(BIG)


def test_pround_iratio_column_matches_sql_twin(spark):
    """The Column-API pround_iratio must be value-identical to the
    sql_pround_iratio text it claims to mirror, across ratio shapes
    including the half-way cases the protocol exists for."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import (
        pround_iratio,
        sql_pround_iratio,
    )
    rows = [(1, 3), (2, 3), (1, 2), (3, 2), (999999, 1000000),
            (1, 1000000), (4500000001, 9000000002), (7, 7),
            (123456789012, 987654321)]
    df = spark.createDataFrame(rows, "num long, den long")
    out = df.select(
        pround_iratio(F.col("num"), F.col("den")).alias("a"),
        F.expr(sql_pround_iratio("num", "den")).alias("b")).collect()
    for r in out:
        assert r["a"] == r["b"]
