"""Parquet table loaders for the driver testdata (TESTDATA.md).

Columnar scans: Catalyst pushes filters/projections into the parquet
reader (check with ``.explain`` → ``PushedFilters`` / ``ReadSchema``),
so callers should select/filter on the returned DataFrame directly
rather than materializing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a time column at the table boundary so every downstream
    operator sees plain TIMESTAMP regardless of the parquet encoding:

    - INT64 TIMESTAMP(NANOS) + nanosAsLong → raw ns long: truncate to
      microseconds (same as DuckDB's ns→us cast), restore TimestampType.
    - ``timestamp[us]`` with no timezone → Spark 4 reads TIMESTAMP_NTZ,
      which ``unix_micros()`` / ``cast(double)`` reject: cast to
      TIMESTAMP. The session tz is pinned UTC (session.RUNTIME_CONFS),
      so the wall values — and oracle parity — are unchanged.

    Works on batch and streaming DataFrames (pure column expressions).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    for field in df.schema.fields:
        if field.name == col:
            if isinstance(field.dataType, T.LongType):
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"{col} div 1000")))
            elif isinstance(field.dataType, T.TimestampNTZType):
                df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def table_path(name: str, sf_dir: str | None = None) -> str:
    return f"{sf_dir or DEFAULT_SF_DIR}/{name}.parquet"


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    from ..session import ensure_engine_confs
    ensure_engine_confs(spark)  # caller-provided sessions included
    return normalize_ts(spark.read.parquet(table_path(name, sf_dir)))


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
