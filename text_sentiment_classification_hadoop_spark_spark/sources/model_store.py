"""Columnar model persistence (SURVEY.md §2.1 S5-S7).

The reference round-trips models through tab-separated text files that
every map task re-reads and re-parses from HDFS (``NB.java:100-102,
163-187``; ``SVM.java:104,113-127``) — `word\\tpos@neg` for NB,
`word\\tweight` per epoch for SVM. The rebuild persists the same logical
tables as Parquet with explicit schemas:

- write is idempotent via ``mode("overwrite")`` — the declarative form
  of the reference's ``fs.exists → fs.delete`` dance (``NB.java:283-287``,
  S7);
- reload is ``spark.read.parquet``, and a scorer reads the model once
  to the driver and ships it inside its plan — one read, not one read
  *per task* (the reference's anti-pattern, SURVEY.md §4.2);
- a `word`-sorted single-file text export reproduces the reference's
  on-disk format byte-for-byte for interop (S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NB_MODEL_SCHEMA = "word string, pos_count bigint, neg_count bigint, " \
                  "log_p_pos double, log_p_neg double"
SVM_MODEL_SCHEMA = "word string, weight double"


def save_model(model: DataFrame, path: str) -> None:
    """Persist a model table as Parquet, overwriting any previous run
    (S7 idempotence). Models are vocabulary-sized — coalesce(1) keeps
    the artifact a single file without harming a 100 TB pipeline (the
    *corpus* never flows through here, only the aggregated model)."""
    model.coalesce(1).write.mode("overwrite").parquet(path)


def load_model(spark: SparkSession, path: str) -> DataFrame:
    """Reload a persisted model (S5). The scorers take it as is: they
    read it once to the driver and ship it inside the scoring plan —
    never re-read per task."""
    return spark.read.parquet(path)


def export_reference_format(model: DataFrame, path: str,
                            fmt: str = "nb") -> None:
    """S6 interop: write the reference's text-KV layout
    (``word\\tpos@neg`` for NB — ``NB.java:100-102`` — or
    ``word\\tweight`` for SVM — ``SVM.java:104``), sorted by word (the
    MR shuffle's incidental ordering, O1)."""
    if fmt == "nb":
        kv = model.select(
            "word",
            F.concat_ws("@", F.col("pos_count"), F.col("neg_count")).alias("v"))
    else:
        kv = model.select("word", F.col("weight").cast("string").alias("v"))
    (kv.orderBy("word").coalesce(1)
     .write.mode("overwrite").option("sep", "\t").csv(path))
