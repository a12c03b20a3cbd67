"""SparkSession factory.

Local test shape is ``local[N]`` (single JVM), but every config here is
chosen to also be the right default on a 1000-executor cluster reading
~100 TB:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast conversion replace hand-tuned reducer counts (the reference
  hand-tunes split sizes / reducer counts — ``NB.java:295,301``,
  ``SVM.java:183-184`` — all subsumed by AQE).
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down. At cluster scale you'd raise it to ~2-3x total cores.
- Arrow enabled for the (rare) Pandas-UDF paths.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


# Confs the engine NEEDS for correctness and that Spark allows setting
# at runtime — applied defensively by the table loaders so the engine
# behaves correctly even on a caller-provided SparkSession built without
# session.get_spark (e.g. the driver's own session):
# - nanosAsLong: events.parquet carries INT64 TIMESTAMP(NANOS); without
#   this flag the scan ABORTS (PARQUET_TYPE_ILLEGAL)
# - UTC session tz: timestamp values must render identically to the
#   DuckDB oracle regardless of host timezone
# - Arrow: the multimodal mapInPandas stages should batch-transfer
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Apply the runtime-settable confs the engine requires (no-op when
    already set, e.g. under :func:`get_spark`)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # non-settable on this build: keep going, reads may still work


def widen(df, min_parts: int | None = None):
    """Guarded repartition for CPU-bound narrow stages.

    A single-row-group parquet file scans as ONE task no matter how many
    cores exist; expression-heavy stages (md5 per shingle, regex chains)
    then run serially. When the input has fewer partitions than the
    cluster's parallelism, one tiny round-robin shuffle of the (narrow)
    input buys full-width execution. At real scale the guard makes this
    a no-op: a 100 TB table scans as ~800k splits, which is already
    ≥ defaultParallelism, so no shuffle is added.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) < target:
        return df.repartition(target)
    return df


def _num_partitions(df) -> int:
    """``df``'s partition count. When its physical plan reaches a scan
    through projections, filters and the streamed side of broadcast
    joins, the count is the scan's, read without running anything;
    ``df.rdd`` would run the frame's adaptive stages (a join's
    broadcast) while the query is still being built. Where a shuffle
    decides the count, ``df.rdd`` runs those stages to learn it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    while plan.nodeName() in ("Project", "Filter", "BroadcastHashJoin"):
        plan = (plan.streamedPlan() if plan.nodeName() == "BroadcastHashJoin"
                else plan.child())
    if plan.children().isEmpty():
        return plan.execute().getNumPartitions()
    return df.rdd.getNumPartitions()


def persisted_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of the RDDs the SparkContext holds as persisted — caches and
    local checkpoints alike (one JVM call)."""
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def unpersist_rdds(spark: SparkSession, rdd_ids) -> None:
    """Release the given persisted RDDs through their JVM handles (ids
    no longer persisted are skipped)."""
    live = spark.sparkContext._jsc.sc().getPersistentRDDs()
    for i in rdd_ids:
        rdd = live.get(i)
        if rdd.isDefined():
            rdd.get().unpersist(False)


def local_frame(spark: SparkSession, rows, schema):
    """Driver-side rows → a single-batch JVM ``LocalRelation`` (via a
    ``pyarrow.Table``) instead of ``createDataFrame(list)``'s pickled
    Python RDD.

    Why (optimization guide §4 — eliminate the Python boundary):
    ``spark.createDataFrame(list, schema)`` parallelizes the PICKLED
    rows over ``defaultParallelism`` slices, so every scan of the frame
    — a broadcast build, a ``coalesce(1)`` artifact write, one round of
    an iterative loop — launches Python workers to unpickle 32 trivial
    partitions. Measured on local[32], Spark 4.1: a 2-row frame costs
    ~2 s per parallel scan and ~8 s under ``coalesce(1)`` (the single
    task drains all 32 Python sub-partitions sequentially); the Arrow
    path plans as ``LocalTableScan`` (~0.3 s, no Python workers, and
    broadcast builds read it driver-side with no job at all). On a real
    cluster the same frames ride query plans shipped to every executor,
    so the win is the same boundary removal, not a local quirk.

    Results are bit-identical: the Arrow schema is derived from the
    Spark schema, so values round-trip through exactly the declared
    types. A type with no Arrow mapping here (``TimestampType``, …) or
    a row Arrow rejects falls back to plain ``createDataFrame``.
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    # materialize ONCE up front: the Arrow attempt below iterates
    # `rows`, and its fallback iterates again — a generator argument
    # would silently yield an empty/partial frame on the second pass
    rows = list(rows)
    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    try:
        # local Spark→Arrow type mapping: pyspark's to_arrow_schema
        # lives in pyspark.sql.pandas.* whose import pulls in pandas
        # (~1.5 s per fresh process — measured as a +1–2 s regression
        # on every small query whose RESULT is a local frame)
        def atype(dt):
            m = {T.LongType: pa.int64(), T.IntegerType: pa.int32(),
                 T.ShortType: pa.int16(), T.ByteType: pa.int8(),
                 T.DoubleType: pa.float64(), T.FloatType: pa.float32(),
                 T.StringType: pa.string(), T.BooleanType: pa.bool_(),
                 T.BinaryType: pa.binary(), T.DateType: pa.date32()}
            for k, v in m.items():
                if isinstance(dt, k):
                    return v
            if isinstance(dt, T.DecimalType):
                return pa.decimal128(dt.precision, dt.scale)
            if isinstance(dt, T.ArrayType):
                return pa.list_(atype(dt.elementType))
            if isinstance(dt, T.MapType):
                # Spark reads a NULL struct-keyed Arrow map back as an
                # empty map, so those maps take the pickled path
                if isinstance(dt.keyType, T.StructType):
                    raise TypeError(f"no exact arrow mapping for {dt}")
                return pa.map_(atype(dt.keyType), atype(dt.valueType))
            if isinstance(dt, T.StructType):
                return pa.struct([pa.field(f.name, atype(f.dataType))
                                  for f in dt.fields])
            raise TypeError(f"no arrow mapping for {dt}")

        arrow_schema = pa.schema(
            [pa.field(f.name, atype(f.dataType)) for f in st.fields])

        def conv(v, dt):
            if v is None:
                return None
            if isinstance(dt, T.StructType):
                return {f.name: conv(x, f.dataType)
                        for f, x in zip(dt.fields, tuple(v))}
            if isinstance(dt, T.ArrayType):
                return [conv(x, dt.elementType) for x in v]
            if isinstance(dt, T.MapType):
                return {conv(k, dt.keyType): conv(x, dt.valueType)
                        for k, x in dict(v).items()}
            return v

        pyl = [{f.name: conv(x, f.dataType)
                for f, x in zip(st.fields, tuple(r))} for r in rows]
        tbl = pa.Table.from_pylist(pyl, schema=arrow_schema)
        return spark.createDataFrame(tbl, schema=st)
    except (TypeError, pa.ArrowException):
        return spark.createDataFrame(rows, st)


def get_spark(
    app_name: str = "text_sentiment_classification_hadoop_spark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Honors ``SPARK_GRAFT_CPUS``.

    ``extra_conf`` keys override the fixed confs below. All of them take
    full effect only when this call starts the JVM. If a session is
    already live, ``getOrCreate`` returns it and re-applies only the
    runtime-modifiable SQL confs; static ones — the codegen cache size,
    ``spark.driver.memory``, event-log settings, any static key in
    ``extra_conf`` — are dropped, and a warning lists the requested
    extra keys that did not take effect.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 rejects INT64 TIMESTAMP(NANOS) parquet columns (the
        # events table) unless they are surfaced as raw longs; the
        # events loader converts ns-longs back to timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The generated-class cache is one size-bounded LRU per JVM, and
        # Spark's default holds 100 classes. One tweets pipeline pass
        # (nb-compat + svm-strict) generates ~126 distinct classes and
        # the 18-query perfbench registry pass ~360, so with 100 slots a
        # repeated pass evicts each class before its reuse: a warm tweets
        # pass recompiled ~118 classes and the JIT re-profiled each new
        # one. With 2000 slots it compiles 6 (NB's corpus-specific
        # literals), and its CPU fell from 6.8 to 5.2 s (local[2], 4-core
        # VM). Static conf: read once per JVM, executors included.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    requested = extra_conf or {}
    for k, v in requested.items():
        b = b.config(k, v)
    live = SparkSession._instantiatedSession
    was_live = live is not None and live._sc._jsc is not None
    spark = b.getOrCreate()
    if was_live and requested:
        dropped = sorted(k for k, v in requested.items()
                         if spark.conf.get(k, None) != v)
        if dropped:
            logging.getLogger(__name__).warning(
                "get_spark: a session was already active, so these "
                "requested confs did not take effect: %s", ", ".join(dropped))
    spark.sparkContext.setLogLevel("WARN")
    return spark
