"""Structured Streaming variants of the event operators.

The reference has no streaming at all (SURVEY.md §2.11 — mentioned only
as future work in its report §5.2.5); these are north-star additions.
The logical aggregations match ``operators.events`` so the batch
versions serve as the correctness oracle (run the same input through
both; Structured Streaming's incremental plan must agree).

Design:
- file source (exactly-once, replayable) for tests; at scale the same
  code runs on Kafka by swapping ``readStream.format``;
- event-time tumbling windows with a watermark for late data;
- session windows via ``F.session_window`` (state-store backed);
- sinks: append/complete to memory (tests) or parquet (production),
  checkpointed.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def events_stream_from_files(spark: SparkSession, path: str,
                             max_files_per_trigger: int = 1) -> DataFrame:
    """Replayable file-based event stream (parquet dir, events schema)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def events_raw_stream(spark: SparkSession, sf_dir: str,
                      glob: str = "events.parquet") -> DataFrame:
    """File stream over the driver's events parquet with ``ts``
    normalized to plain TIMESTAMP, whatever the on-disk encoding
    (raw-ns LONG under nanosAsLong, or Spark 4's TIMESTAMP_NTZ for
    untimezoned ``timestamp[us]``).

    A file stream cannot infer schema, so peek the footer with one
    batch read (metadata-only — no data scan) and reuse that exact
    schema for the stream; ``sources.tables.normalize_ts`` then applies
    the same boundary normalization the batch loader uses, keeping the
    batch operators valid oracles for every streaming query."""
    from ..session import ensure_engine_confs
    from ..sources.tables import normalize_ts
    ensure_engine_confs(spark)
    footer = spark.read.parquet(f"{sf_dir}/{glob}").schema
    raw = (spark.readStream.schema(footer).format("parquet")
           .option("pathGlobFilter", glob).load(sf_dir))
    return normalize_ts(raw)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream over the driver's ``documents.parquet`` in
    ``sf_dir`` (the sf dir with a glob filter: the file-stream source
    needs a directory), under the engine's runtime confs.

    The schema is declared, so no footer-read job runs: the documents
    table is ``doc_id``/``n_chars`` int64 and the rest strings in every
    sf dir — unlike the events table, whose ``ts`` encoding varies."""
    from ..session import ensure_engine_confs
    ensure_engine_confs(spark)
    return (spark.readStream
            .schema("doc_id long, text string, lang string, source string,"
                    " n_chars long")
            .format("parquet")
            .option("pathGlobFilter", "documents.parquet").load(sf_dir))


def tumbling_counts_stream(events: DataFrame, minutes: int = 5,
                           watermark: str = "10 minutes") -> DataFrame:
    """Streaming tumbling-window counts per event_type. Watermark bounds
    state: windows older than max(event time) − watermark are finalized
    and dropped from the store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        # decimal sum: exact/associative, so the streamed total is
        # independent of micro-batch/state merge order (matches the
        # batch oracle's decimal sum bit-for-bit)
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts_stream(events: DataFrame, minutes: int = 10,
                          slide_minutes: int = 5,
                          watermark: str = "10 minutes") -> DataFrame:
    """Streaming sliding (hopping) window counts per event_type — the
    incremental twin of ``operators.events.sliding_counts``. Each event
    updates D/S windows; state size is bounded by the watermark exactly
    as in the tumbling case, scaled by the constant overlap factor."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes",
                          f"{slide_minutes} minutes").alias("w"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30,
                      watermark: str = "60 minutes") -> DataFrame:
    """Streaming session windows per user (state-store backed
    ``session_window`` — the Structured Streaming native form of the
    batch gap-sessionization in ``operators.events.sessionize``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.max("ts").alias("session_end"))
        # session_window.start == min(ts); its .end is last-event + gap,
        # so emit max(ts) instead — the batch sessionize's session_end,
        # making batch the oracle for this stream.
        .select("user_id", F.col("w.start").alias("session_start"),
                "session_end", "n_events")
    )


def purchase_click_join_stream(events: DataFrame,
                               window_minutes: int = 5,
                               watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: every purchase paired with the same
    user's clicks in the preceding ``window_minutes`` (inclusive) →
    ``(purchase_id, click_id, user_id, gap_us)``.

    The canonical Structured Streaming two-source join: both sides carry
    a watermark and the join predicate bounds click time relative to
    purchase time, so the state store can discard a buffered click once
    the purchase-side watermark passes ``click.ts + window`` — state is
    O(events in the window), not O(stream). An unbounded (no time
    bound) stream-stream join would be rejected by Spark for exactly
    that reason. Batch oracle: the equivalent theta join."""
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", watermark))
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return (
        purchases.join(clicks, cond)
        .select("purchase_id", "click_id",
                F.col("p_user").alias("user_id"),
                (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
                .alias("gap_us"))
    )


def enrich_stream_static(events: DataFrame, dim: DataFrame,
                         key: str = "user_id",
                         dim_col: str = "segment",
                         default: str = "UNKNOWN") -> DataFrame:
    """Stream-static enrichment join + per-(dim, event_type) totals —
    the canonical dimension-lookup pattern in Structured Streaming.

    The static side is joined with an explicit ``broadcast`` hint: no
    watermark, no join state store — each micro-batch broadcasts the
    (dimension-sized) static table and the join is stateless, which is
    why stream-static inner/left joins need no time bounds while
    stream-stream joins do. At 100 TB of stream the static side is
    re-read per micro-batch, so a production deployment caches it
    (small dim) or Delta-reads it (changing dim); the plan shape is the
    same. The aggregation is the only stateful operator.

    decimal sum: exact/associative, so streamed totals match the batch
    oracle bit-for-bit regardless of micro-batch boundaries."""
    enriched = (
        events.join(F.broadcast(dim), on=key, how="left")
        .withColumn(dim_col, F.coalesce(F.col(dim_col), F.lit(default)))
    )
    return (
        enriched.groupBy(dim_col, "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"))
    )


#: Shuffle partitions every stream starts with. Streaming instantiates
#: one state-store instance per shuffle partition per stateful
#: operator, and the count is PINNED into the checkpoint at first
#: start — so it is sized to the state volume, not inherited from the
#: batch default. At small state the per-instance overhead dominates
#: wall-clock (measured 11s → 3s on the sf0.1 stream-stream join going
#: 32 → 8); a deployment with large state raises this constant before
#: the FIRST start of its query. Batch queries in the same session are
#: unaffected (the conf is restored once the stream has finished, and
#: already-started streams keep their pinned value).
_STATE_PARTITIONS = 8

#: How long a stream may take to process all available input — far
#: above any registry stream, each of which takes seconds at sf0.1 on
#: 4 cores. A stream that runs out of time is stopped and raises:
#: returning the sink as it stands would be a silently truncated answer.
_TIMEOUT_S = 120.0


@contextmanager
def _state_partitions(spark: SparkSession):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_to_completion(writer, spark: SparkSession, name: str) -> None:
    """Start ``writer`` as an ``availableNow`` query named ``name``,
    wait until it has processed all available input, and stop it.
    Raises ``TimeoutError`` (after stopping it) when the wait runs out.
    The state-partition scope spans the start and the wait, so every
    micro-batch plans under it."""
    with _state_partitions(spark):
        q = writer.queryName(name).trigger(availableNow=True).start()
        try:
            done = q.awaitTermination(_TIMEOUT_S)
        finally:
            q.stop()
    if not done:
        raise TimeoutError(
            f"stream {name!r} did not finish within {_TIMEOUT_S:g} s")


def run_stream(stream_df: DataFrame, name: str,
               output_mode: str) -> DataFrame:
    """Run a streaming query to a memory sink until all available input
    is processed → the sink table ``name``. Raises ``TimeoutError``
    when the stream does not finish in time."""
    _run_to_completion(
        stream_df.writeStream.format("memory").outputMode(output_mode),
        stream_df.sparkSession, name)
    return stream_df.sparkSession.table(name)


def _run_foreach_batch(stream_df: DataFrame, write_batch, store_dir: str,
                       name: str) -> None:
    """Run ``write_batch`` over every micro-batch of ``stream_df``,
    checkpointed next to ``store_dir`` (the store writers' sink)."""
    _run_to_completion(
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", store_dir + "_ckpt"),
        stream_df.sparkSession, name)


def _append_once(rows: DataFrame, store_dir: str, batch_id: int,
                 anti_key: str | None = None) -> None:
    """Append ``rows``, stamped with ``batch_id``, to an append-only
    parquet store exactly once: a replayed batch whose ``batch_id`` the
    store already holds is a no-op (read-filter guard — the
    parquet-level equivalent of the "skip if batchId committed"
    transaction a table format would provide). With ``anti_key``, rows
    whose key the store already holds are dropped first."""
    if os.path.isdir(store_dir) and any(
            f.endswith(".parquet") for f in os.listdir(store_dir)):
        seen = rows.sparkSession.read.parquet(store_dir)
        if (seen.filter(F.col("batch_id") == batch_id).limit(1)
                .count() > 0):
            return  # batch already committed — replay is a no-op
        if anti_key is not None:
            rows = rows.join(seen.select(anti_key), anti_key, "left_anti")
    (rows.withColumn("batch_id", F.lit(batch_id))
     .write.mode("append").parquet(store_dir))


def dedup_native_stream(df: DataFrame, key_col: str = "text_hash") -> DataFrame:
    """Production streaming exact-dedup: Spark's native ``dropDuplicates``
    — JVM state store keyed on ``key_col`` (state = |distinct keys|,
    same bound as the custom operator below, none of its per-group
    Python/Arrow tax). Pair with ``withWatermark`` upstream when
    duplicates are known to arrive within a window, so state expires.
    :func:`dedup_first_seen_stream` remains the custom-stateful-operator
    form (the extension point for logic ``dropDuplicates`` can't
    express, e.g. keep-best-by-quality instead of keep-first)."""
    return df.dropDuplicates([key_col])


def dedup_watermarked_stream(df: DataFrame, key_cols: list[str],
                             ts_col: str = "ts",
                             delay: str = "10 minutes") -> DataFrame:
    """Watermark-bounded streaming exact-dedup — the 100 TB form:
    ``dropDuplicatesWithinWatermark`` expires a key's suppression state
    once the watermark passes its event time, so the state store is
    bounded by keys *within the watermark horizon*, not by every
    distinct key ever seen (``dropDuplicates``' unbounded growth — fine
    for bounded replays, fatal for a year-long feed). The dedup
    guarantee narrows correspondingly: duplicates are only suppressed
    when they arrive within ``delay`` of each other — exactly the
    contract ingest dedup needs (retries/replays are near-in-time;
    genuine far-apart repeats are batch dedup's job)."""
    return (df.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(key_cols))


def dedup_first_seen_stream(df: DataFrame, key_col: str = "text_hash") -> DataFrame:
    """Custom stateful streaming operator: emit each key's FIRST
    occurrence only — streaming exact-dedup for a document feed, the
    incremental form of ``operators.dedup.exact_dedup``.

    Built on ``applyInPandasWithState`` (Arrow-batched, per-key
    GroupState): state is one boolean per distinct key, so the state
    store grows with |distinct keys|, not stream length; duplicates
    arriving in any later micro-batch are suppressed. At scale, put a
    TTL timeout on the state (ProcessingTimeTimeout) to bound the store
    when upstream guarantees duplicates arrive within a window.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType([T.StructField(key_col, T.StringType())])
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def first_seen(key, pdfs, state):
        import pandas as pd
        for _ in pdfs:  # drain the Arrow batches for this key
            pass
        if not state.exists:
            state.update((True,))
            yield pd.DataFrame({key_col: [key[0]]})

    return (
        df.groupBy(key_col)
        .applyInPandasWithState(first_seen, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def incremental_dedup_to_store(stream_df: DataFrame, store_dir: str,
                               key_col: str = "text_hash",
                               query_name: str = "incremental_dedup"):
    """Exactly-once incremental dedup against a PERSISTENT seen-key
    store — the production pattern for deduplicating continuous ingest
    against the full historical corpus (not just this run's state
    store): per micro-batch, anti-join the batch against the parquet
    seen-store, append only novel keys.

    Exactly-once mechanics: ``foreachBatch`` stamps every appended row
    with its ``batch_id``; on restart/replay of a batch the write is
    made idempotent by first dropping rows already recorded for that
    ``batch_id`` (read-filter guard — the parquet-level equivalent of
    the "skip if batchId committed" transaction a table format would
    provide). Within a batch, duplicates collapse via dropDuplicates.

    At 100 TB the seen-store is a bucketed-by-key table so the
    anti-join is exchange-free on the store side; here it is plain
    parquet. Raises ``TimeoutError`` when the stream does not finish
    in time."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _append_once(batch_df.select(key_col).dropDuplicates([key_col]),
                     store_dir, batch_id, anti_key=key_col)

    _run_foreach_batch(stream_df, write_batch, store_dir, query_name)


def incremental_counts_to_store(stream_df: DataFrame, store_dir: str,
                                key_col: str = "word",
                                query_name: str = "incremental_counts"):
    """Continuously-maintained aggregate against a PERSISTENT store —
    the production pattern for keeping a corpus-wide statistic (word
    counts, per-source doc counts) current under continuous ingest
    without ever re-scanning history: per micro-batch, aggregate the
    batch (map-side partials only — batch-sized, not history-sized),
    merge with the store's running totals via a full-outer sum, and
    publish a NEW immutable store version ``v<batch_id>``.

    Exactly-once mechanics: a version counts as committed only when its
    ``_SUCCESS`` marker exists (Spark writes it at job commit, after
    every part file) — the directory name alone is NOT the commit
    record, because a crash mid-write leaves a partial ``v<batch_id>``
    dir that a replayed batch must rewrite, not skip. A replayed batch
    that finds the marker is a no-op; one that finds a torn dir
    overwrites it (same idempotence contract as
    :func:`incremental_dedup_to_store`, with a directory swap instead
    of an append guard because counts MERGE rather than union).
    Readers likewise only see ``_SUCCESS``-committed versions. At
    scale, old versions are the time-travel history; compact/expire
    them like any table-format checkpoint. Raises ``TimeoutError`` when
    the stream does not finish in time."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vname = f"v{batch_id:010d}"
        vs = _committed_versions(store_dir)
        if vname in vs:
            return  # batch already committed — replay is a no-op
        # not committed: a partial dir from a crashed attempt may
        # exist; mode("overwrite") below replaces it atomically enough
        # for a store whose readers gate on _SUCCESS
        merged = batch_df.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("cnt"))
        if vs:
            prev = spark.read.parquet(os.path.join(store_dir, vs[-1]))
            merged = (
                merged.withColumnRenamed("cnt", "_new")
                .join(prev, key_col, "full_outer")
                .select(key_col,
                        (F.coalesce(F.col("_new"), F.lit(0))
                         + F.coalesce(F.col("cnt"), F.lit(0))).alias("cnt")))
        merged.write.mode("overwrite").parquet(
            os.path.join(store_dir, vname))

    _run_foreach_batch(stream_df, write_batch, store_dir, query_name)


def _committed_versions(store_dir: str) -> list[str]:
    """A count store's committed (``_SUCCESS``-marked) versions, oldest
    first."""
    if not os.path.isdir(store_dir):
        return []
    return sorted(
        d for d in os.listdir(store_dir)
        if d.startswith("v") and d[1:].isdigit()
        and os.path.exists(os.path.join(store_dir, d, "_SUCCESS")))


def read_count_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Latest committed (``_SUCCESS``-marked) version of an
    :func:`incremental_counts_to_store` store. Raises ``ValueError``
    when the store has no committed version yet."""
    versions = _committed_versions(store_dir)
    if not versions:
        raise ValueError(
            f"read_count_store: no committed version in {store_dir!r}")
    return spark.read.parquet(os.path.join(store_dir, versions[-1]))


def neardup_candidates_stream(doc_stream: DataFrame, banded_index: DataFrame,
                              k: int = 3, num_perm: int = 16,
                              bands: int = 4, id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """At-ingest near-dup candidate lookup: each arriving document is
    MinHash-signed and LSH-banded STATELESSLY (per-row expression — no
    streaming aggregation, no state store), then joined stream-static
    against the banded index of the existing corpus →
    ``(doc_id, band, cand_id)`` rows for every bucket collision.

    This is the production shape for incremental dedup at ingest:
    signatures/bands for history live in a (periodically compacted)
    index table; a new document only ever touches the band buckets it
    collides with. Append-mode-safe (stateless narrow ops + inner
    stream-static join); the dedup DECISION (verify Jaccard, pick
    canonical) stays in the batch layer where both sides' signatures
    are available.

    The per-row signature expression is bit-identical to the batch
    ``dedup.minhash_signatures`` aggregate (same shingles, same affine
    maps, same empty-doc sentinel), so the batch band self-join is the
    oracle. The banded index side arrives pre-banded via
    ``dedup.band_signatures`` — the stream never recomputes history.
    """
    banded = band_stream(doc_stream, k, num_perm, bands, id_col, text_col)
    idx = banded_index.select(F.col(id_col).alias("cand_id"),
                              "band", "bucket")
    return (banded.join(idx, ["band", "bucket"])
            .filter(F.col(id_col) != F.col("cand_id"))
            .select(id_col, "band", "cand_id"))


def band_stream(doc_stream: DataFrame, k: int = 3, num_perm: int = 16,
                bands: int = 4, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Stateless per-row MinHash banding of a document stream →
    ``(id, band, bucket)`` — the shared front half of
    :func:`neardup_candidates_stream` (lookup) and
    :func:`incremental_band_index_to_store` (index maintenance).
    The shingle-hash array is hoisted into its own projection (HOF
    lambdas inline with no CSE — the winnowing lesson)."""
    from ..functions.hashing import minhash_expr, portable_hash64, shingles_expr
    from ..operators.dedup import band_signatures

    hashed = doc_stream.select(
        F.col(id_col),
        F.transform(shingles_expr(F.col(text_col), k=k),
                    lambda s: portable_hash64(s)).alias("_h"))
    signed = hashed.select(F.col(id_col),
                           minhash_expr(F.col("_h"), num_perm).alias("sig"))
    return band_signatures(signed, id_col, num_perm, bands)


def incremental_band_index_to_store(doc_stream: DataFrame, store_dir: str,
                                    k: int = 3, num_perm: int = 16,
                                    bands: int = 4, id_col: str = "doc_id",
                                    text_col: str = "text",
                                    query_name: str = "band_index"):
    """Incrementally maintained LSH band index — the persistent side of
    the at-ingest dedup deployment: every arriving document's band rows
    append to the store that :func:`neardup_candidates_stream` probes,
    so history never recomputes and the index is always one micro-batch
    behind ingest.

    Band rows are immutable facts keyed by document, so the store is
    APPEND-only (no merge): exactly-once comes from the same
    ``batch_id``-stamp + replay-filter guard as
    :func:`incremental_dedup_to_store` — a replayed batch whose
    ``batch_id`` already appears in the store is a no-op. At scale the
    store is bucketed by ``bucket`` so the candidate probe join is
    exchange-free on the index side; compaction rewrites old batch
    files without touching the guard column. Raises ``TimeoutError``
    when the stream does not finish in time."""
    banded = band_stream(doc_stream, k, num_perm, bands, id_col, text_col)
    _run_foreach_batch(
        banded, lambda batch_df, batch_id: _append_once(
            batch_df, store_dir, batch_id),
        store_dir, query_name)


def hourly_profile_stream(events: DataFrame) -> DataFrame:
    """Continuously-maintained hour-of-day profile — a COMPLETE-mode
    GLOBAL aggregation (no event-time window, no watermark): state is
    one row per (type, hour) ≤ 24·|types| forever, so unbounded state
    is the CORRECT choice here — the profile is a running total over
    all history by definition. Decimal value sums keep micro-batch
    merge order irrelevant (the batch ``events.hourly_profile`` is the
    oracle)."""
    return (events.groupBy(F.col("event_type"),
                           F.hour(F.col("ts")).cast("int").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).alias("_tot")))


def range_join_stream(events: DataFrame, windows: DataFrame,
                      bin_seconds: int = 3600) -> DataFrame:
    """STREAMING range join against a static interval table →
    per-window ``(w_type, w_lo, n_events, total_value)`` totals.

    A stream-static THETA join (``ts BETWEEN lo AND hi`` with no equi
    key) would nested-loop every micro-batch against the static side.
    The bin-bucketed rewrite (``operators.events.range_join_binned``)
    is what makes the range join streamable as a plain stateless
    stream-static EQUI join: the stream maps narrowly to its bin, the
    static side pre-explodes its intervals over covered bins and
    broadcasts, and the exact containment filter runs post-join. No
    watermark and no join state store — only the final aggregation is
    stateful, and its key space is the (tiny) window table. The value
    total is an exact decimal sum, so the streamed result matches the
    batch theta-join oracle bit-for-bit regardless of micro-batch
    boundaries."""
    from ..operators.events import floor_bin_expr
    bin_us = int(bin_seconds) * 1_000_000
    binned = events.withColumn(
        "_bin", floor_bin_expr("unix_micros(ts)", bin_us))
    iv = windows.withColumn("_bin", F.explode(F.sequence(
        floor_bin_expr("unix_micros(lo)", bin_us),
        floor_bin_expr("unix_micros(hi) - 1", bin_us))))
    joined = (binned.join(F.broadcast(iv), "_bin")
              .filter((F.col("ts") >= F.col("lo"))
                      & (F.col("ts") < F.col("hi"))))
    return (joined.groupBy("w_type", F.col("lo").alias("w_lo"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .alias("total_value")))


def asof_enrich_stream(views: DataFrame, purchases: DataFrame,
                       hi_cap, bin_seconds: int = 3600) -> DataFrame:
    """STREAMING backward as-of join against a static table — every
    streamed ``view`` event enriched with the same user's most recent
    ``purchase`` at-or-before it → ``(user_id, event_id, ts,
    last_purchase_id, gap_us)``, stateless append mode.

    The batch as-of (union-sort-carry, ``operators.events.asof_join``)
    needs a total per-user time order — impossible on an unbounded
    stream without state. The streamable rewrite INTERVAL-IZES the
    static side instead: purchase ``p`` covers ``[p_ts, next_p_ts)``
    (lead over the static table; the open last interval caps at
    ``hi_cap``, a static scalar past every possible event time), so
    "most recent purchase ≤ ts" becomes INTERVAL CONTAINMENT — and
    containment is exactly the binned range join: the static intervals
    pre-explode over covered bins and broadcast, the stream maps
    narrowly to its bin, the equi join runs on (bin, user_id), and the
    exact ``lo <= ts < hi`` filter closes it. Per-user intervals are
    disjoint, so each view matches at most once — no state store, no
    watermark, no dedup. Ties (several purchases at one timestamp):
    the interval build orders by (ts, event_id), so the highest
    event_id at that instant owns the interval — deterministic."""
    iv = (purchases
          .select("user_id", F.col("event_id").alias("purchase_id"),
                  F.col("ts").alias("lo"))
          .withColumn("hi", F.lead("lo").over(
              Window.partitionBy("user_id").orderBy("lo", "purchase_id")))
          .withColumn("hi", F.coalesce(F.col("hi"),
                                       F.lit(hi_cap).cast("timestamp"))))
    from ..operators.events import floor_bin_expr
    bin_us = int(bin_seconds) * 1_000_000
    ivb = iv.withColumn("_bin", F.explode(F.sequence(
        floor_bin_expr("unix_micros(lo)", bin_us),
        floor_bin_expr("unix_micros(hi) - 1", bin_us))))
    vb = views.withColumn("_bin", floor_bin_expr("unix_micros(ts)", bin_us))
    j = (vb.join(F.broadcast(ivb), ["_bin", "user_id"])
         .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi"))))
    return j.select(
        "user_id", "event_id", "ts",
        F.col("purchase_id").alias("last_purchase_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("lo")))
        .alias("gap_us"))


def funnel_stage_stream(df: DataFrame, user_col: str = "user_id",
                        type_col: str = "event_type",
                        stages: tuple = ("view", "click", "purchase"),
                        ttl_minutes: float | None = None) -> DataFrame:
    """Custom stateful streaming operator: per-user MONOTONE funnel
    progression — emit a row each time a user first reaches a deeper
    funnel stage → ``(user_id, stage_idx, stage)``. The incremental
    twin of the batch funnel: downstream consumers see stage-
    advancement EVENTS instead of recomputing the funnel per batch.

    Built on ``applyInPandasWithState`` (Arrow-batched GroupState):
    state is ONE integer per user (deepest stage index), so the store
    grows with |users|, never stream length. Within a micro-batch the
    semantics are deliberately ORDER-INSENSITIVE — the set of stages
    present is compared against the state and every newly exceeded
    stage is emitted in ascending order — so results don't depend on
    intra-batch row order (deterministic under any file/shuffle
    order).

    ``ttl_minutes``: abandonment horizon. ``None`` (default) keeps
    state forever (NoTimeout — suits bounded user populations or
    replays). A number arms a ProcessingTimeTimeout refreshed on every
    batch in which the user appears; a user idle past the TTL has
    their state EVICTED on the next micro-batch, bounding the store by
    |users active within the horizon| instead of all-time |users|.
    After eviction the funnel restarts from stage 0 — the correct
    semantics for an abandonment model, and the 100 TB knob: an
    unbounded stream with unbounded user churn MUST set a TTL or the
    state store grows without bound."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stage_list = list(stages)
    idx = {s: i + 1 for i, s in enumerate(stage_list)}
    out_schema = T.StructType([
        T.StructField(user_col, T.LongType()),
        T.StructField("stage_idx", T.IntegerType()),
        T.StructField("stage", T.StringType()),
    ])
    state_schema = T.StructType([T.StructField("deepest", T.IntegerType())])
    ttl_ms = None if ttl_minutes is None else max(
        1, int(ttl_minutes * 60_000))
    timeout_conf = (GroupStateTimeout.NoTimeout if ttl_ms is None
                    else GroupStateTimeout.ProcessingTimeTimeout)

    def advance(key, pdfs, state):
        import pandas as pd
        if ttl_ms is not None and state.hasTimedOut:
            # Idle past the horizon with no data this batch: evict.
            state.remove()
            return
        present: set = set()
        for pdf in pdfs:
            present.update(pdf[type_col].unique().tolist())
        cur = state.get[0] if state.exists else 0
        new = sorted(i for s, i in idx.items() if s in present and i > cur)
        if new:
            state.update((int(new[-1]),))
        if ttl_ms is not None and state.exists:
            # Activity-based TTL: any appearance refreshes the clock.
            state.setTimeoutDuration(ttl_ms)
        if new:
            yield pd.DataFrame({
                user_col: [key[0]] * len(new),
                "stage_idx": new,
                "stage": [stage_list[i - 1] for i in new],
            })

    return (df.filter(F.col(type_col).isin(stage_list))
            .groupBy(user_col)
            .applyInPandasWithState(advance, out_schema, state_schema,
                                    "append", timeout_conf))
