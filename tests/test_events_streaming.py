"""Event operators: golden gap-sessionization, tumbling buckets, and the
Structured Streaming variant agreeing with its batch oracle."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import events as E
from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
    events_stream_from_files,
    run_stream,
    tumbling_counts_stream,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(i, T0 + dt.timedelta(seconds=s), uid, et, v, "{}")
         for i, (s, uid, et, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string")


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ev") / "events")
    rows = [
        (0, 1, "click", 1.0), (100, 1, "click", 2.0),       # session 0 user 1
        (2000, 1, "view", 3.0),                              # +1900s > 1800 gap -> session 1
        (2100, 1, "click", 4.0),
        (0, 2, "view", 5.0),                                 # user 2, one session
        (7200, 2, "click", 6.0),                             # 2h later -> session 1
    ]
    _mk_events(spark, rows).write.mode("overwrite").parquet(p)
    return p


def test_sessionize_golden(spark, events_path, monkeypatch):
    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    monkeypatch.setattr(ev, "load_table", lambda s, n, d: s.read.parquet(events_path))
    out = [(r["user_id"], r["session_id"], r["n_events"])
           for r in ev.sessionize(spark, "ignored").collect()]
    assert out == [(1, 0, 2), (1, 1, 2), (2, 0, 1), (2, 1, 1)]


def test_tumbling_golden(spark, events_path, monkeypatch):
    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    monkeypatch.setattr(ev, "load_table", lambda s, n, d: s.read.parquet(events_path))
    out = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in ev.tumbling_counts(spark, "ignored").collect()}
    assert out[(T0, "click")] == (2, 3.0)                       # 0s + 100s
    assert out[(T0 + dt.timedelta(seconds=1800), "view")] == (1, 3.0)   # 2000s -> 30:00 bucket
    assert out[(T0 + dt.timedelta(seconds=7200), "click")] == (1, 6.0)


def test_streaming_tumbling_matches_batch(spark, events_path):
    stream = events_stream_from_files(spark, events_path)
    assert stream.isStreaming
    out = run_stream(
        tumbling_counts_stream(stream, minutes=5, watermark="10 minutes"),
        "tumbling_test", "complete")
    got = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in out.collect()}
    batch = spark.read.parquet(events_path).groupBy(
        F.window("ts", "5 minutes").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
    expected = {(r["w"]["start"], r["event_type"]): (r["n"], r["t"]) for r in batch.collect()}
    assert got == expected


def test_streaming_sliding_matches_batch(spark, events_path):
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import sliding_counts_stream
    stream = events_stream_from_files(spark, events_path)
    out = run_stream(
        sliding_counts_stream(stream, minutes=10, slide_minutes=5),
        "sliding_test", "complete")
    got = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in out.collect()}
    batch = spark.read.parquet(events_path).groupBy(
        F.window("ts", "10 minutes", "5 minutes").alias("w"),
        "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
    expected = {(r["w"]["start"], r["event_type"]): (r["n"], r["t"])
                for r in batch.collect()}
    assert got == expected
    # every event is counted in exactly two windows
    n_events = spark.read.parquet(events_path).count()
    assert sum(n for n, _ in got.values()) == 2 * n_events


def test_streaming_sessionize_matches_batch(spark, events_path, monkeypatch):
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import sessionize_stream
    # one micro-batch for all fixture files: the fixture's event times are
    # not ordered across files, so per-file batches would (correctly) drop
    # early events as late-beyond-watermark — not what this test checks
    stream = events_stream_from_files(spark, events_path,
                                      max_files_per_trigger=100)
    out = run_stream(sessionize_stream(stream, gap_minutes=30),
                     "sess_test", "complete")
    got = sorted((r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                 for r in out.collect())
    import text_sentiment_classification_hadoop_spark_spark.operators.events as ev
    monkeypatch.setattr(ev, "load_table", lambda s, n, d: s.read.parquet(events_path))
    want = sorted((r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                  for r in ev.sessionize(spark, "ignored").collect())
    assert got == want


def test_stateful_dedup_stream_first_seen_only(spark, tmp_path_factory):
    """Duplicates across rows AND across micro-batches must be
    suppressed by the GroupState."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import dedup_first_seen_stream
    p = str(tmp_path_factory.mktemp("dd") / "docs")
    spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(50)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(p)
    stream = (spark.readStream
              .schema("doc_id long, text string").parquet(p)
              .select(F.md5("text").alias("text_hash")))
    out = run_stream(dedup_first_seen_stream(stream), "dd_test", "append")
    got = sorted(r["text_hash"] for r in out.collect())
    want = sorted({r["h"] for r in spark.read.parquet(p)
                   .select(F.md5("text").alias("h")).collect()})
    assert got == want and len(got) == 7


def test_native_dedup_stream_matches_custom(spark, tmp_path_factory):
    """dropDuplicates (JVM state) and the applyInPandasWithState custom
    operator must emit the identical first-seen key set."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import dedup_native_stream
    p = str(tmp_path_factory.mktemp("ddn") / "docs")
    spark.createDataFrame(
        [(i, f"text {i % 9}") for i in range(60)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(p)
    stream = (spark.readStream
              .schema("doc_id long, text string").parquet(p)
              .select(F.md5("text").alias("text_hash")))
    out = run_stream(dedup_native_stream(stream), "ddn_test", "append")
    got = sorted(r["text_hash"] for r in out.collect())
    want = sorted({r["h"] for r in spark.read.parquet(p)
                   .select(F.md5("text").alias("h")).collect()})
    assert got == want and len(got) == 9


def test_real_events_table(spark, sf_dir):
    tw = E.tumbling_counts(spark, sf_dir)
    assert tw.count() > 0
    sess = E.sessionize(spark, sf_dir)
    assert sess.filter(F.col("session_end") < F.col("session_start")).count() == 0
    piv = E.user_event_pivot(spark, sf_dir)
    assert set(piv.columns) == {"user_id", "click", "error", "purchase", "signup", "view"}


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must produce exactly
    the batch theta-join pairs (file replay has no late data, so the
    watermark drops nothing)."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream, purchase_click_join_stream)
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    raw = events_raw_stream(spark, sf_dir)
    out = run_stream(purchase_click_join_stream(raw), "ssj_test", "append")
    got = sorted((r["purchase_id"], r["click_id"], r["gap_us"])
                 for r in out.collect())
    e = load_table(spark, "events", sf_dir)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"))
    want = sorted(
        (r["purchase_id"], r["click_id"], r["gap_us"]) for r in
        p.join(c, (F.col("cu") == F.col("pu"))
               & (F.col("cts") <= F.col("pts"))
               & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 5 MINUTES")))
        .select("purchase_id", "click_id",
                (F.unix_micros("pts") - F.unix_micros("cts")).alias("gap_us"))
        .collect())
    assert got == want and len(got) > 0


def test_incremental_dedup_store_exactly_once(spark, tmp_path):
    """Persistent seen-store dedup across RESTARTED streams: novel keys
    append once, historical keys suppress, replays are no-ops."""
    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "text_hash string"
    spark.createDataFrame([("h1",), ("h2",), ("h2",)], schema) \
        .write.mode("append").parquet(src)
    P.incremental_dedup_to_store(
        spark.readStream.schema(schema).parquet(src), store)
    rows1 = spark.read.parquet(store).collect()
    assert {r["text_hash"] for r in rows1} == {"h1", "h2"}
    assert len(rows1) == 2                      # in-batch dup collapsed
    # second run (same checkpoint): only the new file is processed,
    # h2 is suppressed by the historical store, h3 appends
    spark.createDataFrame([("h2",), ("h3",)], schema) \
        .write.mode("append").parquet(src)
    P.incremental_dedup_to_store(
        spark.readStream.schema(schema).parquet(src), store)
    rows2 = spark.read.parquet(store).collect()
    assert {r["text_hash"] for r in rows2} == {"h1", "h2", "h3"}
    assert len(rows2) == 3
    # idle re-run: no new files, store unchanged
    P.incremental_dedup_to_store(
        spark.readStream.schema(schema).parquet(src), store)
    assert spark.read.parquet(store).count() == 3


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Real watermark semantics, per-batch: the watermark computed from
    batch N's data takes effect for filtering in batch N+1 (one batch
    of propagation lag), so the late event rides in the THIRD file.
    The finalized window must exclude it and the state operator must
    report exactly one watermark-dropped row."""
    import os
    import time
    p = str(tmp_path / "late_ev")
    os.makedirs(p, exist_ok=True)
    # batch 0: events at +0s and +3600s -> watermark becomes 3000s
    _mk_events(spark, [(0, 1, "click", 1.0), (3600, 1, "click", 2.0)]) \
        .coalesce(1).write.mode("append").parquet(p)
    time.sleep(1.1)          # distinct mtimes => file (= batch) order
    # batch 1: on-time event; runs with wm=3000s, finalizes window [0,300)
    _mk_events(spark, [(3700, 1, "click", 3.0)]) \
        .coalesce(1).write.mode("append").parquet(p)
    time.sleep(1.1)
    # batch 2: +100s is below the watermark -> dropped; +3500s accepted
    _mk_events(spark, [(100, 1, "click", 10.0), (3500, 1, "click", 20.0)]) \
        .coalesce(1).write.mode("append").parquet(p)
    stream = events_stream_from_files(spark, p, max_files_per_trigger=1)
    # started here rather than through run_stream: the assertion reads
    # the query's recentProgress
    q = (tumbling_counts_stream(stream, minutes=5, watermark="10 minutes")
         .writeStream.format("memory").queryName("late_test")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        finished = q.awaitTermination(60)
    finally:
        q.stop()
    assert finished
    dropped = sum(pr["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for pr in q.recentProgress if pr["stateOperators"])
    got = {(r["window_start"], r["event_type"]): r["n"]
           for r in spark.sql("select * from late_test").collect()}
    assert dropped == 1
    # the only finalized window is [T0, T0+5min): n=1, late row excluded
    assert got == {(T0, "click"): 1}


def test_incremental_counts_store_exactly_once(spark, tmp_path):
    """Versioned count store: batch partials merge into running totals,
    a new immutable version per batch, replays are no-ops."""
    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "word string"
    spark.createDataFrame([("a",), ("a",), ("b",)], schema) \
        .write.mode("append").parquet(src)
    P.incremental_counts_to_store(
        spark.readStream.schema(schema).parquet(src), store,
        key_col="word", query_name="ic1")
    got1 = {r["word"]: r["cnt"]
            for r in P.read_count_store(spark, store).collect()}
    assert got1 == {"a": 2, "b": 1}
    # second ingest batch merges, doesn't replace
    spark.createDataFrame([("b",), ("c",)], schema) \
        .write.mode("append").parquet(src)
    P.incremental_counts_to_store(
        spark.readStream.schema(schema).parquet(src), store,
        key_col="word", query_name="ic2")
    got2 = {r["word"]: r["cnt"]
            for r in P.read_count_store(spark, store).collect()}
    assert got2 == {"a": 2, "b": 2, "c": 1}
    # no new input: running again must not change the store
    P.incremental_counts_to_store(
        spark.readStream.schema(schema).parquet(src), store,
        key_col="word", query_name="ic3")
    got3 = {r["word"]: r["cnt"]
            for r in P.read_count_store(spark, store).collect()}
    assert got3 == got2


def test_dedup_watermarked_stream_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics: a duplicate arriving
    while its key's state is live is suppressed; once the watermark
    passes the key's event time (advanced by an intermediate batch),
    the state expires and a later duplicate re-emits — bounded state,
    which plain dropDuplicates (suppress-forever) cannot do."""
    import os

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "k string, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(src, name))

    from datetime import datetime as dt
    write_file("b1", [("A", dt(2024, 1, 1, 0, 0))])
    # advances the watermark far past A@t0 + the 10-minute delay
    write_file("b2", [("F", dt(2024, 1, 1, 1, 0))])
    # state eviction applies the advanced watermark one batch later, so
    # a spacer batch sits between the advance and the re-arrival
    write_file("b3", [("G", dt(2024, 1, 1, 1, 2))])
    # A again, far past the horizon — state expired, re-emit (its
    # same-batch duplicate still suppressed)
    write_file("b4", [("A", dt(2024, 1, 1, 1, 5)),
                      ("A", dt(2024, 1, 1, 1, 5))])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*/"))
    out = P.run_stream(
        P.dedup_watermarked_stream(stream, ["k"], delay="10 minutes"),
        "dedup_wm_state", "append")
    got = sorted((r["k"], str(r["ts"])) for r in out.collect())
    assert [k for k, _ in got] == ["A", "A", "F", "G"]


def test_incremental_counts_store_heals_torn_version(spark, tmp_path):
    """A crash mid-parquet-write leaves a version dir WITHOUT _SUCCESS;
    the replayed batch must rewrite it (not skip it as committed), and
    readers must never select it."""
    import os

    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "word string"
    spark.createDataFrame([("a",), ("a",), ("b",)], schema) \
        .write.mode("append").parquet(src)
    # simulate the torn first-batch write: garbage part file, no marker
    torn = os.path.join(store, "v0000000000")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    P.incremental_counts_to_store(
        spark.readStream.schema(schema).parquet(src), store,
        key_col="word", query_name="ic_torn")
    got = {r["word"]: r["cnt"]
           for r in P.read_count_store(spark, store).collect()}
    assert got == {"a": 2, "b": 1}
    assert os.path.exists(os.path.join(torn, "_SUCCESS"))


def test_stream_static_enrich_matches_batch(spark, events_path):
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        enrich_stream_static,
    )
    dim = spark.createDataFrame(
        [(1, "GOLD")], "user_id long, segment string")  # user 2 -> UNKNOWN
    stream = events_stream_from_files(spark, events_path)
    out = run_stream(enrich_stream_static(stream, dim), "enrich_test",
                     "complete")
    got = {(r["segment"], r["event_type"]): (r["n"], float(r["total_value"]))
           for r in out.collect()}
    assert got == {
        ("GOLD", "click"): (3, 7.0),
        ("GOLD", "view"): (1, 3.0),
        ("UNKNOWN", "view"): (1, 5.0),
        ("UNKNOWN", "click"): (1, 6.0),
    }


def test_incremental_band_index_store(spark, tmp_path):
    """Band-index maintenance: appended band rows across restarted
    streams equal the batch band_signatures of all ingested docs, and
    an idle re-run appends nothing."""
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "band_store")
    schema = "doc_id long, text string"
    batch1 = [(1, "alpha beta gamma delta epsilon"),
              (2, "alpha beta gamma delta epsilon")]
    batch2 = [(3, "one two three four five six")]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    P.incremental_band_index_to_store(
        spark.readStream.schema(schema).parquet(src), store)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    P.incremental_band_index_to_store(
        spark.readStream.schema(schema).parquet(src), store)
    # idle re-run: no new files -> store unchanged
    n_before = spark.read.parquet(store).count()
    P.incremental_band_index_to_store(
        spark.readStream.schema(schema).parquet(src), store)
    assert spark.read.parquet(store).count() == n_before

    got = sorted(map(tuple, spark.read.parquet(store)
                 .select("doc_id", "band", "bucket").collect()))
    all_docs = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(map(tuple,
        D.band_signatures(D.minhash_signatures(all_docs))
        .select("doc_id", "band", "bucket").collect()))
    assert got == want

    # the stored index drives the at-ingest lookup: docs 1 and 2 are
    # exact duplicates, so every band collides — they must surface as
    # each other's candidates deterministically
    idx = spark.read.parquet(store).select("doc_id", "band", "bucket")
    stream = spark.readStream.schema(schema).parquet(src)
    cands = {(r["doc_id"], r["cand_id"]) for r in P.run_stream(
        P.neardup_candidates_stream(stream, idx),
        "band_store_lookup", "append").collect()}
    assert (1, 2) in cands and (2, 1) in cands


def test_stream_range_join_agrees_with_batch(spark, sf_dir):
    """The streamed bin-bucketed range join must equal the batch theta
    join — the binned rewrite is what makes a range join streamable at
    all (a stream-static theta join would nested-loop per micro-batch;
    the equi-on-bin form is a stateless broadcast join)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import busy_windows
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    streamed = [(r["w_type"], r["w_lo"], r["n_events"],
                 round(r["total_value"], 6)) for r in
                em.queries()["stream_range_join"](spark, sf_dir).collect()]
    e = load_table(spark, "events", sf_dir)
    w = busy_windows(spark, sf_dir)
    batch = (e.join(w, (F.col("ts") >= F.col("lo"))
                    & (F.col("ts") < F.col("hi")))
             .groupBy("w_type", F.col("lo").alias("w_lo"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value"))
             .orderBy("w_type", "w_lo"))
    expected = [(r["w_type"], r["w_lo"], r["n_events"],
                 round(r["total_value"], 6)) for r in batch.collect()]
    assert streamed == expected and len(streamed) > 0


def test_funnel_stage_stream_monotone_state_across_batches(
        spark, tmp_path_factory):
    """State carries across micro-batches: a user who 'view'ed in
    batch 1 must NOT re-emit view in batch 2, must emit click when it
    first appears, and a user jumping straight to purchase emits only
    the stages present — ascending, each exactly once."""
    import glob as _glob
    import os as _os

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import funnel_stage_stream
    base = str(tmp_path_factory.mktemp("fn") / "ev")
    schema = "user_id long, event_type string"
    # Each logical batch MUST be exactly one data file (coalesce(1)):
    # with maxFilesPerTrigger=1 a multi-part write would split one
    # user's stages across micro-batches in nondeterministic file
    # order, and the monotone operator would legitimately suppress a
    # late-arriving shallower stage.
    # batch file 1: u1 views; u2 purchases outright; u3 views+clicks
    spark.createDataFrame(
        [(1, "view"), (2, "purchase"), (3, "view"), (3, "click")],
        schema).coalesce(1).write.mode("overwrite").parquet(base + "/f1")
    # batch file 2: u1 views AGAIN (suppressed) then clicks; u3 views
    # again (suppressed); u4 appears with click only
    spark.createDataFrame(
        [(1, "view"), (1, "click"), (3, "view"), (4, "click")],
        schema).coalesce(1).write.mode("overwrite").parquet(base + "/f2")
    # FileStreamSource orders files by modification time (oldest
    # first); pin mtimes so f1 is always the first micro-batch even
    # when both writes land inside one filesystem-timestamp tick.
    for pf in _glob.glob(base + "/f1/*.parquet"):
        _os.utime(pf, (1_000_000_000, 1_000_000_000))
    for pf in _glob.glob(base + "/f2/*.parquet"):
        _os.utime(pf, (1_000_000_100, 1_000_000_100))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(base + "/f*"))
    rows = sorted((r["user_id"], r["stage_idx"], r["stage"]) for r in
                  run_stream(funnel_stage_stream(stream), "funnel_test",
                             "append").collect())
    assert rows == [
        (1, 1, "view"), (1, 2, "click"),
        (2, 3, "purchase"),
        (3, 1, "view"), (3, 2, "click"),
        (4, 2, "click"),
    ]


def test_funnel_stage_stream_ttl_evicts_idle_state(spark, tmp_path_factory):
    """ttl_minutes arms a ProcessingTimeTimeout: a user idle past the
    horizon has their state evicted on the next micro-batch, so a
    re-emitted stage 'view' is RE-reported (funnel restarted) instead
    of suppressed by the stale deepest-stage state. Active users are
    refreshed and keep their monotone suppression."""
    import time

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import funnel_stage_stream

    # ProcessingTimeTimeout makes the engine schedule continuous
    # micro-batches (each batch may fire timeouts), so neither
    # processAllAvailable() nor trigger(availableNow) ever settles —
    # run ONE long-lived default-trigger query and POLL the memory
    # sink for the expected row count instead.
    base = str(tmp_path_factory.mktemp("fnttl") / "ev")
    schema = "user_id long, event_type string"
    stream = spark.readStream.schema(schema).parquet(base + "/f*")
    out = funnel_stage_stream(stream, ttl_minutes=2 / 60)  # 2 s TTL
    q = (out.writeStream.format("memory").queryName("funnel_ttl")
         .outputMode("append").start())

    def wait_rows(n, timeout=90.0):
        t0 = time.time()
        while time.time() - t0 < timeout:
            rows = spark.table("funnel_ttl").collect()
            if len(rows) >= n:
                return rows
            time.sleep(0.5)
        raise AssertionError(
            f"sink stuck at {len(spark.table('funnel_ttl').collect())} "
            f"rows, wanted {n}")

    try:
        # batch 1: u1 and u2 view — states armed with the 2 s TTL
        spark.createDataFrame([(1, "view"), (2, "view")], schema) \
            .coalesce(1).write.mode("overwrite").parquet(base + "/f1")
        wait_rows(2)
        time.sleep(3)  # let both TTLs lapse
        # decoy batch: u9's data forces a micro-batch in which u1/u2
        # have NO data and are past their timeout → both EVICTED here
        # (deterministic: eviction is complete before f3 is written).
        spark.createDataFrame([(9, "view")], schema) \
            .coalesce(1).write.mode("overwrite").parquet(base + "/f2")
        wait_rows(3)
        # batch 3: u1 re-views → state was evicted, the funnel
        # restarted, so 'view' RE-EMITS (NoTimeout would suppress it);
        # u2 clicks → fresh state, click is its first emitted stage.
        spark.createDataFrame([(1, "view"), (2, "click")], schema) \
            .coalesce(1).write.mode("overwrite").parquet(base + "/f3")
        rows = sorted((r["user_id"], r["stage_idx"], r["stage"])
                      for r in wait_rows(5))
    finally:
        q.stop()
    assert rows == [
        (1, 1, "view"), (1, 1, "view"),
        (2, 1, "view"), (2, 2, "click"),
        (9, 1, "view"),
    ]


def test_run_stream_raises_when_out_of_time(spark, events_path, monkeypatch):
    """A stream that has not processed all its input when the wait runs
    out is stopped and raises: the memory sink as it stands would be a
    silently truncated table."""
    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    monkeypatch.setattr(P, "_TIMEOUT_S", 0.001)
    stream = events_stream_from_files(spark, events_path)
    with pytest.raises(TimeoutError, match="timeout_tumbling"):
        run_stream(tumbling_counts_stream(stream), "timeout_tumbling",
                   "complete")
    assert spark.streams.active == []


def test_store_writer_raises_when_out_of_time(spark, tmp_path, monkeypatch):
    """The store writers wait through the same bound: out of time, the
    query is stopped (none left active) and the writer raises."""
    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    src = str(tmp_path / "src")
    spark.createDataFrame([("a",), ("b",)], "word string") \
        .write.mode("append").parquet(src)
    monkeypatch.setattr(P, "_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="ic_timeout"):
        P.incremental_counts_to_store(
            spark.readStream.schema("word string").parquet(src),
            str(tmp_path / "store"), key_col="word", query_name="ic_timeout")
    assert spark.streams.active == []


def test_read_count_store_without_committed_version_raises(spark, tmp_path):
    """A count store with only a torn (unmarked) version has nothing
    committed to read: a named ValueError, not an IndexError."""
    import os

    from text_sentiment_classification_hadoop_spark_spark.streaming import pipeline as P
    store = str(tmp_path / "store")
    os.makedirs(os.path.join(store, "v0000000000"))
    with pytest.raises(ValueError, match="no committed version"):
        P.read_count_store(spark, store)
