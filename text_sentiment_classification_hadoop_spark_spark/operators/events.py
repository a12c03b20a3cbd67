"""Event-stream operators (batch form) over the ``events`` table:
tumbling windows, sessionization, per-user pivots, JSON prop access.

The Structured Streaming variants (same logical aggregations with
watermarks) live in ``streaming.pipeline``; these batch forms are the
oracle-checkable semantics.

Scale notes: windowed aggregation shuffles once on (window, key);
sessionization shuffles once on user_id then runs a per-user sort —
both AQE-coalesced. Time bucketing is epoch arithmetic (codegen), not a
UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dsum, pround
from ..functions.rounding import sql_ir38 as _ir38
from ..sources.tables import load_table


def tumbling_counts(spark: SparkSession, sf_dir: str,
                    minutes: int = 5) -> DataFrame:
    """Tumbling-window counts/sums per event_type →
    ``(window_start, event_type, n, total_value)``.

    Bucket = epoch-floor arithmetic, equivalent to
    ``F.window(ts, '5 minutes')`` but trivially mirrored in ANSI SQL."""
    return tumbling_counts_df(load_table(spark, "events", sf_dir), minutes)


def tumbling_counts_df(e: DataFrame, minutes: int = 5) -> DataFrame:
    """DataFrame-level form of :func:`tumbling_counts` — reusable over
    any events source (parquet, the JSON roundtrip, a stream's batch
    twin)."""
    secs = minutes * 60
    # ts.cast(double) = fractional epoch seconds (unix_timestamp would
    # truncate sub-second parts and disagree with the oracle's epoch()).
    bucket = F.to_timestamp(F.floor(F.col("ts").cast("double") / secs) * secs)
    return (
        e.groupBy(bucket.alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("value")).alias("total_value"))
        .orderBy("window_start", "event_type")
    )


def sliding_counts(spark: SparkSession, sf_dir: str,
                   minutes: int = 10, slide_minutes: int = 5) -> DataFrame:
    """Sliding (hopping) window counts/sums per event_type →
    ``(window_start, event_type, n, total_value)``; each event lands in
    ``minutes / slide_minutes`` overlapping windows.

    Uses the native ``F.window(ts, duration, slide)`` table-valued
    generator (the same primitive the streaming pipeline uses), so the
    plan is one generate + one hash aggregate — the event fan-out factor
    is the constant D/S, not data-dependent. Oracle mirrors it as a
    UNION ALL of D/S shifted tumbling aggregations."""
    e = load_table(spark, "events", sf_dir)
    win = F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str,
                          rsd: float = 0.01) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event_type →
    ``(event_type, n_users_approx, n_users_exact)``.

    ``approx_count_distinct`` is the 100 TB path for §2.5 A5-style
    distinct counts: mergeable fixed-size sketch, one shuffle of
    sketches (bytes per partition) instead of a shuffle of every
    distinct key the exact form needs. Deterministic for a given
    input, but implementation-specific — so this query is rows-only
    (no cross-engine oracle); the pytest bounds its relative error
    against the exact count computed alongside."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
             F.countDistinct("user_id").alias("n_users_exact"))
        .orderBy("event_type")
    )


def sessionize(spark: SparkSession, sf_dir: str,
               gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization → one row per (user, session):
    ``(user_id, session_id, session_start, session_end, n_events)``.

    Classic lag + cumulative-sum-of-boundaries; one shuffle on user_id,
    per-user time sort within partitions."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = gap_minutes * 60
    with_bounds = e.select(
        "user_id", "ts", "event_id",
        F.when(
            (F.col("ts").cast("double")
             - F.lag("ts").over(w).cast("double")) > gap, 1
        ).otherwise(0).alias("_new_session"),
    )
    with_ids = with_bounds.withColumn(
        "session_id",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_ids.groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type counts per user (explicit value list so the
    output schema is static — required for both the oracle and any
    100 TB run; never let pivot infer values with a scan)."""
    e = load_table(spark, "events", sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


def user_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) coverage — the inverse of :func:`user_event_pivot`:
    the wide per-user count matrix melts back to long
    ``(user_id, event_type, n)``, zero-count cells dropped. The
    wide→long reshape every feature store needs when a model wants
    sparse long form but the serving table is a pivoted matrix.

    Spark's native ``unpivot`` lowers to a single Expand node — one
    narrow pass over the wide frame, |values| output rows per input
    row, no shuffle beyond the pivot's own; the oracle mirrors with
    UNION ALL arms (static value list, same discipline as the pivot).
    """
    types = ["click", "error", "purchase", "signup", "view"]
    wide = user_event_pivot(spark, sf_dir)
    return (wide.unpivot("user_id", types, "event_type", "n")
            .filter(F.col("n") > 0)
            .select("user_id", "event_type", F.col("n").cast("long").alias("n"))
            .orderBy("user_id", "event_type"))


def user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered window analytics (north-star window functions,
    §2.11): event sequence number, gap to the previous event in exact
    microseconds, and the running sum of ``value`` →
    ``(user_id, event_id, seq, gap_us, running_value)``.

    One shuffle on user_id, then a per-user sort feeds all three window
    functions in a single Window node. Gap is integer microseconds
    (``unix_micros``) — exact, no floating-point timestamp math. The
    running sum's addition order is pinned by the (ts, event_id) sort,
    so the double result is deterministic."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        e.select(
            "user_id", "event_id",
            F.row_number().over(w).alias("seq"),  # INT; oracle casts to match
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            .alias("gap_us"),
            pround(F.sum("value").over(run), 6).alias("running_value"),
        )
        .orderBy("user_id", "seq")
    )


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (north-star operator Spark lacks natively, §2.11):
    for every ``purchase`` event, the most recent ``click`` by the same
    user at-or-before the purchase →
    ``(purchase_id, user_id, purchase_ts, last_click_ts, gap_us)``.

    Implemented the scale-correct way — NOT a theta join: union both
    sides, one shuffle on user_id, one per-user time sort, then
    ``last(click_ts, ignorenulls)`` carried forward. Cost is
    O(n log n_partition) with a single exchange; the naive
    ``c.ts <= p.ts`` join the ANSI oracle uses would be quadratic per
    user at 100 TB. Ties (click and purchase at the same ts) order the
    click first, matching the oracle's inclusive ``c.ts <= p.ts``."""
    e = load_table(spark, "events", sf_dir)
    sides = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("_is_p"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("_click_ts"),
    )
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "_is_p", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = sides.withColumn(
        "last_click_ts", F.last("_click_ts", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("_is_p") == 1)
        .select(
            F.col("event_id").alias("purchase_id"), "user_id",
            F.col("ts").alias("purchase_ts"), "last_click_ts",
            (F.unix_micros("ts") - F.unix_micros("last_click_ts"))
            .alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


INTERVAL_JOIN_WINDOW_US = 300_000_000  # 5 minutes


def interval_pair_counts(spark: SparkSession, sf_dir: str,
                         window_us: int = INTERVAL_JOIN_WINDOW_US) -> DataFrame:
    """Time-interval self-join (north-star range-join coverage, §2.11):
    count ordered pairs of same-user events within ``window_us`` of
    each other → ``(user_id, n_pairs, sum_gap_us)``.

    Scale shape — bucketized equi-join, NOT a theta join: each left
    event is duplicated into time buckets ``⌊ts/W⌋`` and ``⌊ts/W⌋+1``;
    the right side keeps its single bucket; the join key is
    ``(user_id, bucket)`` — an equi-join Spark hash-partitions — and
    the exact ``0 ≤ gap ≤ W`` predicate filters the candidates. A
    qualifying pair matches in exactly one bucket (the right event's),
    so no dedup pass is needed. Cost is O(events × 2) shuffle rows vs
    the oracle's quadratic-per-user ANSI theta join; at 100 TB the
    theta form is not runnable, this is. Pair order is (earlier →
    later), ties broken by event_id, so each unordered pair counts
    once."""
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"))
    bucket = (F.col("us") / F.lit(window_us)).cast("long")
    left = e.select(
        "user_id",
        F.col("event_id").alias("a_id"), F.col("us").alias("a_us"),
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
    )
    right = e.select(
        "user_id",
        F.col("event_id").alias("b_id"), F.col("us").alias("b_us"),
        bucket.alias("bk"),
    )
    gap = F.col("b_us") - F.col("a_us")
    ordered = (F.col("a_us") < F.col("b_us")) | (
        (F.col("a_us") == F.col("b_us")) & (F.col("a_id") < F.col("b_id")))
    return (
        left.join(right, ["user_id", "bk"])
        .filter(ordered & (gap <= window_us))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum(gap).alias("sum_gap_us"))
        .orderBy("user_id")
    )


def multitouch_attribution(spark: SparkSession, sf_dir: str,
                           window_us: int = INTERVAL_JOIN_WINDOW_US
                           ) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    evenly across the same user's clicks in the preceding window →
    ``(purchase_id, n_touches, credit_per_touch_micro,
    residual_micro)`` — the credit-division upgrade of the last-touch
    ``purchase_attribution`` / first-touch ``next_click_attribution``
    pair.

    Credit arithmetic is exact BIGINT: value is quantized to micro
    units once (``floor(value·1e6 + 0.5)``), per-touch credit is
    ``v div n`` and the division remainder is surfaced as
    ``residual_micro`` (conservation: ``n·credit + residual == v`` —
    nothing silently rounds away, the property the pytest pins).

    Scale shape: the same bucketized equi-join as
    :func:`interval_pair_counts` — purchases explode into the two
    covering time buckets, clicks keep one, the join key is
    ``(user_id, bucket)``, and the exact window predicate prunes
    candidates; zero-touch purchases re-enter via a left join onto the
    purchase table. Never a theta join (the oracle's quadratic form is
    the spec, not the plan)."""
    e = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("us"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("us").alias("p_us"),
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long").alias("v_micro"))
    bucket = (F.col("us") / F.lit(window_us)).cast("long")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("c_us"), bucket.alias("bk"))
    pb = (F.col("p_us") / F.lit(window_us)).cast("long")
    pl = p.select("purchase_id", "user_id", "p_us",
                  F.explode(F.array(pb - 1, pb)).alias("bk"))
    gap = F.col("p_us") - F.col("c_us")
    touches = (
        pl.join(c, ["user_id", "bk"])
        .filter((gap >= 0) & (gap <= window_us))
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = F.coalesce(F.col("n"), F.lit(0)).cast("long")
    credit = F.when(n > 0, F.expr("v_micro div n")).otherwise(F.lit(0)) \
        .cast("long")
    return (
        p.join(touches, "purchase_id", "left")
        .select("purchase_id", n.alias("n_touches"),
                credit.alias("credit_per_touch_micro"),
                (F.col("v_micro") - n * credit).alias("residual_micro"))
        .orderBy("purchase_id")
    )


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON access on the ``props`` string column (north-star JSON
    functions): extract ``$.k`` as int, aggregate by event_type."""
    e = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("sum_k"),
             F.max("k").alias("max_k"))
        .orderBy("event_type")
    )


def session_window_native(spark: SparkSession, sf_dir: str,
                          gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE ``session_window``
    grouping (3.2+) → ``(user_id, session_start, session_end,
    n_events)`` — the engine-level twin of :func:`sessionize`'s
    lag/cumsum form; Catalyst plans it as a single UpdatingSessionsExec
    + merge aggregate, one shuffle on the session key.

    Boundary semantics: ``session_window`` chains events with gap
    STRICTLY below the gap duration, while the lag/cumsum form breaks
    on ``gap > 1800s`` (inclusive chain) — the two differ only for a
    gap of exactly 1800.000000s (none exist in the testdata at any SF;
    verified).  ``session_end`` here is max(ts), not the window's
    ts+gap upper bound, to keep the output oracle-comparable."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("user_id",
                  F.session_window("ts", f"{gap_minutes} minutes").alias("sw"))
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


def next_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the mirror of :func:`purchase_attribution`:
    for every purchase, the first ``click`` by the same user at-or-after
    it → ``(purchase_id, user_id, purchase_ts, next_click_ts, gap_us)``
    (the post-purchase-engagement query).

    Same linear shape: union both sides, one user_id shuffle, one
    per-user time sort, ``first(click_ts, ignorenulls)`` over the
    FORWARD frame. Ties (click at the purchase's exact ts) order the
    purchase first so the frame includes the click — inclusive
    ``c.ts >= p.ts``, matching the oracle."""
    e = load_table(spark, "events", sf_dir)
    sides = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "click").cast("int").alias("_is_c"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("_click_ts"),
    )
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "_is_c", "event_id")
         .rowsBetween(0, Window.unboundedFollowing))
    carried = sides.withColumn(
        "next_click_ts", F.first("_click_ts", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("_is_c") == 0)
        .select(
            F.col("event_id").alias("purchase_id"), "user_id",
            F.col("ts").alias("purchase_ts"), "next_click_ts",
            (F.unix_micros("next_click_ts") - F.unix_micros("ts"))
            .alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


def asof_join(left: DataFrame, right: DataFrame, by: str,
              left_ts: str = "ts", right_ts: str = "ts",
              direction: str = "backward",
              right_prefix: str = "r_") -> DataFrame:
    """Generic as-of join — the reusable operator behind
    :func:`purchase_attribution` / :func:`next_click_attribution`: for
    every left row, attach the right row with the largest
    ``right_ts ≤ left_ts`` (``direction="backward"``, inclusive) or the
    smallest ``right_ts ≥ left_ts`` (``"forward"``) sharing the ``by``
    key. Output = all left columns + every right column (ts included)
    under ``right_prefix``, NULL when no match exists.

    Scale shape (same as the attribution queries): union both sides,
    ONE shuffle on ``by``, one per-key time sort, then a single
    ignorenulls last/first window carry — O(n log n_partition) with one
    exchange, vs the O(n²-per-key) theta join the naive SQL form runs.
    Ties at the exact same timestamp: the right row is included
    (inclusive semantics both directions); among multiple same-ts right
    rows the carry picks the struct-greatest (backward) /
    struct-least (forward) — deterministic for any payload."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction: {direction!r}")
    rpayload = [c for c in right.columns if c != by]
    lpayload = [c for c in left.columns if c != by]
    rs = F.struct(*[F.col(c) for c in rpayload])
    # unified frame: key, event time, side marker, left payload, right struct
    l_side = left.select(
        F.col(by), F.col(left_ts).alias("_t"), F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in lpayload]).alias("_ls"),
        F.lit(None).cast(
            right.select(rs.alias("_rs")).schema["_rs"].dataType
        ).alias("_rs"),
    )
    r_side = right.select(
        F.col(by), F.col(right_ts).alias("_t"), F.lit(0).alias("_is_left"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in lpayload]).alias("_ls"))
            .schema["_ls"].dataType
        ).alias("_ls"),
        rs.alias("_rs"),
    )
    u = l_side.unionByName(r_side)
    if direction == "backward":
        # right rows order before left at equal ts → inclusive match
        w = (Window.partitionBy(by).orderBy("_t", "_is_left", "_rs")
             .rowsBetween(Window.unboundedPreceding, 0))
        carried = F.last("_rs", ignorenulls=True).over(w)
    else:
        # left rows order before right at equal ts → inclusive match
        w = (Window.partitionBy(by)
             .orderBy("_t", (1 - F.col("_is_left")), "_rs")
             .rowsBetween(0, Window.unboundedFollowing))
        carried = F.first("_rs", ignorenulls=True).over(w)
    matched = (u.withColumn("_m", carried)
               .filter(F.col("_is_left") == 1))
    return matched.select(
        F.col(by),
        *[F.col("_ls")[c].alias(c) for c in lpayload],
        *[F.col("_m")[c].alias(f"{right_prefix}{c}") for c in rpayload],
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict sequential conversion funnel signup → view → click →
    purchase: a user reaches stage k when their earliest stage-k event
    at-or-after their stage-(k-1) reach time exists →
    ``(stage_order, stage, users, pct_of_prev)``.

    Shape: four chained per-user window mins (conditional on the
    previous stage's timestamp) — all share one ``user_id`` partitioning
    so the plan has a SINGLE exchange followed by Window ops, then a
    4-row scalar aggregation. No self-joins, no per-stage passes over
    the table. ``pct_of_prev`` is an exact int/int → double division
    (bit-identical across engines)."""
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    stages = ["signup", "view", "click", "purchase"]
    prev = None
    for i, s in enumerate(stages, start=1):
        cond = F.col("event_type") == s
        if prev is not None:
            cond = cond & (F.col("ts") >= F.col(prev))
        e = e.withColumn(f"_s{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        prev = f"_s{i}"
    per_user = e.groupBy("user_id").agg(
        *[F.first(f"_s{i}").alias(f"_s{i}") for i in range(1, 5)])
    counts = per_user.agg(
        *[F.count(f"_s{i}").alias(f"c{i}") for i in range(1, 5)])
    rows = [
        F.struct(F.lit(i).alias("stage_order"), F.lit(s).alias("stage"),
                 F.col(f"c{i}").alias("users"),
                 (F.col(f"c{i}").cast("double")
                  / F.col(f"c{i-1}" if i > 1 else f"c{i}").cast("double"))
                 .alias("pct_of_prev"))
        for i, s in enumerate(stages, start=1)
    ]
    return (
        counts.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.stage_order", "r.stage", "r.users", "r.pct_of_prev")
        .orderBy("stage_order")
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between event types per user
    stream → ``(from_type, to_type, n, p)`` with MLE row-normalized
    probabilities — the sequence-mining summary behind next-action
    prediction and funnel-anomaly detection.

    Shape: one ``user_id`` shuffle feeds the lag window (same exchange
    class as sessionize), then a 5×5-bounded aggregation — partial
    map-side, output size |event types|², independent of corpus size.
    ``p`` is an exact count ratio (identical operands both engines) at
    6 dp."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (e.select(F.lag("event_type").over(w).alias("from_type"),
                      F.col("event_type").alias("to_type"))
             .filter(F.col("from_type").isNotNull()))
    cnt = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n"))
    marg = cnt.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (cnt.join(marg, "from_type")
            .select("from_type", "to_type", "n",
                    pround(F.col("n").cast("double")
                           / F.col("row_total"), 6).alias("p"))
            .orderBy("from_type", "to_type"))


def cohort_retention(spark: SparkSession, sf_dir: str,
                     use_sketch: bool = False,
                     rsd: float = 0.01) -> DataFrame:
    """Weekly cohort retention: cohort = epoch-week of the user's first
    event; a user is retained at offset k if they have any event in
    cohort_week + k → ``(cohort_start, week_offset, active_users)``.

    Shape: per-user first-ts is a window min over ``user_id`` (one
    exchange), week bucketing is epoch arithmetic (codegen), and the
    retained-user count groups on ``(cohort, offset)``.

    ``use_sketch=False`` (default, the oracle-checked form) counts
    exactly — Spark plans ``count_distinct`` as a two-phase partial/
    final aggregate, so the shuffle carries every distinct
    ``(cohort, offset, user)`` triple. ``use_sketch=True`` is the
    100 TB path: ``approx_count_distinct`` (HyperLogLog++) makes the
    partial aggregate a fixed-size mergeable sketch, so the exchange
    carries one sketch per (cohort, offset) per map partition instead
    of the distinct-triple stream — same plan shape, same single
    logical aggregation, orders-of-magnitude smaller shuffle on wide
    cohorts. The pytest bounds the sketch's relative error against the
    exact twin."""
    week = 7 * 24 * 3600
    e = load_table(spark, "events", sf_dir).select("user_id", "ts")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    bucketed = e.select(
        "user_id",
        F.floor(first_ts.cast("double") / week).alias("_cw"),
        F.floor(F.col("ts").cast("double") / week).alias("_ew"),
    )
    counter = (F.approx_count_distinct("user_id", rsd) if use_sketch
               else F.count_distinct(F.col("user_id")))
    return (
        bucketed.groupBy(
            F.to_timestamp(F.col("_cw") * week).alias("cohort_start"),
            (F.col("_ew") - F.col("_cw")).cast("int").alias("week_offset"))
        .agg(counter.alias("active_users"))
        .orderBy("cohort_start", "week_offset")
    )


def gap_fill_forward(events: DataFrame, slot_seconds: int = 3600,
                     user_col: str = "user_id", ts_col: str = "ts",
                     value_col: str = "value") -> DataFrame:
    """Time-series regularization → ``(user_id, slot_ts, filled_value,
    observed)``: per user, a dense slot grid from the first to the last
    observed slot, each slot carrying the latest observation AT or
    BEFORE it (forward fill / LOCF) — the resample-and-ffill every
    metrics pipeline runs before joining irregular event streams onto a
    regular clock.

    Per-slot representative is deterministic: the row with the max
    ``(ts, event_id)`` in the slot (ties cannot survive the composite).
    Shape: one (user, slot) aggregation, one per-user grid explode
    (``sequence`` of epochs — plan-computed, no driver loop), one
    user-keyed window for the fill. All exchanges are user-keyed and
    co-partition; grid size is span/slot per user — choose
    ``slot_seconds`` so span/slot stays sane (the caller's contract,
    same as any resampler's).
    """
    slot = F.timestamp_seconds(
        (F.floor(F.unix_seconds(F.col(ts_col)) / slot_seconds)
         * slot_seconds).cast("long"))
    from pyspark.sql import Window
    per_slot_w = Window.partitionBy(user_col, "_slot").orderBy(
        F.col(ts_col).desc(), F.col("event_id").desc())
    obs = (events.select(user_col, "event_id", ts_col,
                         F.col(value_col).alias("_v"), slot.alias("_slot"))
           .withColumn("_rn", F.row_number().over(per_slot_w))
           .filter(F.col("_rn") == 1)
           .select(user_col, "_slot", "_v"))
    bounds = obs.groupBy(user_col).agg(F.min("_slot").alias("_lo"),
                                       F.max("_slot").alias("_hi"))
    grid = bounds.select(
        user_col,
        F.explode(F.sequence(
            F.unix_seconds("_lo"), F.unix_seconds("_hi"),
            F.lit(slot_seconds))).alias("_se")) \
        .select(user_col, F.timestamp_seconds(F.col("_se")).alias("_slot"))
    fill_w = (Window.partitionBy(user_col).orderBy("_slot")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(obs, [user_col, "_slot"], "left")
            .select(F.col(user_col),
                    F.col("_slot").alias("slot_ts"),
                    F.last("_v", ignorenulls=True).over(fill_w)
                    .alias("filled_value"),
                    F.when(F.col("_v").isNotNull(), 1).otherwise(0)
                    .cast("int").alias("observed"))
            .orderBy(user_col, "slot_ts"))


def gap_fill_interp(events: DataFrame, slot_seconds: int = 3600,
                    user_col: str = "user_id", ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """Linear-interpolation resample → ``(user_id, slot_ts,
    interp_value, observed)``: like :func:`gap_fill_forward` but gaps
    take the line between the surrounding observations —
    ``prev + (next − prev) · gap_pos/gap_len`` — the fill metrics
    dashboards use when LOCF's step artifacts bias rates. Grid
    endpoints are observed by construction, so every gap is interior
    and both neighbors exist.

    Same shape as the LOCF fill plus one window pass from the other
    direction (``first ignorenulls`` over the FOLLOWING frame); the
    interpolation itself is per-row arithmetic, 6-dp-rounded at the
    edge so the value-hash is engine-stable."""
    from pyspark.sql import Window

    from ..functions.rounding import pround
    slot = F.timestamp_seconds(
        (F.floor(F.unix_seconds(F.col(ts_col)) / slot_seconds)
         * slot_seconds).cast("long"))
    per_slot_w = Window.partitionBy(user_col, "_slot").orderBy(
        F.col(ts_col).desc(), F.col("event_id").desc())
    obs = (events.select(user_col, "event_id", ts_col,
                         F.col(value_col).alias("_v"), slot.alias("_slot"))
           .withColumn("_rn", F.row_number().over(per_slot_w))
           .filter(F.col("_rn") == 1)
           .select(user_col, "_slot", "_v"))
    bounds = obs.groupBy(user_col).agg(F.min("_slot").alias("_lo"),
                                       F.max("_slot").alias("_hi"))
    grid = bounds.select(
        user_col,
        F.explode(F.sequence(
            F.unix_seconds("_lo"), F.unix_seconds("_hi"),
            F.lit(slot_seconds))).alias("_se")) \
        .select(user_col, F.timestamp_seconds(F.col("_se")).alias("_slot"))
    g = grid.join(obs, [user_col, "_slot"], "left")
    back = (Window.partitionBy(user_col).orderBy("_slot")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy(user_col).orderBy("_slot")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    se = F.unix_seconds(F.col("_slot"))
    prev_v = F.last("_v", ignorenulls=True).over(back)
    next_v = F.first("_v", ignorenulls=True).over(fwd)
    prev_s = F.last(F.when(F.col("_v").isNotNull(), se),
                    ignorenulls=True).over(back)
    next_s = F.first(F.when(F.col("_v").isNotNull(), se),
                     ignorenulls=True).over(fwd)
    interp = F.when(
        F.col("_v").isNotNull(), F.col("_v")
    ).otherwise(
        prev_v + (next_v - prev_v) * ((se - prev_s).cast("double")
                                      / (next_s - prev_s).cast("double")))
    return (g.select(F.col(user_col),
                     F.col("_slot").alias("slot_ts"),
                     pround(interp, 6).alias("interp_value"),
                     F.when(F.col("_v").isNotNull(), 1).otherwise(0)
                     .cast("int").alias("observed"))
            .orderBy(user_col, "slot_ts"))


def hourly_anomalies(events: DataFrame, window_slots: int = 24,
                     z_thresh: float = 2.0, ts_col: str = "ts",
                     type_col: str = "event_type",
                     value_col: str = "value") -> DataFrame:
    """Rolling z-score anomaly screen over hourly totals →
    ``(event_type, slot_ts, total, z, is_anomaly)``: each hour's total
    scored against the trailing ``window_slots``-hour mean/std of its
    own series; |z| ≥ ``z_thresh`` flags. The ops-dashboard staple
    (traffic spikes, pipeline stalls) on the same engine as the batch
    analytics.

    The series is DENSIFIED first: each type's hourly grid
    runs from its first to its last observed slot with empty hours as
    explicit zero rows — so ``window_slots`` preceding ROWS is exactly
    ``window_slots`` wall-clock hours. Over observed slots only, the
    frame silently stretched across quiet gaps (a "trailing 24 h"
    baseline spanning days), skewing mean/std right where outages —
    the anomalies — live; and the zero rows themselves now get scored,
    which is precisely the outage signal. Zero-fill is the correct
    density for event totals (no events ⇒ total 0), unlike the LOCF
    fill of :func:`gap_fill_forward` whose series are level samples.

    The baseline frame is the ``window_slots`` PRECEDING slots,
    EXCLUSIVE of the current one — leave-in baselines inflate their own
    mean/std and cap z at ≈√n however large the spike; the exclusive
    frame scores the new observation against history, unbounded.

    Determinism: hourly totals are exact DECIMAL sums; the frame's
    Σx/Σx² are window sums over those exact decimals (frame order is
    the window order — engine-independent), and only the final
    variance/z math is per-row double, 6-dp-rounded at the edge. z is
    NULL until the baseline frame is full (the first ``window_slots``
    slots) and when the baseline is constant (std = 0).

    One (type)-keyed exchange for the hourly rollup; the rolling stats
    are partition-local sorts. Series count = |event types| — at scale
    partition by (type, series-shard) only if a single type's history
    outgrows one task, which at hourly grain takes decades."""
    from pyspark.sql import Window

    from ..functions.rounding import pround
    slot = F.timestamp_seconds(
        (F.floor(F.unix_seconds(F.col(ts_col)) / 3600) * 3600).cast("long"))
    hourly = (events.groupBy(F.col(type_col).alias("event_type"),
                             slot.alias("slot_ts"))
              .agg(F.sum(F.col(value_col).cast("decimal(18,2)"))
                   .cast("decimal(18,2)").alias("_tot")))
    # dense per-type grid, zero-filled: the rolling ROWS frame below is
    # then a true wall-clock window (grid explode is plan-computed; the
    # join is type+slot-keyed and co-partitions with the rollup)
    bounds = hourly.groupBy("event_type").agg(F.min("slot_ts").alias("_lo"),
                                              F.max("slot_ts").alias("_hi"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(
            F.unix_seconds("_lo"), F.unix_seconds("_hi"),
            F.lit(3600))).alias("_se")) \
        .select("event_type", F.timestamp_seconds(F.col("_se")).alias("slot_ts"))
    hourly = (grid.join(hourly, ["event_type", "slot_ts"], "left")
              .select("event_type", "slot_ts",
                      F.coalesce(F.col("_tot"),
                                 F.lit(0).cast("decimal(18,2)"))
                      .alias("_tot")))
    w = (Window.partitionBy("event_type").orderBy("slot_ts")
         .rowsBetween(-window_slots, -1))
    n = F.count("_tot").over(w)
    s1 = F.sum("_tot").over(w).cast("double")
    s2 = F.sum((F.col("_tot") * F.col("_tot")).cast("decimal(38,4)")) \
        .over(w).cast("double")
    nd = n.cast("double")
    var = (nd * s2 - s1 * s1) / (nd * nd)
    tot_d = F.col("_tot").cast("double")
    z = (tot_d - s1 / nd) / F.sqrt(var)
    full = (n == window_slots) & (var > 0)
    zr = F.when(full, pround(z, 6))
    return (hourly.select(
        "event_type", "slot_ts", tot_d.alias("total"),
        zr.alias("z"),
        F.when(zr.isNotNull() & (F.abs(zr) >= z_thresh), 1)
        .otherwise(0).cast("int").alias("is_anomaly"))
        .orderBy("event_type", "slot_ts"))


def hourly_profile(events: DataFrame, ts_col: str = "ts",
                   type_col: str = "event_type",
                   value_col: str = "value") -> DataFrame:
    """Seasonality profile → ``(event_type, hour, n, mean_value)``: per
    type, how activity and value distribute over the hour-of-day — the
    baseline shape :func:`hourly_anomalies` scores deviations against.
    One (type, hour)-keyed aggregation with exact decimal value sums;
    the mean rounds integer-exactly (the ``pround_avg2`` discipline) so
    the profile is engine-stable. Output is ≤ 24·|types| rows at any
    corpus size."""
    from ..functions.rounding import pround_avg2
    return (events.groupBy(F.col(type_col).alias("event_type"),
                           F.hour(F.col(ts_col)).cast("int").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n"),
                 pround_avg2(F.col(value_col), 6).alias("mean_value"))
            .orderBy("event_type", "hour"))


def top_session_paths(spark: SparkSession, sf_dir: str,
                      path_len: int = 3, k: int = 20) -> DataFrame:
    """Most common session OPENINGS → ``(path, n_sessions, rank)``: the
    first ``path_len`` event types of each session (the
    ``sessionize`` gap sessions), joined into a path string — the
    "how do users start" view funnel analysis aggregates away.

    Shape: sessionization's user-keyed window, then a per-session
    window taking the first ``path_len`` events in (ts, event_id)
    order (deterministic under ts ties), a session-keyed string_agg
    via sorted collect_list, and a tiny path count + top-k. All
    exchanges are user/session-keyed; the path table is
    |paths|-sized."""
    from pyspark.sql import Window
    e = load_table(spark, "events", sf_dir) \
        .select("user_id", "event_id", "ts", "event_type")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_min = 30
    new_sess = (F.when(
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(w_user) > gap_min * 60,
        1).otherwise(0))
    sess = (e.withColumn("_new", F.coalesce(new_sess, F.lit(1)))
            .withColumn("_sid", F.sum("_new").over(
                w_user.rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))))
    w_sess = Window.partitionBy("user_id", "_sid").orderBy("ts", "event_id")
    firsts = (sess.withColumn("_rn", F.row_number().over(w_sess))
              .filter(F.col("_rn") <= path_len))
    paths = (firsts.groupBy("user_id", "_sid")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("_rn", "event_type"))),
                     lambda s: s["event_type"]), ">").alias("path")))
    counts = (paths.groupBy("path")
              .agg(F.count(F.lit(1)).alias("n_sessions")))
    top = (counts.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
           .limit(k))
    w_rank = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return (top.withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .orderBy("rank"))


def user_entropy(events: DataFrame, user_col: str = "user_id",
                 type_col: str = "event_type") -> DataFrame:
    """Behavioral diversity → ``(user_id, n_events, entropy_nats)``:
    Shannon entropy of each user's event-type distribution — 0 for
    single-behavior users, ln(|types|) for uniform ones; the feature
    behind engagement segmentation and bot screens (bots are
    low-entropy).

    ``H = ln(n) − (Σ c·ln c)/n`` over the exact per-type counts; the
    ``c·ln c`` terms quantize to INTEGER micro-nats before the per-user
    sum, so the entropy is independent of which order a user's type
    rows aggregate in (the micro-nat discipline — a 5-term double sum
    is already order-sensitive). Two keyed aggregations, both map-side
    combined; output is user-sized."""
    from ..functions.rounding import pround
    counts = (events.groupBy(user_col, type_col)
              .agg(F.count(F.lit(1)).alias("_c")))
    clogc = F.floor(F.col("_c").cast("double")
                    * F.log(F.col("_c").cast("double"))
                    * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    per_user = (counts.select(user_col, F.col("_c"), clogc.alias("_u"))
                .groupBy(user_col)
                .agg(F.sum("_c").alias("n_events"),
                     F.sum("_u").alias("_su")))
    h = (F.log(F.col("n_events").cast("double"))
         - (F.col("_su").cast("double") / F.lit(1000000.0))
         / F.col("n_events").cast("double"))
    return (per_user.select(F.col(user_col),
                            F.col("n_events").cast("long").alias("n_events"),
                            pround(h, 6).alias("entropy_nats"))
            .orderBy(user_col))


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency → per adjacent stage pair ``(stage_order,
    from_stage, to_stage, n_converted, median_gap_s)``: how long users
    take between consecutive funnel stages, with the EXACT median
    (value at rank ⌈n/2⌉ of the integer second gaps — deterministic,
    no approx sketch). The time dimension ``funnel_conversion``'s
    counts collapse.

    Reuses the funnel's chained conditional window mins (single
    user-keyed exchange); gaps are BIGINT seconds; the median is an
    ordered-rank pick per stage pair — pair count is 3, gap tables are
    converted-user-sized. The rank window is per-pair; at corpus scale
    swap in the two-phase distributed rank (pps pattern)."""
    from pyspark.sql import Window
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    stages = ["signup", "view", "click", "purchase"]
    prev = None
    for i, s in enumerate(stages, start=1):
        cond = F.col("event_type") == s
        if prev is not None:
            cond = cond & (F.col("ts") >= F.col(prev))
        e = e.withColumn(f"_s{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        prev = f"_s{i}"
    per_user = e.groupBy("user_id").agg(
        *[F.first(f"_s{i}").alias(f"_s{i}") for i in range(1, 5)])
    parts = []
    for i in range(1, 4):
        gap = (F.unix_seconds(F.col(f"_s{i + 1}"))
               - F.unix_seconds(F.col(f"_s{i}")))
        g = (per_user.filter(F.col(f"_s{i + 1}").isNotNull())
             .select(gap.cast("long").alias("_gap")))
        wr = Window.orderBy(F.col("_gap").asc())
        ranked = (g.withColumn("_r", F.row_number().over(wr))
                  .withColumn("_n", F.count(F.lit(1)).over(
                      Window.rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))))
        med = ranked.filter(
            F.col("_r") == F.ceil(F.col("_n") / 2).cast("int"))
        parts.append(med.select(
            F.lit(i).cast("int").alias("stage_order"),
            F.lit(stages[i - 1]).alias("from_stage"),
            F.lit(stages[i]).alias("to_stage"),
            F.col("_n").cast("long").alias("n_converted"),
            F.col("_gap").cast("long").alias("median_gap_s")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("stage_order")


def cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort VALUE (the LTV matrix) → ``(cohort_start,
    week_offset, n_events, total_value)``: how much each signup-week
    cohort spends at each age — the revenue dimension
    :func:`cohort_retention`'s user counts collapse. Same shape (one
    user-keyed window for first-ts, epoch-week arithmetic, one
    (cohort, offset) aggregation); the value total is an exact decimal
    sum, so the matrix is engine- and partitioning-stable."""
    week = 7 * 24 * 3600
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    bucketed = e.select(
        F.floor(first_ts.cast("double") / week).alias("_cw"),
        F.floor(F.col("ts").cast("double") / week).alias("_ew"),
        F.col("value"))
    return (bucketed.groupBy(
        F.to_timestamp(F.col("_cw") * week).alias("cohort_start"),
        (F.col("_ew") - F.col("_cw")).cast("int").alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("total_value"))
        .orderBy("cohort_start", "week_offset"))


def floor_bin_expr(us_expr: str, bin_us: int):
    """Exact integer FLOOR division of a microsecond expression into
    ``bin_us`` buckets — THE bin-id formula for every binned time join
    (batch range join, its streaming twin, the streaming as-of): pmod
    yields the non-negative remainder, so ``(x − pmod(x, b)) div b`` is
    exact integer floor division at any magnitude and either sign. The
    double-quotient form this replaced truncated toward zero
    (misbinning pre-1970 timestamps) and lost exactness past 2^53.
    One definition on purpose: all three joins must bin identically or
    batch/stream results skew."""
    return F.expr(
        f"(({us_expr}) - pmod(({us_expr}), {bin_us})) div {bin_us}")


def range_join_binned(points: DataFrame, intervals: DataFrame,
                      ts_col: str = "ts", lo_col: str = "lo",
                      hi_col: str = "hi",
                      bin_seconds: int = 3600) -> DataFrame:
    """Range (interval) join — an operator Spark lacks natively —
    as a bin-bucketed EQUI join: every ``points`` row paired with every
    ``intervals`` row whose half-open window ``[lo, hi)`` contains its
    timestamp, with NO shared equi key between the tables.

    The naive SQL form (``p.ts >= i.lo AND p.ts < i.hi``) is a theta
    join: Spark can only run it as BroadcastNestedLoop (small side) or
    a cartesian product — O(|points|·|intervals|) comparisons. The
    scale form quantizes the time axis into ``bin_seconds`` buckets:
    each point lands in exactly ONE bin (a narrow projection), each
    interval explodes to its ⌈span/bin⌉ covered bins (plan-computed
    ``sequence``, no driver loop), and the pair generation becomes an
    equi join on the bin followed by the exact containment filter.
    Each qualifying pair is produced exactly once (the point's single
    bin matches one exploded interval row), so no distinct is needed.
    Cost: O(|points| + |intervals|·span/bin + |candidate pairs|) — the
    bin equi-join shuffles (or broadcasts) instead of nesting, and the
    candidate set is only the pairs sharing a bucket. Pick
    ``bin_seconds`` near the median interval span: coarser bins inflate
    false candidates, finer bins inflate the interval explode (the
    same dial as the Databricks range-join hint's bin size). Hot bins
    (a bursty hour) are plain join skew — AQE's skew split applies, as
    for any equi join.
    """
    bin_us = int(bin_seconds) * 1_000_000
    p = points.withColumn(
        "_bin", floor_bin_expr(f"unix_micros({ts_col})", bin_us))
    iv = (intervals
          .withColumn("_bin", F.explode(F.sequence(
              floor_bin_expr(f"unix_micros({lo_col})", bin_us),
              floor_bin_expr(f"unix_micros({hi_col}) - 1", bin_us))))
          )
    return (p.join(iv, "_bin")
            .filter((F.col(ts_col) >= F.col(lo_col))
                    & (F.col(ts_col) < F.col(hi_col)))
            .drop("_bin"))


def busy_windows(spark: SparkSession, sf_dir: str,
                 top_per_type: int = 3) -> DataFrame:
    """The window table behind :func:`busy_window_profile` (and its
    streaming twin): per event type, the ``top_per_type`` busiest hours
    widened to 2-hour windows [slot−30 min, slot+90 min) →
    ``(w_type, lo, hi)``. Tiny (|types|·k rows) — the broadcast side of
    the bin join."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    slot = F.timestamp_seconds(
        (F.floor(F.unix_seconds(F.col("ts")) / 3600) * 3600).cast("long"))
    hourly = (e.groupBy(F.col("event_type").alias("w_type"),
                        slot.alias("_slot"))
              .agg(F.count(F.lit(1)).alias("_n")))
    wnd = Window.partitionBy("w_type").orderBy(F.col("_n").desc(),
                                               F.col("_slot").asc())
    return (hourly.withColumn("_rk", F.row_number().over(wnd))
            .filter(F.col("_rk") <= top_per_type)
            .select("w_type",
                    F.timestamp_seconds(F.unix_seconds("_slot") - 1800)
                    .alias("lo"),
                    F.timestamp_seconds(F.unix_seconds("_slot") + 5400)
                    .alias("hi")))


def busy_window_profile(spark: SparkSession, sf_dir: str,
                        top_per_type: int = 3) -> DataFrame:
    """Range-join showcase → ``(w_type, w_lo, n_events,
    n_distinct_users)``: per event type, take its ``top_per_type``
    busiest hours, widen each to a 2-hour window [slot−30 min,
    slot+90 min) — deliberately NOT hour-aligned, so every window
    straddles bins — and count ALL events (any type) inside each
    window via :func:`range_join_binned`. "When one stream spikes,
    what does total traffic look like around it" — the cross-stream
    burst profile an equi-keyed join cannot express.

    Shape: one (type, slot) rollup + a per-type top-k for the window
    table (tiny: |types|·k rows, broadcast side of the bin join), then
    the binned range join and one (window) aggregation. Windows may
    overlap; an event inside two windows counts in both (profile
    semantics, matching the theta-join oracle row-for-row)."""
    e = load_table(spark, "events", sf_dir)
    tops = busy_windows(spark, sf_dir, top_per_type)
    pairs = range_join_binned(e.select("ts", "user_id"), tops,
                              ts_col="ts", lo_col="lo", hi_col="hi")
    return (pairs.groupBy("w_type", F.col("lo").alias("w_lo"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_distinct_users"))
            .orderBy("w_type", "w_lo"))


def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event log → one
    validity interval per RUN of equal states:
    ``(user_id, state, valid_from, valid_to, is_current)`` with
    half-open ``[valid_from, valid_to)`` intervals, ``valid_to`` NULL
    on the open (current) run.

    The standard warehouse pattern (Kimball SCD type 2) expressed as
    two window passes over ONE user-keyed shuffle: ``lag(event_type)``
    marks run starts, the filtered run-start rows take
    ``lead(ts)`` as their exclusive end. Runs collapse duplicates
    BEFORE the second pass, so the lead window runs over run-starts
    only (|changes|, not |events|). Within-timestamp order is pinned
    by event_id, so the history is deterministic under any partition
    layout. At 100 TB: per-user state history is the classic
    append-log → dimension compaction; both windows share the single
    ``user_id`` exchange and AQE handles hot users as ordinary window
    skew (bounded by per-user event counts, not corpus size)."""
    e = load_table(spark, "events", sf_dir) \
        .select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (e.withColumn("_prev", F.lag("event_type").over(w))
            .filter(F.col("_prev").isNull()
                    | (F.col("_prev") != F.col("event_type"))))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (runs.withColumn("valid_to", F.lead("ts").over(w2))
            .select("user_id",
                    F.col("event_type").alias("state"),
                    F.col("ts").alias("valid_from"),
                    "valid_to",
                    F.col("valid_to").isNull().cast("int")
                    .alias("is_current"))
            .orderBy("user_id", "valid_from"))


def events_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry datapoint for the GENERIC :func:`asof_join` operator
    (the attribution queries inline the same pattern; this drives the
    reusable code path): every ``view`` event enriched with the next
    ``purchase`` by the same user at-or-after it →
    ``(user_id, event_id, ts, next_purchase_id, next_purchase_ts,
    lag_us)``, NULLs when the user never purchases afterwards.

    One shuffle on user_id (union-sort-carry inside asof_join), then a
    narrow projection. ``lag_us`` is exact integer microseconds."""
    e = load_table(spark, "events", sf_dir)
    views = e.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id")
    purchases = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    j = asof_join(views, purchases, by="user_id", direction="forward")
    return (j.select(
        "user_id", "event_id", "ts",
        F.col("r_event_id").alias("next_purchase_id"),
        F.col("r_ts").alias("next_purchase_ts"),
        F.when(F.col("r_ts").isNotNull(),
               F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts")))
        .alias("lag_us"))
        .orderBy("user_id", "event_id"))


def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend over DAILY event revenue → one row
    ``(n_days, slope, intercept)``: the least-squares line through
    ``(epoch_day, daily_value_total)`` — the "is this metric growing"
    primitive every ops dashboard fits.

    Determinism discipline: x is the INTEGER epoch-day index, y is the
    exact DECIMAL daily total cast to double at the aggregate edge —
    so Σx, Σx², Σxy, Σy are exact (integer × 2-dp decimal products
    summed in decimal) and the slope/intercept are a fixed,
    per-plan-identical handful of double ops on one row:
    ``slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)``, rounded 6 dp at the
    output edge only. Degenerate single-day inputs make the
    denominator zero — surfaced as a LOUD ANSI divide error rather
    than a silent NULL trend. Shape: one day-keyed aggregate
    (map-side partials, |days| rows), then scalar math — never a
    corpus-sized second pass. At 100 TB the daily rollup is the only
    exchange."""
    e = load_table(spark, "events", sf_dir)
    mi = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
    monthly = (e.groupBy(mi.alias("_m"))
               .agg(F.sum(F.col("value").cast("decimal(18,2)"))
                    .alias("_y")))
    agg = monthly.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_m").alias("_sx"),
        F.sum(F.col("_m") * F.col("_m")).alias("_sxx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum(F.col("_m").cast("decimal(18,2)") * F.col("_y"))
        .cast("double").alias("_sxy"))
    n = F.col("_n").cast("double")
    denom = n * F.col("_sxx").cast("double") \
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    slope = (n * F.col("_sxy")
             - F.col("_sx").cast("double") * F.col("_sy")) / denom
    intercept = (F.col("_sy") - slope * F.col("_sx").cast("double")) / n
    return agg.select(
        F.col("_n").cast("long").alias("n_days"),
        pround(slope, 6).alias("slope"),
        pround(intercept, 6).alias("intercept"))


def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend over DAILY event revenue → one row
    ``(n_days, n_pairs, slope, intercept)``: the MEDIAN of all pairwise
    slopes (Theil 1950 / Sen 1968) through ``(epoch_day,
    daily_value_total)`` — the outlier-robust twin of
    :func:`revenue_trend_ols` (one corrupted day moves OLS arbitrarily;
    Theil–Sen tolerates ~29% contamination).

    Exactness: y is the exact 2-dp daily total in integer CENTS, x the
    integer epoch day, so each pairwise slope is the exact rational
    ``(y_j−y_i)/(100·(d_j−d_i))`` quantized once at 6 dp by the
    sign-safe shared-dialect ``sql_ir38`` (pair order i<j keeps the
    denominator positive; numerators go negative on down days). The
    median is the LOWER median — the ⌈n/2⌉-th order statistic, a
    well-defined VALUE regardless of how ties order. Intercept =
    lower median of per-day residuals ``y_i/100 − slope·d_i``
    (identical per-row IEEE ops on identical inputs in both engines).

    Scale shape: ONE corpus-sized day-keyed aggregate, then all work
    is calendar-bounded — the pair self-join is |days|² rows (a
    70-day fixture → 2.4k pairs; even a decade of days is ~6.7M
    pairs). Both rank selections run the two-phase distributed prefix
    sum (:func:`~..functions.prefix.ranged_cumsum`) — no partition-less
    window anywhere, so even a pathological
    pair frame never serializes through one task; the k-th order
    statistic comes from a range-partitioned cumulative count. At
    100 TB the daily rollup remains the only exchange that sees data
    volume."""
    from ..functions.prefix import ROWS as _RN
    from ..functions.prefix import ranged_cumsum
    e = load_table(spark, "events", sf_dir)
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
    daily = (e.groupBy(day.alias("_d"))
             .agg((F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                  .cast("long").alias("_yc"))
             .localCheckpoint(eager=True))  # reused by pairs + residuals
    a = daily.select(F.col("_d").alias("_di"), F.col("_yc").alias("_yi"))
    b = daily.select(F.col("_d").alias("_dj"), F.col("_yc").alias("_yj"))
    slopes = (a.join(b, F.col("_di") < F.col("_dj"))
              .select(F.expr(_ir38(
                  "_yj - _yi", "100 * (_dj - _di)")).alias("_s")))
    s_cum, s_tot = ranged_cumsum(slopes, ["_s"], [])
    n_pairs = s_tot["rows"]
    med = (s_cum.filter(F.col(_RN) == (n_pairs + 1) // 2)
           .select(F.col("_s").alias("slope")))
    resid = (daily.crossJoin(F.broadcast(med))
             .select("slope",
                     (F.col("_yc") / F.lit(100.0)
                      - F.col("slope") * F.col("_d")).alias("_r")))
    r_cum, r_tot = ranged_cumsum(resid, ["_r"], [])
    n_days = r_tot["rows"]
    out = r_cum.filter(F.col(_RN) == (n_days + 1) // 2)
    return out.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.col("slope"),
        pround(F.col("_r"), 6).alias("intercept"))


def holdout_ab_lift(spark: SparkSession, sf_dir: str,
                    holdout_pct: int = 50) -> DataFrame:
    """Deterministic experiment split + conversion lift → one row
    ``(n_a, n_b, conv_a, conv_b, rate_a, rate_b, lift_micro)``:
    users hash into arm B when ``portable_hash(user) % 100 <
    holdout_pct`` (stable membership across runs/engines — the same
    seeded-hash discipline as ``mixture_sample``; no RNG state), a
    user converts if they ever purchased, and lift is B's conversion
    rate over A's in exact integer micro-units
    (``(convB·nA·10^6) div (convA·nB)``, integer-exact — no double
    ratio-of-ratios).

    Shape: one user-level rollup (user-keyed, map-side partials), one
    4-counter aggregate. The assignment column is what an experiment
    pipeline would PERSIST (bucketed by user) so every metric reads
    the same arms."""
    from ..functions.hashing import portable_hash64
    e = load_table(spark, "events", sf_dir)
    per_user = (e.groupBy("user_id")
                .agg(F.max((F.col("event_type") == "purchase")
                           .cast("int")).alias("_conv")))
    arm = (F.pmod(portable_hash64(
        F.concat(F.lit("ab:v1:"), F.col("user_id").cast("string"))),
        F.lit(100)) < holdout_pct).cast("int").alias("_b")
    agg = (per_user.select("_conv", arm)
           .agg(F.sum(F.lit(1) - F.col("_b")).alias("n_a"),
                F.sum("_b").alias("n_b"),
                F.sum(F.when(F.col("_b") == 0, F.col("_conv"))
                      .otherwise(0)).alias("conv_a"),
                F.sum(F.when(F.col("_b") == 1, F.col("_conv"))
                      .otherwise(0)).alias("conv_b")))
    from ..functions.rounding import sql_pround_iratio
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.expr(sql_pround_iratio("conv_a", "n_a")).alias("rate_a"),
        F.expr(sql_pround_iratio("conv_b", "n_b")).alias("rate_b"),
        # numerator in decimal(38,0): conv_b·n_a·10^6 overflows BIGINT
        # around 1e8 conversions × 1e9 users (silent wrap under
        # non-ANSI Spark while DuckDB promotes to INT128 — a latent
        # cross-engine divergence); 128-bit on BOTH engines is exact
        F.expr("CASE WHEN conv_a * n_b > 0 THEN "
               "(CAST(conv_b AS DECIMAL(38,0)) * n_a * 1000000) div "
               "(CAST(conv_a AS DECIMAL(38,0)) * n_b) END")
        .cast("long").alias("lift_micro"))


# _ir38 (imported above from functions.rounding.sql_ir38): the
# sign-safe wide-precision quotient CUPED's cross-moment products need;
# one shared definition — docstring + cross-engine pin live there.


def cuped_output_exprs() -> dict[str, str]:
    """The CUPED output columns as shared-dialect SQL text over the
    twelve BIGINT sufficient statistics ``n, sx, sy, sxy, sxx, syy,
    n_a, n_b, sx_a, sx_b, sy_a, sy_b`` (x = pre-period purchases per
    user, y = experiment-period purchases, arms a/b). ONE definition
    on purpose: :func:`cuped_ab_lift` evaluates this text via
    ``F.expr`` and the DuckDB oracle appends the identical text to its
    own aggregate — the engines can only diverge if the shared
    integer arithmetic itself diverges (pinned by
    ``test_ir38_negative_ratio_cross_engine``).

    Exact rational forms (CUPED, Deng et al. 2013, "Improving the
    sensitivity of online controlled experiments by utilizing
    pre-experiment data" — theta = cov(x,y)/var(x), pooled over all
    users; y_adj = y − theta·(x − mean x)):

    - ``vx  = n·sxx − sx²``, ``vy = n·syy − sy²`` (n²·variance)
    - ``cxy = n·sxy − sx·sy``                    (n²·covariance)
    - ``theta       = cxy / vx``
    - ``delta_raw   = (sy_b·n_a − sy_a·n_b) / (n_a·n_b)``
    - ``delta_cuped = delta_raw − theta·(sx_b·n_a − sx_a·n_b)/(n_a·n_b)``
      as ONE rational ``(dy·vx − cxy·dx) / (n_a·n_b·vx)`` — no nested
      rounding, so the variance adjustment is exact before the single
      half-up 6-dp quantization
    - ``rho2 = cxy² / (vx·vy)`` — the CUPED variance-reduction factor
      (var(y_adj) = (1 − rho2)·var(y))

    Overflow envelope (every product must fit 38 digits): with
    per-user counts ≤ c and u users, the widest term is
    ``2e6·cxy²  ≈ 2e6·(u²c²)²`` — safe for ``u·c ≲ 3e15``, i.e. far
    past 1e9 users × 1e4 events; the DECIMAL(18,2)-style money path
    is not needed because purchases are exact integers."""
    vx = ("(CAST(n AS DECIMAL(38,0)) * sxx "
          "- CAST(sx AS DECIMAL(38,0)) * sx)")
    vy = ("(CAST(n AS DECIMAL(38,0)) * syy "
          "- CAST(sy AS DECIMAL(38,0)) * sy)")
    cxy = ("(CAST(n AS DECIMAL(38,0)) * sxy "
           "- CAST(sx AS DECIMAL(38,0)) * sy)")
    dy = ("(CAST(sy_b AS DECIMAL(38,0)) * n_a "
          "- CAST(sy_a AS DECIMAL(38,0)) * n_b)")
    dx = ("(CAST(sx_b AS DECIMAL(38,0)) * n_a "
          "- CAST(sx_a AS DECIMAL(38,0)) * n_b)")
    nab = "(CAST(n_a AS DECIMAL(38,0)) * n_b)"
    return {
        "theta": f"CASE WHEN {vx} > 0 THEN {_ir38(cxy, vx)} END",
        "delta_raw": f"CASE WHEN {nab} > 0 THEN {_ir38(dy, nab)} END",
        "delta_cuped": (
            f"CASE WHEN {vx} > 0 AND {nab} > 0 THEN "
            + _ir38(f"({dy} * {vx} - {cxy} * {dx})", f"({nab} * {vx})")
            + " END"),
        "rho2": (f"CASE WHEN {vx} > 0 AND {vy} > 0 THEN "
                 + _ir38(f"({cxy} * {cxy})", f"({vx} * {vy})") + " END"),
    }


def cuped_ab_lift(spark: SparkSession, sf_dir: str,
                  holdout_pct: int = 50) -> DataFrame:
    """CUPED variance-reduced experiment readout → one row ``(n_a,
    n_b, theta, delta_raw, delta_cuped, rho2)``: the arm-B minus arm-A
    difference in per-user experiment-period purchase counts, raw and
    after subtracting the part predicted by each user's PRE-period
    purchase count (theta·(x − mean x)) — the standard large-scale
    experimentation trick for tightening confidence intervals without
    touching the estimand (pre-period covariates are arm-independent
    in expectation, so E[delta_cuped] = E[delta_raw] while
    var(y_adj) = (1 − rho2)·var(y)).

    Windows: the observed event-time range is split at its midpoint
    (one 2-scalar aggregate, collected — the J4 scalar-broadcast
    pattern); x counts a user's purchases strictly before the split,
    y from the split on. Arms reuse ``holdout_ab_lift``'s persisted
    ``ab:v1`` hash assignment — CUPED must read the SAME arms as every
    other metric of the experiment or the adjustment mixes cohorts.

    Shape: one user-keyed rollup (map-side partials over events), one
    12-counter global aggregate, then pure scalar arithmetic — exact
    BIGINT/DECIMAL(38,0) throughout via :func:`cuped_output_exprs`
    (shared text with the oracle). At 100 TB nothing here is
    corpus-sized after the first aggregate; the user rollup is the
    only shuffle."""
    from ..functions.hashing import portable_hash64
    e = load_table(spark, "events", sf_dir)
    lo, hi = e.agg(F.min(F.unix_micros("ts")),
                   F.max(F.unix_micros("ts"))).collect()[0]
    mid = (int(lo) + int(hi)) // 2  # nonneg epochs: div == floor
    purch = (F.col("event_type") == "purchase").cast("long")
    per_user = (e.groupBy("user_id")
                .agg(F.sum(F.when(F.unix_micros("ts") < mid, purch)
                           .otherwise(0)).alias("x"),
                     F.sum(F.when(F.unix_micros("ts") >= mid, purch)
                           .otherwise(0)).alias("y")))
    b = (F.pmod(portable_hash64(
        F.concat(F.lit("ab:v1:"), F.col("user_id").cast("string"))),
        F.lit(100)) < holdout_pct).cast("long")
    u = per_user.select("x", "y", b.alias("_b"))
    agg = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.lit(1) - F.col("_b")).alias("n_a"),
        F.sum("_b").alias("n_b"),
        F.sum(F.when(F.col("_b") == 0, F.col("x")).otherwise(0))
        .alias("sx_a"),
        F.sum(F.when(F.col("_b") == 1, F.col("x")).otherwise(0))
        .alias("sx_b"),
        F.sum(F.when(F.col("_b") == 0, F.col("y")).otherwise(0))
        .alias("sy_a"),
        F.sum(F.when(F.col("_b") == 1, F.col("y")).otherwise(0))
        .alias("sy_b"))
    ex = cuped_output_exprs()
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr(ex["theta"]).alias("theta"),
        F.expr(ex["delta_raw"]).alias("delta_raw"),
        F.expr(ex["delta_cuped"]).alias("delta_cuped"),
        F.expr(ex["rho2"]).alias("rho2"))


def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users, sliding daily (the WAU
    curve) → ``(window_start, n_users, n_events)`` per epoch-aligned
    daily slide.

    Uses the native sliding ``F.window(ts, '7 days', '1 day')``
    generator: each event fans out to its 7 covering windows (constant
    factor, plan-computed) and one hash aggregate counts distinct
    users per window — no self-join over day ranges. Exact distinct is
    the audit form; at 100 TB swap ``approx_count_distinct`` for a
    mergeable sketch and the plan shape is unchanged (same swap as
    ``approx_distinct_users``). Trailing partial windows are kept —
    the curve's edges are real calendar days."""
    e = load_table(spark, "events", sf_dir)
    win = F.window("ts", "7 days", "1 day")
    return (e.groupBy(win.alias("w"))
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"),
                    "n_users", "n_events")
            .orderBy("window_start"))


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    FIXED absolute bands → ``(r_band, f_band, m_band, n_users,
    total_value)``: one row per populated segment cell.

    Bands are deterministic thresholds (recency: days since last
    purchase <3 / <10 / else; frequency: purchase count >=10 / >=3 /
    else; monetary: exact decimal spend >=500 / >=100 / else — scores
    3=best..1), NOT quantiles: a global ntile would range-sort the
    user rollup through one partition (the §12 window inventory's
    anti-pattern) and make every band depend on every user — absolute
    bands keep the whole segmentation a per-user projection, so the
    plan is one user-keyed rollup of the purchase stream + a
    |cells|-sized aggregate, embarrassingly parallel at any scale.
    Recency is anchored to the corpus max(ts) (one scalar broadcast)
    so the result is reproducible, not wall-clock-dependent."""
    from ..functions.rounding import dec2
    e = load_table(spark, "events", sf_dir)
    p = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    anchor = p.agg(F.max("ts").alias("_t0"))
    per_user = (p.join(F.broadcast(anchor))
                .groupBy("user_id")
                .agg(F.min(F.datediff(F.col("_t0"), F.col("ts")))
                     .alias("_rec_days"),
                     F.count(F.lit(1)).alias("_freq"),
                     F.sum(dec2(F.col("value"))).alias("_spend")))
    r_band = (F.when(F.col("_rec_days") < 3, 3)
              .when(F.col("_rec_days") < 10, 2).otherwise(1))
    f_band = (F.when(F.col("_freq") >= 10, 3)
              .when(F.col("_freq") >= 3, 2).otherwise(1))
    m_band = (F.when(F.col("_spend") >= F.lit("500").cast("decimal(18,2)"), 3)
              .when(F.col("_spend") >= F.lit("100").cast("decimal(18,2)"), 2)
              .otherwise(1))
    return (per_user
            .select(r_band.cast("int").alias("r_band"),
                    f_band.cast("int").alias("f_band"),
                    m_band.cast("int").alias("m_band"),
                    F.col("_spend"))
            .groupBy("r_band", "f_band", "m_band")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.sum("_spend").cast("double").alias("total_value"))
            .orderBy("r_band", "f_band", "m_band"))


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over DAILY event value totals →
    one row ``(change_day, n_days, total_cents, cusum_frac)``: the
    day k maximizing |S_k| where S_k = Σ_{j≤k}(y_j − ȳ) — the
    standard "did the metric's level shift, and when" screen on an
    ops dashboard (the max-|CUSUM| day is the estimated change
    point).

    Integer-exact: daily totals are exact cents (BIGINT), and instead
    of the double mean the statistic is scaled by n: n·S_k =
    n·C_k − k·T (C_k = cumulative cents through day k, T = grand
    total, k = day rank) — all DECIMAL(38,0) products, no FP until
    the final normalized ratio |n·S_k| / (n·T) in remainder-exact
    micro units. Ties break to the earliest day. Shape: one day-keyed
    aggregate (map-side partials, |days| rows), ONE cumulative window
    over that bounded day table (§12 inventory), a 1-row broadcast
    total, and a top-1 — never a corpus-sized sort."""
    from ..functions.rounding import pround_iratio

    e = load_table(spark, "events", sf_dir)
    daily = (e.groupBy(F.to_date("ts").alias("day"))
             .agg((F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                  .cast("long").alias("_y")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("_y").over(w).cast("decimal(38,0)").alias("_c"),
        F.row_number().over(Window.orderBy("day"))
        .cast("decimal(38,0)").alias("_k"))
    tot = daily.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
                    F.sum("_y").cast("decimal(38,0)").alias("_t"))
    s = (cum.join(F.broadcast(tot))
         .select("day", "_n", "_t",
                 F.abs(F.col("_n") * F.col("_c")
                       - F.col("_k") * F.col("_t")).alias("_ns")))
    return (s.orderBy(F.col("_ns").desc(), "day").limit(1)
            .select(F.col("day").alias("change_day"),
                    F.col("_n").cast("long").alias("n_days"),
                    F.col("_t").cast("long").alias("total_cents"),
                    pround_iratio(F.col("_ns"), F.col("_n") * F.col("_t"))
                    .alias("cusum_frac")))


def interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed inter-event gap histogram → one row per bucket
    ``(bucket, lo_seconds, n_gaps, share_frac)``: per-user
    consecutive-event gaps in whole seconds, bucketed by bit length
    (bucket 0 = same second, bucket b covers [2^{b-1}, 2^b) seconds)
    — the burstiness / dwell-time profile that sizes streaming
    watermarks and session gaps.

    Engine-portable by construction: timestamps FLOOR to epoch
    seconds (Spark's long cast floors; the oracle must floor(epoch())
    too — DuckDB's bigint cast ROUNDS), and the bucket is
    ``length(bin(gap))`` — the bit length of an exact integer,
    rendered identically by both engines' ``bin`` — never
    floor(log2(double)), whose libm last-ulp can flip at exact powers
    of two. Shape: one user-keyed lag window (parallel by user), then
    a ≤64-group aggregate with a broadcast 1-row total."""
    from ..functions.rounding import pround_iratio

    e = load_table(spark, "events", sf_dir)
    sec = F.col("ts").cast("long")
    prev = F.lag(sec).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
    gaps = (e.select((sec - prev).alias("gap"))
            .filter(F.col("gap").isNotNull()))
    bucket = F.when(F.col("gap") == 0, F.lit(0)) \
        .otherwise(F.length(F.bin("gap"))).cast("int")
    per = gaps.groupBy(bucket.alias("bucket")) \
        .agg(F.count(F.lit(1)).alias("_n"))
    tot = gaps.agg(F.count(F.lit(1)).alias("_t"))
    lo = F.when(F.col("bucket") == 0, F.lit(0)) \
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")) \
        .cast("long")
    return (per.join(F.broadcast(tot))
            .select("bucket", lo.alias("lo_seconds"),
                    F.col("_n").cast("long").alias("n_gaps"),
                    pround_iratio(F.col("_n"), F.col("_t"))
                    .alias("share_frac"))
            .orderBy("bucket"))


def value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability drift screen between the FIRST and SECOND
    half of the event timeline → one row per value bucket
    ``(bucket, n_a, n_b, p_micro, q_micro, contrib_micro)`` — the
    "did the metric's distribution shift" monitor run before trusting
    a trained model on this week's traffic. ``contrib_micro`` is the
    per-bucket term of the χ²-style divergence Σ (p−q)²/(p+q); the
    classic PSI's log-ratio is deliberately NOT used — ln() is a libm
    call whose last-ulp differs across engines, while this statistic
    is exact integer arithmetic end to end.

    Integer-exact: the timeline splits at the integer midpoint of
    floored epoch seconds ((min+max) DIV 2 — no double time math),
    the bucket is the bit length of exact CENTS (``bin()`` rendering,
    as in :func:`interarrival_hist`), shares are remainder-exact
    integer micros, and the contribution is ``(p−q)² DIV (p+q)`` on
    those BIGINT micros. Shape: one min/max aggregate (broadcast
    back), one ≤64-group conditional aggregate — two corpus passes,
    no window, nothing corpus-sized downstream."""
    e = load_table(spark, "events", sf_dir)
    sec = F.col("ts").cast("long")
    bounds = e.agg(F.min(sec).alias("_lo"), F.max(sec).alias("_hi"))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    bucket = F.when(cents == 0, F.lit(0)) \
        .otherwise(F.length(F.bin(cents))).cast("int")
    per = (e.join(F.broadcast(bounds))
           .select(bucket.alias("bucket"),
                   F.expr("CAST(CASE WHEN CAST(ts AS LONG) > "
                          "(_lo + _hi) DIV 2 THEN 1 ELSE 0 END AS INT)")
                   .alias("_b"))
           .groupBy("bucket")
           .agg(F.sum(1 - F.col("_b")).alias("_na"),
                F.sum("_b").alias("_nb")))
    tot = per.agg(F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb"))

    def _micro(n, t):
        a = n.cast("decimal(30,0)") * F.lit(2_000_000) + t
        b = t.cast("decimal(30,0)") * F.lit(2)
        return ((a - a % b) / b).cast("long")

    named = (per.join(F.broadcast(tot))
             .select("bucket",
                     F.col("_na").cast("long").alias("n_a"),
                     F.col("_nb").cast("long").alias("n_b"),
                     _micro(F.col("_na"), F.col("_ta")).alias("p_micro"),
                     _micro(F.col("_nb"), F.col("_tb")).alias("q_micro")))
    return (named.withColumn(
        "contrib_micro",
        F.expr("CASE WHEN p_micro + q_micro > 0 THEN "
               "(p_micro - q_micro) * (p_micro - q_micro) "
               "DIV (p_micro + q_micro) ELSE CAST(0 AS BIGINT) END"))
        .orderBy("bucket"))


def conversion_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival lifetable for view→purchase conversion → one
    row per log2 day-bucket ``(bucket, lo_days, n_events, n_censored,
    at_risk, hazard_frac)`` — the actuarial "how fast do users
    convert, and at what rate per horizon" table (Kaplan-Meier's
    discrete sibling; hazard_b = events_b / at-risk-at-bucket-start).

    Exact and engine-stable: durations are whole-day integers (first
    qualifying purchase day − first view day; users who never convert
    are right-CENSORED at the global max event day), the bucket is
    the integer bit length (the :func:`interarrival_hist` trick), the
    at-risk count is N minus the cumulative exits BEFORE the bucket
    (one window over the ≤64-row bucket table — §12 bounded), and the
    hazard is the remainder-exact integer ratio. Denominator is
    always positive: a bucket's own members are at risk at its start.
    Shape: one user-level rollup (user-keyed partials), one scalar
    horizon broadcast, one ≤64-group aggregate + bounded window."""
    from ..functions.rounding import pround_iratio

    e = load_table(spark, "events", sf_dir)
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
    per_user = (e.select("user_id", "event_type", day.alias("_d"))
                .groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("_d"))).alias("_fv"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.col("_d"))).alias("_fp")))
    horizon = e.agg(F.max(day).alias("_h"))
    u = (per_user.filter(F.col("_fv").isNotNull())
         .join(F.broadcast(horizon))
         .select(
             F.when(F.col("_fp").isNotNull()
                    & (F.col("_fp") >= F.col("_fv")), 1).otherwise(0)
             .alias("_ev"),
             F.when(F.col("_fp").isNotNull()
                    & (F.col("_fp") >= F.col("_fv")),
                    F.col("_fp") - F.col("_fv"))
             .otherwise(F.col("_h") - F.col("_fv")).alias("_dur")))
    bucket = F.when(F.col("_dur") == 0, F.lit(0)) \
        .otherwise(F.length(F.bin("_dur"))).cast("int")
    per = (u.select(bucket.alias("bucket"), "_ev")
           .groupBy("bucket")
           .agg(F.sum("_ev").alias("_nev"),
                F.sum(1 - F.col("_ev")).alias("_ncen")))
    n_tot = u.agg(F.count(F.lit(1)).alias("_n"))
    wb = Window.orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, -1)
    lo = F.when(F.col("bucket") == 0, F.lit(0)) \
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")) \
        .cast("long")
    return (per.join(F.broadcast(n_tot))
            .withColumn("_exits_before",
                        F.coalesce(F.sum(F.col("_nev") + F.col("_ncen"))
                                   .over(wb), F.lit(0)))
            .select("bucket", lo.alias("lo_days"),
                    F.col("_nev").cast("long").alias("n_events"),
                    F.col("_ncen").cast("long").alias("n_censored"),
                    (F.col("_n") - F.col("_exits_before")).cast("long")
                    .alias("at_risk"),
                    pround_iratio(F.col("_nev"),
                                  F.col("_n") - F.col("_exits_before"))
                    .alias("hazard_frac"))
            .orderBy("bucket"))


def concurrent_sessions_timeline(spark: SparkSession, sf_dir: str,
                                 gap_minutes: int = 30) -> DataFrame:
    """Scan-line concurrency curve over the sessionized events → one
    row per hour WHERE THE COUNT CHANGES ``(hour_idx, net,
    concurrent)`` — how many sessions are simultaneously open
    (capacity planning / peak-load readout). ``hour_idx`` is the
    epoch-hour integer (floored epoch DIV 3600 — no timezone-bearing
    timestamp math crosses the engine boundary), ``net`` the +starts
    −ends delta in that hour, ``concurrent`` the running count.

    The interval-stabbing pattern WITHOUT an interval join: each
    session emits +1 at its start hour and −1 at (end hour + 1), the
    deltas contract to one row per active hour (map-side partials),
    and ONE cumulative window over that |hours|-bounded table (≈61k
    rows for TPC-H's 7-year clock — §12 histogram class) yields the
    concurrency. Joining events against hour ranges would be
    O(sessions·duration); this is O(sessions + hours)."""
    s = sessionize(spark, sf_dir, gap_minutes)
    hs = F.expr("CAST(session_start AS LONG) DIV 3600")
    he = F.expr("CAST(session_end AS LONG) DIV 3600")
    deltas = (s.select(hs.alias("h"), F.lit(1).alias("_d"))
              .unionByName(s.select((he + 1).alias("h"),
                                    F.lit(-1).alias("_d"))))
    net = deltas.groupBy("h").agg(F.sum("_d").alias("net"))
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    return (net.select(F.col("h").cast("long").alias("hour_idx"),
                       F.col("net").cast("long").alias("net"),
                       F.sum("net").over(w).cast("long")
                       .alias("concurrent"))
            .orderBy("hour_idx"))


def gap_session_events(spark: SparkSession, sf_dir: str,
                       gap_min: int = 30, max_len: int = 50) -> DataFrame:
    """Shared sequence-mining input: 30-min-gap sessionized events with
    within-session row numbers → ``(user_id, _sid, event_type, _rn)``,
    truncated at ``max_len`` events per session (the scale bound both
    sequential-pattern queries inherit). Same session derivation as
    ``top_session_paths``; order is the deterministic ``(ts,
    event_id)``."""
    e = load_table(spark, "events", sf_dir) \
        .select("user_id", "event_id", "ts", "event_type")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (F.when(
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(w_user) > gap_min * 60,
        1).otherwise(0))
    sess = (e.withColumn("_new", F.coalesce(new_sess, F.lit(1)))
            .withColumn("_sid", F.sum("_new").over(
                w_user.rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))))
    w_sess = Window.partitionBy("user_id", "_sid").orderBy("ts", "event_id")
    return (sess.withColumn("_rn", F.row_number().over(w_sess))
            .filter(F.col("_rn") <= max_len)
            .select("user_id", "_sid", "event_type", "_rn"))


def sequential_rules(spark: SparkSession, sf_dir: str, k: int = 20,
                     gap_min: int = 30, max_len: int = 50) -> DataFrame:
    """Gap-allowed sequential association rules over gap sessions →
    ``(antecedent, consequent, n_sessions, n_antecedent,
    confidence_micro, rank)`` — top-``k`` "users who do A later do B"
    patterns. The sequence-mining contract the repo's neighbors don't
    cover: ``event_transitions`` counts only CONSECUTIVE bigrams,
    ``top_session_paths`` only session OPENINGS, and basket rules
    (``association_rules_topk``) ignore order entirely; here A→B
    matches positions i < j ANYWHERE in the session (PrefixSpan's
    length-2 pattern class), counted once per session.

    Determinism contract (what the oracle recomputes): sessions are the
    30-min-gap sessions (same derivation as ``top_session_paths``);
    within-session order is ``(ts, event_id)`` row_number; sessions
    truncate at ``max_len`` events (the scale bound — see below); a
    pattern counts once per session (DISTINCT); confidence =
    ``n_sessions(A then B) * 1e6 DIV n_sessions(A in first max_len)``
    in exact integer floor micro-units; rank by
    ``(n_sessions DESC, antecedent ASC, consequent ASC)``. A→A is a
    valid pattern (the type recurs later in the session).

    Scale shape: one user-keyed window pass to sessionize, then a
    SESSION-keyed equi self-join — candidate pairs are O(len²) per
    session, hard-capped at ``max_len²`` by the truncation (the same
    bound PrefixSpan implementations impose), never cross-session; the
    DISTINCT and both counts partial-aggregate map-side on
    (session/pattern) keys. The rule table is |type-pairs|-sized, the
    top-k single-partition sort |rules|-sized — nothing corpus-sized
    leaves the session-keyed stages."""
    ev = gap_session_events(spark, sf_dir, gap_min=gap_min,
                            max_len=max_len)
    a = ev.select("user_id", "_sid",
                  F.col("event_type").alias("antecedent"),
                  F.col("_rn").alias("_ra"))
    b = ev.select("user_id", "_sid",
                  F.col("event_type").alias("consequent"),
                  F.col("_rn").alias("_rb"))
    pat = (a.join(b, ["user_id", "_sid"])
           .filter(F.col("_ra") < F.col("_rb"))
           .select("user_id", "_sid", "antecedent", "consequent")
           .distinct())
    n_ab = pat.groupBy("antecedent", "consequent").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"))
    n_a = (ev.select("user_id", "_sid",
                     F.col("event_type").alias("antecedent")).distinct()
           .groupBy("antecedent")
           .agg(F.count(F.lit(1)).cast("long").alias("n_antecedent")))
    rules = (n_ab.join(n_a, "antecedent")
             .withColumn("confidence_micro",
                         F.expr("CAST(n_sessions * 1000000 DIV "
                                "n_antecedent AS BIGINT)")))
    top = (rules.orderBy(F.col("n_sessions").desc(),
                         F.col("antecedent").asc(),
                         F.col("consequent").asc())
           .limit(k))
    w_rank = Window.orderBy(F.col("n_sessions").desc(),
                            F.col("antecedent").asc(),
                            F.col("consequent").asc())
    return (top.withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .select("antecedent", "consequent", "n_sessions",
                    "n_antecedent", "confidence_micro", "rank")
            .orderBy("rank"))


def sequential_patterns3(spark: SparkSession, sf_dir: str, k: int = 20,
                         gap_min: int = 30,
                         max_len: int = 50) -> DataFrame:
    """Length-3 sequential patterns A→B→C over gap sessions →
    ``(first_type, second_type, third_type, n_sessions, n_pair,
    confidence_micro, rank)`` — PrefixSpan's length-3 pattern class
    (Pei et al. 2001), extending :func:`sequential_rules`' length-2
    rules: a pattern matches positions i < j < l ANYWHERE in the
    session, counted once per session; ``confidence_micro`` is the
    rule AB→C, ``n_sessions(A then B then C) * 1e6 DIV
    n_sessions(A then B)`` in exact integer floor micro-units.

    Scale shape — NO length-cubed stage. A naive 3-way self-join emits
    C(len,3) candidates per session; instead the subsequence-greedy
    identity (A→B→C exists iff some C follows the EARLIEST position at
    which A-then-B completes) reduces the work to the SAME O(len²)
    pair join as the length-2 query, a (session, a, b)-keyed min
    aggregation — at most |types|² rows per session, type cardinality
    is small and fixed — and one session-keyed join of that bounded
    table back against the events (fan-out |types|²·len, linear in
    len). All keys are session-scoped (map-side partials, never
    cross-session); the rule table is |type-triples|-sized and the
    top-k sort |rules|-sized.

    Determinism contract (what the oracle recomputes): sessions,
    ordering, and ``max_len`` truncation exactly as
    :func:`gap_session_events`; earliest-completion positions and all
    counts are exact BIGINTs; rank by ``(n_sessions DESC, first ASC,
    second ASC, third ASC)``. Types may repeat (A→A→A is valid when
    the type occurs 3+ times)."""
    ev = gap_session_events(spark, sf_dir, gap_min=gap_min,
                            max_len=max_len)
    a = ev.select("user_id", "_sid",
                  F.col("event_type").alias("first_type"),
                  F.col("_rn").alias("_ra"))
    b = ev.select("user_id", "_sid",
                  F.col("event_type").alias("second_type"),
                  F.col("_rn").alias("_rb"))
    # earliest completion of A-then-B per (session, a, b): min j over
    # pairs i < j — the greedy frontier every later C must clear
    pair_min = (a.join(b, ["user_id", "_sid"])
                .filter(F.col("_ra") < F.col("_rb"))
                .groupBy("user_id", "_sid", "first_type", "second_type")
                .agg(F.min("_rb").alias("_jmin")))
    c = ev.select("user_id", "_sid",
                  F.col("event_type").alias("third_type"),
                  F.col("_rn").alias("_rc"))
    triples = (pair_min.join(c, ["user_id", "_sid"])
               .filter(F.col("_rc") > F.col("_jmin"))
               .select("user_id", "_sid", "first_type", "second_type",
                       "third_type")
               .distinct())
    n_abc = triples.groupBy("first_type", "second_type", "third_type") \
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    n_ab = (pair_min.groupBy("first_type", "second_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pair")))
    rules = (n_abc.join(n_ab, ["first_type", "second_type"])
             .withColumn("confidence_micro",
                         F.expr("CAST(n_sessions * 1000000 DIV "
                                "n_pair AS BIGINT)")))
    order = [F.col("n_sessions").desc(), F.col("first_type").asc(),
             F.col("second_type").asc(), F.col("third_type").asc()]
    w_rank = Window.orderBy(*order)
    return (rules.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .select("first_type", "second_type", "third_type",
                    "n_sessions", "n_pair", "confidence_micro", "rank")
            .orderBy("rank"))
