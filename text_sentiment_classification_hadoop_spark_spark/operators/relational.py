"""Relational operator coverage (SURVEY.md §2.1-§2.8) exercised on the
driver's TPC-H-ish tables.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame, with a
1:1 ANSI-SQL oracle in ``__spark_entry__.oracle_sql()``. Together they
cover: scans S1-S4, projection/filter P3-P7, aggregations A1-A8
(group-by with partial agg, conditional counts, COUNT(DISTINCT), global
aggregates), joins J1-J4 (broadcast inner, left-outer + coalesce(0),
scalar broadcast), sort O1-O2, union U1, plus the window/top-k
operators the north star adds (§2.11).

Scale notes are per-function docstrings; the common themes:
- dims (region/nation/customer) are broadcast — no shuffle of the fact;
- aggregates rely on Catalyst partial aggregation (map-side combine);
- money sums go through DECIMAL(18,2) (``functions.rounding.dsum``) —
  exact and associative, so the result is independent of partial-agg
  order (double sums flipped a 2-dp rounding boundary run-to-run);
  non-money doubles are rounded at the output edge only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_frame

from ..functions.rounding import davg, dec2, dsum, pround, pround_avg2
from ..sources.tables import load_table


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4/A8 analog: grouped multi-aggregate over the fact table
    (TPC-H Q1 shape). One shuffle on the 6-value group key; partial
    aggregation makes shuffle volume O(groups), not O(rows)."""
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.filter(F.col("l_shipdate") < F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            # the discounted price is computed IN decimal (both factors
            # are exact 2-dp values) so the product and its sum are exact
            F.sum(dec2(F.col("l_extendedprice"))
                  * (F.lit(1) - dec2(F.col("l_discount"))))
            .cast("double").alias("sum_disc_price"),
            # integer-exact rounded mean: pround(avg) is FMA-sensitive
            # across engines (the r1/r3 sql_pricing_summary red row)
            pround_avg2(F.col("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: chained broadcast hash joins (customer⋈nation⋈region dims
    broadcast; orders fact never shuffled for the join) + group-by.
    The Spark-native form of the reference's replicated-HashMap
    map-side join (``NB.java:163-187``)."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(dsum(F.col("o_totalprice")).alias("total_revenue"),
             F.count(F.lit(1)).alias("order_count"))
        .orderBy("r_name")
    )


def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact COUNT(DISTINCT) per group (the reference's
    FEATURES_SIZE vocabulary count, ``NB.java:107``). At 100 TB an
    ``approx_count_distinct`` variant avoids the distinct expand —
    provided separately in the bench."""
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("distinct_parts"),
             F.count(F.lit(1)).alias("line_count"))
        .orderBy("l_suppkey")
    )


def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: multi-conditional counts in ONE pass (the reference's 11
    global counters, ``NB.java:27-39`` — one scan, no shuffle beyond a
    single-row reduce)."""
    o = load_table(spark, "orders", sf_dir)
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_pending"),
        F.sum(F.when(F.col("o_totalprice") > 100000.0, dec2(F.col("o_totalprice")))
               .otherwise(F.lit(0).cast("decimal(18,2)")))
        .cast("double").alias("high_value_total"),
    )


def union_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/S3: UNION ALL of two scans then aggregate (the reference's
    multi-directory input union, ``SVM.java:180-182``)."""
    o = load_table(spark, "orders", sf_dir)
    hi = o.filter(F.col("o_totalprice") >= 200000.0)
    lo = o.filter(F.col("o_totalprice") < 50000.0)
    return (
        hi.unionAll(lo)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("o_totalprice")).alias("total"))
        .orderBy("o_orderpriority")
    )


def global_sort_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: global sort surfaced as an explicit rank so the order is
    value-checkable (the reference's accidental single-reducer sort,
    ``NB.java:318-328``). Range-partitioned sort → rank; at scale
    prefer ``sortWithinPartitions`` unless a total order is required."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select("o_orderkey", "o_totalprice")
        .withColumn("price_rank", F.row_number().over(w))
        .filter(F.col("price_rank") <= 100)
        .orderBy("price_rank")
    )


def customer_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 semantics: left outer join + coalesce(0) — unmatched keys
    contribute zero, exactly the SVM weight probe
    ``getOrDefault(w, 0.0)`` (``SVM.java:141``)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = o.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice")).alias("_total"), F.count(F.lit(1)).alias("_n"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_total"), F.lit(0.0)).alias("order_total"),
            F.coalesce(F.col("_n"), F.lit(0)).alias("order_count"),
        )
        .orderBy("c_custkey")
    )


def above_avg_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: scalar broadcast — a global aggregate joined back against the
    fact (the reference's Configuration-scalar push,
    ``NB.java:305-316``). Catalyst plans the scalar side as a 1-row
    broadcast; the fact scan stays pushdown-filtered."""
    l = load_table(spark, "lineitem", sf_dir)
    avg_df = l.agg(davg(F.col("l_extendedprice")).alias("_avg"))
    return (
        l.crossJoin(F.broadcast(avg_df))
        .filter(F.col("l_extendedprice") > 2 * F.col("_avg"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_above"),
             F.max("l_extendedprice").alias("max_price"))
        .orderBy("l_returnflag")
    )


def filtered_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3-P7 + O4: narrow-only plan (projection + filter, zero
    exchanges — the reference's map-only job, ``SVM.java:195``).
    Filter and 4-column projection both push into the parquet scan."""
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45))
        .select("l_orderkey", "l_linenumber", "l_quantity",
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("net_price"))
        .orderBy("l_orderkey", "l_linenumber")
    )


def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star window/top-k (absent from the reference, §2.11):
    row_number over (brand, retailprice desc) — one hash-partitioned
    sort per group key; no global sort."""
    p = load_table(spark, "part", sf_dir)
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc())
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "rk", "p_partkey", "p_name",
                "p_retailprice")
        .orderBy("p_brand", "rk")
    )


def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star grouping-sets coverage (§2.11): ROLLUP over
    (status, priority) — Catalyst expands to grouping sets in one
    shuffle."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("o_totalprice")).alias("total"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(),
                 F.col("o_orderpriority").asc_nulls_first())
    )


def semi_anti_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star semi/anti joins (absent from reference, §2.11):
    customers with ≥1 open order (LEFT SEMI) and with none (LEFT ANTI),
    both broadcast-able on the dim side."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "O")
    with_open = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    without_open = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        with_open.agg(F.count(F.lit(1)).alias("n")).select(F.lit("with_open").alias("bucket"), "n")
        .unionAll(
            without_open.agg(F.count(F.lit(1)).alias("n")).select(F.lit("without_open").alias("bucket"), "n"))
        .orderBy("bucket")
    )

def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions (north-star gap §2.11): month truncation +
    extraction over order dates. One shuffle keyed on month — ~84
    groups regardless of scale."""
    from ..sources.tables import load_table
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mon"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("total"))
        .orderBy("month_start")
    )


QUANTITY_BANDS: list[tuple[str, int, int]] = [
    ("01-10", 1, 10), ("11-20", 11, 20), ("21-30", 21, 30),
    ("31-40", 31, 40), ("41-50", 41, 50),
]


def quantity_band_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (banding) join — north-star interval-join coverage (§2.11):
    every lineitem mapped into a quantity band via
    ``lo <= l_quantity <= hi``, then aggregated per band.

    The band table is a handful of rows, so Catalyst plans a broadcast
    nested-loop join — the correct physical strategy for a non-equi
    join against a tiny interval dim; the fact side streams through
    narrow. Never shuffle the fact for a banding join."""
    l = load_table(spark, "lineitem", sf_dir)
    bands = local_frame(spark, QUANTITY_BANDS, "band STRING, lo INT, hi INT")
    return (
        l.join(F.broadcast(bands),
               (F.col("l_quantity") >= F.col("lo"))
               & (F.col("l_quantity") <= F.col("hi")))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("l_extendedprice")).alias("total_price"))
        .orderBy("band")
    )


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (north-star sketch/
    quantile surface): p25/p50/p75 of l_extendedprice per returnflag.

    ``percentile()`` is exact (sort-based) — right for the oracle gate;
    at 100 TB swap in ``approx_percentile`` (KLL-style, mergeable,
    one pass, no sort) — same call shape, documented here so the
    swap is a one-liner."""
    l = load_table(spark, "lineitem", sf_dir)
    q = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
    return (
        l.groupBy("l_returnflag")
        .agg(q.alias("_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            pround(F.col("_q")[0], 6).alias("p25"),
            pround(F.col("_q")[1], 6).alias("p50"),
            pround(F.col("_q")[2], 6).alias("p75"),
            "n",
        )
        .orderBy("l_returnflag")
    )


def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covar_samp / stddev_samp) per
    group, computed from EXACT raw sums rather than the built-in moment
    aggregates: quantities are integer-valued (double sums of integers
    are exact at any order) and prices are 2-dp money (decimal sums are
    exact), so Σx, Σx², Σy, Σy², Σxy are all order-independent and the
    closed-form moments derived from them in double are bit-identical
    across engines — the built-ins' running-moment merges are not.
    Still one pass / one shuffle of O(groups) five-sum rows."""
    l = load_table(spark, "lineitem", sf_dir)
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(q).alias("_sx"),                      # exact: integer-valued
        F.sum(q * q).alias("_sxx"),                 # exact: integer-valued
        F.sum(dec2(p)).cast("double").alias("_sy"),  # exact: 2-dp money
        F.sum(dec2(p) * dec2(p)).cast("double").alias("_syy"),   # exact 4-dp
        F.sum(q.cast("decimal(18,0)") * dec2(p)).cast("double").alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx, sxx = F.col("_sx"), F.col("_sxx")
    sy, syy, sxy = F.col("_sy"), F.col("_syy"), F.col("_sxy")
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    covar = (sxy - (sx * sy) / n) / (n - F.lit(1.0))
    stddev = F.sqrt((syy - (sy * sy) / n) / (n - F.lit(1.0)))
    return (
        sums.select(
            "l_returnflag",
            pround(corr, 6).alias("qty_price_corr"),
            pround(covar, 6).alias("qty_price_covar"),
            pround(stddev, 6).alias("price_stddev"),
            F.col("_n").alias("n"),
        )
        .orderBy("l_returnflag")
    )


def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the rollup/cube queries): totals
    by status alone, by priority alone, and the grand total — three
    grouping sets in ONE shuffle (Catalyst expands rows with a
    grouping-id, no triple scan)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("o_totalprice")).alias("total"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(),
                 F.col("o_orderpriority").asc_nulls_first())
    )


def intersect_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set ops (absent from the reference — §2.8
    lists union only): customers holding both open and finished orders
    vs. open-only. Both compile to aggregate-style hash joins keyed on
    the full row — one shuffle each side."""
    o = load_table(spark, "orders", sf_dir)
    open_k = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin_k = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = open_k.intersect(fin_k)
    open_only = open_k.distinct().exceptAll(fin_k.distinct())
    return (
        both.select(F.lit("open_and_finished").alias("bucket"), "o_custkey")
        .unionAll(open_only.select(F.lit("open_only").alias("bucket"), "o_custkey"))
        .orderBy("bucket", "o_custkey")
    )


def top_orders_per_customer(spark: SparkSession, sf_dir: str,
                            n: int = 3) -> DataFrame:
    """Per-group top-N (north-star window coverage, §2.11): each
    customer's ``n`` most expensive orders, ranked.

    One shuffle on o_custkey, then a per-group sort feeds row_number —
    no global sort. AQE handles skewed customers. (The sort+limit trick
    from the global top-k queries doesn't apply here: per-GROUP top-N
    genuinely needs the partitioned window.) Tie-break on o_orderkey
    pins the ranking deterministically across engines."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey",
                 pround(F.col("o_totalprice"), 2).alias("price"),
                 F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= n)
        .orderBy("o_custkey", "rk")
    )


def orders_above_global_avg(spark: SparkSession, sf_dir: str,
                            factor: float = 1.5) -> DataFrame:
    """Scalar-subquery filter (§2.8 coverage beyond the reference):
    orders priced above ``factor ×`` the global average.

    Expressed as a broadcast of the one-row global aggregate cross-
    joined into the scan — the same physical shape Catalyst produces
    for an uncorrelated scalar subquery: the fact table is scanned
    once, never shuffled; the aggregate is a separate tiny job whose
    single row rides the broadcast."""
    o = load_table(spark, "orders", sf_dir)
    avg_row = o.agg(davg(F.col("o_totalprice")).alias("_avg"))
    return (
        o.join(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > factor * F.col("_avg"))
        .select("o_orderkey", "o_custkey",
                pround(F.col("o_totalprice"), 2).alias("price"))
        .orderBy("o_orderkey")
    )


def order_stats_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (north-star relational coverage, §2.11): per-status
    price stats turned long-form → ``(o_orderstatus, stat, value)``.

    Aggregate first (tiny result), then ``DataFrame.unpivot`` — a
    narrow generate over the already-reduced rows, so the melt itself
    never touches the fact table; at 100 TB the only shuffle is the
    status aggregation, which AQE collapses to a handful of groups."""
    o = load_table(spark, "orders", sf_dir)
    stats = o.groupBy("o_orderstatus").agg(
        dsum(F.col("o_totalprice")).alias("sum_price"),
        pround(davg(F.col("o_totalprice")), 2).alias("avg_price"),
        pround(F.min("o_totalprice"), 2).alias("min_price"),
        pround(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return (
        stats.unpivot(
            ids=["o_orderstatus"],
            values=["sum_price", "avg_price", "min_price", "max_price"],
            variableColumnName="stat", valueColumnName="value")
        .orderBy("o_orderstatus", "stat")
    )


def order_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth (north-star §2.11 — the full ranking
    family, not just row_number): rank / dense_rank / percent_rank /
    cume_dist over a NON-unique ordering (price bands — these four are
    tie-aware, so peers order-independently), plus ntile / lag / lead
    over a unique ordering (ntile and offsets depend on peer order, so
    the sort key must be total). One shuffle on o_orderstatus; both
    windows share the partition, so Catalyst plans a single exchange
    with two Window nodes."""
    o = load_table(spark, "orders", sf_dir)
    band = F.floor(F.col("o_totalprice") / 50000).cast("long")
    w_band = Window.partitionBy("o_orderstatus").orderBy(band)
    w_uniq = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select(
            "o_orderkey", "o_orderstatus",
            band.alias("price_band"),
            F.rank().over(w_band).alias("band_rank"),
            F.dense_rank().over(w_band).alias("band_dense_rank"),
            F.percent_rank().over(w_band).alias("band_pct_rank"),
            F.cume_dist().over(w_band).alias("band_cume_dist"),
            F.ntile(4).over(w_uniq).alias("price_quartile"),
            pround(F.lag("o_totalprice").over(w_uniq), 2).alias("prev_price"),
            pround(F.lead("o_totalprice").over(w_uniq), 2).alias("next_price"),
        )
        .orderBy("o_orderkey")
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (north-star gap §2.11): all 4 grouping
    combinations of (status, priority) in one pass — Spark expands to a
    single shuffle with a grouping-id column."""
    from ..sources.tables import load_table
    o = load_table(spark, "orders", sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("o_totalprice")).alias("total"))
        .orderBy(F.col("o_orderstatus").asc_nulls_first(),
                 F.col("o_orderpriority").asc_nulls_first())
    )


def rolling_revenue(spark: SparkSession, sf_dir: str,
                    days: int = 30) -> DataFrame:
    """Per-customer rolling ``days``-day revenue — the RANGE window
    frame (value-based, not row-based): every order sees the sum of
    its customer's orders dated within the trailing window →
    ``(o_orderkey, o_custkey, o_orderdate, rolling_revenue)``.

    Ordering key is integer epoch-days (identical in both engines
    regardless of timestamp time parts) so ``rangeBetween(-days, 0)``
    is portable; the money sum is DECIMAL(18,2) over the frame — exact
    and order-independent, the standard determinism contract. One
    hash exchange on o_custkey; the per-customer sort is
    partition-local."""
    o = load_table(spark, "orders", sf_dir)
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
    w = (Window.partitionBy("o_custkey").orderBy(day)
         .rangeBetween(-days, 0))
    return (o.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("rolling_revenue"))
        .orderBy("o_orderkey"))


def pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) query — the classic "best tradeoffs"
    analytic Spark has no native operator for: orders not DOMINATED on
    (higher price, more recent date); a row is dominated if some other
    row is ≥ on both dimensions and > on at least one.

    2-D skylines need no pairwise join: collapse to one row per price
    TIER (max date per price — anything else in the tier is dominated
    within it), then a ROWS-frame running max of tier dates over
    strictly higher tiers decides dominance — aggregation + one
    tier-table window, vs the naive O(n²) anti-join. A ROWS frame on
    the DEDUPED tier table sidesteps the decimal-tick RANGE-offset
    trap ("1 FOLLOWING" in price units is not "next tier").

    The tier window is single-partition but tier-table-sized; at
    corpus scale pre-filter with a coarse price grid (keep each
    cell's local max) so the exact pass sees only cell winners — the
    two-phase shape of the PPS sampler."""
    from pyspark.sql import Window
    o = load_table(spark, "orders", sf_dir)
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
    price_c = F.col("o_totalprice").cast("decimal(18,2)")
    base = o.select("o_orderkey", price_c.alias("price"),
                    day.alias("day"))
    tiers = base.groupBy("price").agg(F.max("day").alias("_tier_day"))
    # "max day over STRICTLY higher tiers" as a GROWING frame: Spark
    # evaluates (1, unboundedFollowing) shrinking frames by per-row
    # recomputation — O(tiers²), measured 306 s at sf0.1 with ~150k
    # near-unique prices. Order DESC, take the incremental running max
    # INCLUDING current, and lag it by one: identical semantics, O(n).
    w_desc = Window.orderBy(F.col("price").desc())
    run_incl = F.max("_tier_day").over(
        w_desc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tier_flags = (tiers.withColumn("_run", run_incl)
                  .withColumn("_hi_day", F.lag("_run", 1).over(w_desc)))
    frontier_tiers = tier_flags.filter(
        F.col("_hi_day").isNull() | (F.col("_tier_day") > F.col("_hi_day")))
    return (base.join(frontier_tiers, "price")
            .filter(F.col("day") == F.col("_tier_day"))
            .select("o_orderkey",
                    F.col("price").cast("double").alias("price"),
                    F.col("day").cast("long").alias("day"))
            .orderBy("o_orderkey"))


def shipping_priority(spark: SparkSession, sf_dir: str,
                      segment: str = "BUILDING",
                      cutoff: str = "1997-06-30", k: int = 10) -> DataFrame:
    """TPC-H Q3 shape (shipping priority) → the ``k`` highest-revenue
    un-shipped orders for one market segment:
    ``(l_orderkey, revenue, o_orderdate)``.

    The canonical selective 3-way star join: the segment filter prunes
    customer to ~1/5 BEFORE its broadcast, the date predicates push
    into both fact scans (`PushedFilters` on o_orderdate / l_shipdate),
    customer broadcasts into orders, the filtered orders side
    broadcasts into lineitem when it fits (AQE decides at runtime; at
    100 TB it becomes the one orderkey-keyed shuffle), and the top-k is
    TakeOrderedAndProject — never a global sort. Revenue is the exact
    decimal ``Σ extprice·(1−discount)`` (associative, order-proof);
    ties rank by orderkey so the LIMIT edge is deterministic."""
    c = load_table(spark, "customer", sf_dir) \
        .filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = load_table(spark, "orders", sf_dir) \
        .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")) \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    l = load_table(spark, "lineitem", sf_dir) \
        .filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")) \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.sum(dec2(F.col("l_extendedprice"))
                * (F.lit(1) - dec2(F.col("l_discount")))).cast("double")
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(rev.alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(k)
            .select("l_orderkey", "revenue", "o_orderdate"))


def local_supplier_volume(spark: SparkSession, sf_dir: str,
                          region: str = "ASIA",
                          date_lo: str = "1996-01-01",
                          date_hi: str = "1997-01-01") -> DataFrame:
    """TPC-H Q5 shape (local supplier volume) → per-nation revenue from
    lineitems where the CUSTOMER and the SUPPLIER share a nation inside
    one region: ``(n_name, revenue)``, revenue-descending.

    The interesting plan property is the nation CORRELATION (
    ``c_nationkey = s_nationkey``): it is not a star edge — it closes a
    cycle between the two dimension arms. Spark-first layout: the
    region filter prunes nation BEFORE anything (5 rows → 1 region's
    nations, broadcast); supplier and customer each broadcast-join that
    pruned nation list (both dims shrink ~1/5 before touching a fact);
    lineitem ⋈ supplier hashes on suppkey, orders joins on orderkey,
    customer on custkey, and the cycle closes as a cheap residual
    equality on two already-present nationkey columns — never a second
    fact pass. At 100 TB the only big exchanges are the two fact
    shuffles (orderkey, custkey); every dimension is broadcast. Date
    predicates push to the orders scan. Revenue is the exact decimal
    ``Σ extprice·(1−discount)``."""
    r = load_table(spark, "region", sf_dir) \
        .filter(F.col("r_name") == region).select("r_regionkey")
    n = (load_table(spark, "nation", sf_dir)
         .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
         .select("n_nationkey", "n_name"))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_nationkey", "n_name"))
    c = (load_table(spark, "customer", sf_dir)
         .join(F.broadcast(n.select("n_nationkey")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", "c_nationkey"))
    o = (load_table(spark, "orders", sf_dir)
         .filter((F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    l = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    rev = F.sum(dec2(F.col("l_extendedprice"))
                * (F.lit(1) - dec2(F.col("l_discount")))).cast("double")
    return (l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c), (F.col("o_custkey") == F.col("c_custkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .groupBy("n_name")
            .agg(rev.alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name").asc()))


def order_priority_counts(spark: SparkSession, sf_dir: str,
                          date_lo: str = "1996-01-01",
                          date_hi: str = "1996-04-01",
                          late_days: int = 90) -> DataFrame:
    """TPC-H Q4 shape (order priority checking) → per-priority count of
    one quarter's orders that had at least one LATE lineitem
    (``l_shipdate > o_orderdate + late_days`` — the testdata carries no
    commit/receipt dates, so lateness is ship-lag against the order
    date): ``(o_orderpriority, order_count)``.

    Plan shape under test: EXISTS = LEFT SEMI join with a NON-EQUI
    residual (the lateness comparison rides the orderkey equi join as a
    post-condition — still a hash join, never a nested loop), then a
    5-group aggregate. The semi join materializes each order at most
    once no matter how many late lines it has — no distinct needed.
    Date predicates push to the orders scan; the fact side shuffles on
    orderkey only."""
    o = (load_table(spark, "orders", sf_dir)
         .filter((F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp")))
         .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    l = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & \
        (F.col("l_shipdate")
         > F.col("o_orderdate") + F.expr(f"INTERVAL {int(late_days)} DAYS"))
    return (o.join(l, late, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


def returned_item_report(spark: SparkSession, sf_dir: str,
                         date_lo: str = "1996-01-01",
                         date_hi: str = "1996-07-01",
                         k: int = 20) -> DataFrame:
    """TPC-H Q10 shape (returned item reporting) → the ``k`` customers
    who returned the most revenue in a half-year window:
    ``(c_custkey, c_name, revenue, n_name)``.

    The returnflag filter prunes lineitem to ~1/3 at the SCAN
    (PushedFilters), the date window prunes orders likewise; the
    orderkey join shuffles only survivors; customer joins on custkey
    and nation broadcasts. Aggregation is keyed on the customer — the
    group count is |customers|, far below the fact — and the top-k is
    TakeOrderedAndProject (never a global sort). Exact decimal
    revenue; ties rank by custkey so the LIMIT edge is deterministic."""
    l = (load_table(spark, "lineitem", sf_dir)
         .filter(F.col("l_returnflag") == "R")
         .select("l_orderkey", "l_extendedprice", "l_discount"))
    o = (load_table(spark, "orders", sf_dir)
         .filter((F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, "nation", sf_dir) \
        .select("n_nationkey", "n_name")
    rev = F.sum(dec2(F.col("l_extendedprice"))
                * (F.lit(1) - dec2(F.col("l_discount")))).cast("double")
    return (l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(rev.alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(k)
            .select("c_custkey", "c_name", "revenue", "n_name"))


def large_volume_customers(spark: SparkSession, sf_dir: str,
                           min_qty: float = 300.0) -> DataFrame:
    """TPC-H Q18 shape (large volume customer) → every order whose total
    quantity exceeds ``min_qty``, with its customer:
    ``(c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
    sum_qty)``, largest first.

    The signature plan property: AGGREGATE BEFORE JOIN. The lineitem
    quantity rollup runs first (orderkey-keyed, map-side partials) and
    the HAVING prunes it to a tiny survivor set — only then do orders
    and customer join, both effectively against a filter-sized table
    (AQE turns the orders join into broadcast once the survivor side is
    known to be small). Joining first and aggregating later would
    shuffle the full fact twice. sum_qty is exact decimal."""
    l = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_quantity")
    big = (l.groupBy("l_orderkey")
           .agg(F.sum(dec2(F.col("l_quantity"))).cast("double")
                .alias("sum_qty"))
           .filter(F.col("sum_qty") > min_qty))
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_name")
    return (big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
            .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty"))


def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (Delta/Iceberg-style upsert) semantics as a single
    key-equi FULL OUTER join → the merged ``orders`` snapshot with its
    per-row action: ``(o_orderkey, o_totalprice, action)``,
    action ∈ {insert, update, delete, keep} (deleted rows are carried
    with their tombstone action so the audit is complete; filter
    ``action <> 'delete'`` for the new table).

    The change feed is derived deterministically from the base so the
    operator is self-contained and oracle-checkable: keys ≡ 0 (mod 7)
    get a price correction (+100.00, exact decimal), keys ≡ 5 (mod 13)
    are deleted, and every key ≡ 2 (mod 11) spawns a NEW order at
    ``key + 10^12`` — disjoint from the base key space up to sf≈166k
    (TPC-H max orderkey is 6·10^6·sf, so 10^12 clears the ~100 TB
    scale this repo designs for with 10× headroom; the old 10^7
    offset collided with base keys from sf≈1.7). Precedence when a
    key matches several rules: delete > update (MERGE's WHEN MATCHED
    order).

    Scale shape: MERGE is exactly ONE full-outer hash join on the
    table key — uniform, AQE-splittable — plus narrow CASE projection;
    no second pass, no row-by-row driver logic. At 100 TB the real
    win is file pruning (join only the files whose key ranges overlap
    the change feed — what Delta does with stats); the logical plan
    here is the same join this operator runs."""
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_totalprice")
    upd = (o.filter(F.col("o_orderkey") % 7 == 0)
           .select("o_orderkey",
                   (dec2(F.col("o_totalprice"))
                    + F.lit(100).cast("decimal(18,2)")).cast("double")
                   .alias("new_price"),
                   F.lit("update").alias("op")))
    dele = (o.filter(F.col("o_orderkey") % 13 == 5)
            .select("o_orderkey", F.lit(None).cast("double")
                    .alias("new_price"), F.lit("delete").alias("op")))
    ins = (o.filter(F.col("o_orderkey") % 11 == 2)
           .select((F.col("o_orderkey") + F.lit(1_000_000_000_000))
                   .alias("o_orderkey"),
                   F.col("o_totalprice").alias("new_price"),
                   F.lit("insert").alias("op")))
    # delete wins over update on the same key (WHEN MATCHED order)
    w = Window.partitionBy("o_orderkey").orderBy("op")  # delete < update
    changes = (upd.unionByName(dele).unionByName(ins)
               .withColumn("_rk", F.row_number().over(w))
               .filter(F.col("_rk") == 1).drop("_rk"))
    m = o.join(changes, "o_orderkey", "full_outer")
    return (m.select(
        "o_orderkey",
        F.when(F.col("op") == "delete", F.col("o_totalprice"))
        .otherwise(F.coalesce(F.col("new_price"), F.col("o_totalprice")))
        .alias("o_totalprice"),
        F.coalesce(F.col("op"), F.lit("keep")).alias("action"))
        .orderBy("o_orderkey"))


def small_quantity_revenue(spark: SparkSession, sf_dir: str,
                           brand: str = "Brand#1",
                           factor: float = 0.2) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue) → one row
    ``(avg_yearly)``: total extended price of lineitems whose quantity
    falls below ``factor ×`` their PART's average quantity, for one
    brand, divided by 7 (the benchmark's yearly normalization).

    The correlated-scalar-subquery pattern done the Spark-first way:
    the per-part average is a partkey-keyed AGGREGATE of the (brand-
    pruned) fact computed ONCE and joined back — Catalyst's rewrite of
    the correlated subquery, written explicitly so the plan is
    deterministic: brand filter prunes part at the scan, that tiny key
    list broadcasts into lineitem BEFORE the per-part aggregate (the
    fact is never aggregated un-pruned), and the threshold join back
    is partkey-keyed, co-partitioned with the aggregate's exchange.
    The average is the exact decimal mean over an exact decimal sum;
    the final division is one double op. At 100 TB the only exchange
    is the partkey aggregate of the brand's lineitems."""
    p = load_table(spark, "part", sf_dir) \
        .filter(F.col("p_brand") == brand).select("p_partkey")
    l = (load_table(spark, "lineitem", sf_dir)
         .select("l_partkey", "l_quantity", "l_extendedprice")
         .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")))
    per_part = (l.groupBy("l_partkey")
                .agg((F.sum(dec2(F.col("l_quantity"))).cast("double")
                      / F.count(F.lit(1))).alias("_avg_qty")))
    j = l.join(per_part, "l_partkey") \
        .filter(F.col("l_quantity") < F.lit(factor) * F.col("_avg_qty"))
    return j.agg((F.sum(dec2(F.col("l_extendedprice"))).cast("double")
                  / F.lit(7.0)).alias("avg_yearly"))


def orders_cdc_latest(o: DataFrame) -> DataFrame:
    """The deterministic two-version CDC log used by
    :func:`orders_cdc_apply` AND :func:`incremental_agg_maintenance`,
    compacted latest-wins per key → ``(o_orderkey, new_price, op,
    version)`` for every touched key (v1: +50.00 on keys ≡1 (mod 5),
    delete ≡3; v2: delete ≡1, +25.00 on ≡2 — net: ≡1 and ≡3 gone,
    ≡2 repriced). Compaction is ONE key-keyed window over the LOG —
    log-sized, never table-sized."""
    v1 = (o.filter(F.col("o_orderkey") % 5 == 1)
          .select("o_orderkey",
                  (dec2(F.col("o_totalprice"))
                   + F.lit(50).cast("decimal(18,2)")).cast("double")
                  .alias("new_price"),
                  F.lit("update").alias("op"), F.lit(1).alias("version"))
          .unionByName(
              o.filter(F.col("o_orderkey") % 5 == 3)
              .select("o_orderkey",
                      F.lit(None).cast("double").alias("new_price"),
                      F.lit("delete").alias("op"),
                      F.lit(1).alias("version"))))
    v2 = (o.filter(F.col("o_orderkey") % 5 == 1)
          .select("o_orderkey",
                  F.lit(None).cast("double").alias("new_price"),
                  F.lit("delete").alias("op"), F.lit(2).alias("version"))
          .unionByName(
              o.filter(F.col("o_orderkey") % 5 == 2)
              .select("o_orderkey",
                      (dec2(F.col("o_totalprice"))
                       + F.lit(25).cast("decimal(18,2)")).cast("double")
                      .alias("new_price"),
                      F.lit("update").alias("op"),
                      F.lit(2).alias("version"))))
    log = v1.unionByName(v2)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (log.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk"))


def orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-log application (the Debezium/stream-compaction pattern):
    a MULTI-VERSION change log is compacted latest-wins per key, then
    applied to the base snapshot → ``(o_orderkey, o_totalprice,
    last_version)`` of surviving rows (``last_version`` 0 = untouched).

    Complements :func:`orders_merge_upsert` (single-batch MERGE): here
    the same key can be touched by SEVERAL log versions and only the
    highest version's op counts — v1 updates keys ≡1 (mod 5) (+50.00)
    and deletes keys ≡3; v2 deletes keys ≡1 and updates keys ≡2
    (+25.00). Net: ≡1 and ≡3 gone, ≡2 repriced.

    Scale shape: log compaction is ONE key-keyed window (row_number by
    version desc) over the LOG — log-sized, not table-sized — and the
    apply is one key-equi join against the base; both share the key
    partitioning. This is exactly how a foreachBatch sink applies a
    micro-batch of Kafka CDC records to an Iceberg/Delta table."""
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_totalprice")
    latest = orders_cdc_latest(o)
    j = o.join(latest, "o_orderkey", "left")
    return (j.filter(F.coalesce(F.col("op"), F.lit("keep")) != "delete")
            .select("o_orderkey",
                    F.coalesce(F.col("new_price"), F.col("o_totalprice"))
                    .alias("o_totalprice"),
                    F.coalesce(F.col("version"), F.lit(0)).cast("int")
                    .alias("last_version"))
            .orderBy("o_orderkey"))


def _select_bucket(rows: DataFrame, bucket, k: int):
    """One histogram-selection level: aggregate ``rows`` by the
    ``bucket`` expression, locate the bucket containing the k-th
    element via a |buckets|-row cumulative scan, and return
    ``(bucket_value, bucket_count, offset)`` where ``offset`` is the
    1-indexed rank of the k-th element INSIDE that bucket. Two driver
    scalars per level (convergence-probe budget)."""
    hist = (rows.groupBy(bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .localCheckpoint(eager=True))
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    row = (cum.filter(F.col("_cum") >= k).orderBy("_b").limit(1)
           .collect()[0])
    return row["_b"], row["_c"], k - (row["_cum"] - row["_c"]), hist


def exact_median_price(spark: SparkSession, sf_dir: str,
                       bucket_rows_threshold: int = 4_000_000) -> DataFrame:
    """EXACT k-th order statistic (lower median) of ``l_extendedprice``
    WITHOUT a global sort → one row ``(n_rows, k, median)`` (zero rows
    on an empty table, matching the SQL oracle's empty join).

    ``approx_percentile`` (see ``price_quantiles``) is the 100 TB
    default, but audits and SLA math need exact quantiles; the naive
    exact form is a full global sort. This is the two-phase selection
    algorithm instead: (1) one bucket-keyed histogram aggregate
    (map-side partials; |buckets| ≪ |rows| — here integer price
    buckets), (2) a |buckets|-row cumulative scan locates the single
    bucket containing the k-th element and the offset inside it (two
    driver scalars, convergence-probe budget), (3) ONE bucket's rows —
    the only data ever sorted — are ranked for the offset. Data cost:
    one histogram exchange + one bucket-sized sort, vs the full
    range-shuffle a global sort pays.

    Pathological single-bucket skew (a price bucket holding more than
    ``bucket_rows_threshold`` rows — e.g. a constant-price table) is
    bounded by ONE recursion level: the target bucket is re-histogrammed
    at 10^4× finer granularity (``floor(price·10^4)`` — exhaustive for
    2-decimal money, and for arbitrary doubles it still shrinks phase 3
    by the sub-bucket spread) before the final rank. Exercised by
    ``tests/test_window_asof_stats.py::test_exact_median_single_bucket_recursion``."""
    l = load_table(spark, "lineitem", sf_dir).select("l_extendedprice")
    bucket = F.floor(F.col("l_extendedprice")).cast("long")
    # phase 1+2 (shared histogram: n, k and the target bucket all
    # derive from it, so the fact column is scanned exactly ONCE —
    # an extra l.count() would re-scan the fact for a total the
    # histogram already carries)
    hist = (l.groupBy(bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .localCheckpoint(eager=True))
    n = hist.agg(F.sum("_c")).collect()[0][0]
    if not n:  # empty table: no median row, like the oracle's join
        return local_frame(
            spark, [], "n_rows long, k long, median double")
    k = (n + 1) // 2
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    row = (cum.filter(F.col("_cum") >= k).orderBy("_b").limit(1)
           .collect()[0])
    target_bucket, bucket_rows = row["_b"], row["_c"]
    offset = k - (row["_cum"] - row["_c"])  # 1-indexed in-bucket rank
    scoped = l.filter(bucket == F.lit(target_bucket))
    if bucket_rows > bucket_rows_threshold:
        # recursion level: finer histogram INSIDE the skewed bucket
        fine = F.floor(F.col("l_extendedprice") * 10_000).cast("long")
        fb, _fc, offset, _ = _select_bucket(scoped, fine, offset)
        scoped = scoped.filter(fine == F.lit(fb))
    wb = Window.orderBy("l_extendedprice")
    med = (scoped
           .withColumn("_rn", F.row_number().over(wb))
           .filter(F.col("_rn") == offset)
           .select(F.col("l_extendedprice").alias("median")))
    return med.select(
        F.lit(n).cast("long").alias("n_rows"),
        F.lit(k).cast("long").alias("k"),
        "median")


def forecast_revenue_change(spark: SparkSession, sf_dir: str,
                            date_lo: str = "1996-01-01",
                            date_hi: str = "1997-01-01") -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change) → one row
    ``(revenue)``: Σ ``l_extendedprice·l_discount`` over lineitems in
    one ship-year with discount in [0.02, 0.04] and quantity < 24.

    The canonical PUSHDOWN showcase: no join at all — every predicate
    (date range, discount band, quantity cap) reaches the parquet scan
    as ``PushedFilters`` and the read schema is 4 columns, so at
    100 TB the job is min/max-pruned row groups + one map-side partial
    sum + a 1-row exchange. Discount is compared in DECIMAL(18,2):
    0.02/0.04 are not exact doubles, and a double comparison would sit
    an ulp from the boundary on engine-dependent parses; the decimal
    image is exact on both engines."""
    l = load_table(spark, "lineitem", sf_dir)
    d = dec2(F.col("l_discount"))
    return (l.filter(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
        & (d >= F.lit("0.02").cast("decimal(18,2)"))
        & (d <= F.lit("0.04").cast("decimal(18,2)"))
        & (F.col("l_quantity") < 24))
        .agg(F.sum(dec2(F.col("l_extendedprice")) * d)
             .cast("double").alias("revenue")))


def volume_shipping(spark: SparkSession, sf_dir: str,
                    nation_a: str = "NATION_1",
                    nation_b: str = "NATION_2") -> DataFrame:
    """TPC-H Q7 shape (volume shipping) → bilateral trade volume
    between two nations per ship-year:
    ``(supp_nation, cust_nation, l_year, revenue)``.

    The plan property Q7 exists to test: the nation filter is a
    DISJUNCTION over a pair of dimension arms — (supp=A ∧ cust=B) ∨
    (supp=B ∧ cust=A) — so neither arm can be pruned independently;
    both sides pre-filter to the two-nation union (tiny, broadcast)
    and the pair constraint evaluates as a residual on the joined row.
    Fact-side cost at 100 TB: lineitem shuffles once on orderkey to
    meet orders (supplier and customer dims broadcast); the ship-date
    range pushes to the scan. Revenue per (pair, year) is the exact
    decimal Σ extprice·(1−disc)."""
    n = load_table(spark, "nation", sf_dir) \
        .filter(F.col("n_name").isin(nation_a, nation_b)) \
        .select("n_nationkey", "n_name")
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c = (load_table(spark, "customer", sf_dir)
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    l = (load_table(spark, "lineitem", sf_dir)
         .filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
         .select("l_orderkey", "l_suppkey", "l_shipdate",
                 "l_extendedprice", "l_discount"))
    j = (l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
         .filter(((F.col("supp_nation") == nation_a)
                  & (F.col("cust_nation") == nation_b))
                 | ((F.col("supp_nation") == nation_b)
                    & (F.col("cust_nation") == nation_a))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(F.sum(dec2(F.col("l_extendedprice"))
                       * (F.lit(1) - dec2(F.col("l_discount"))))
                 .cast("double").alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


def market_share(spark: SparkSession, sf_dir: str,
                 nation: str = "NATION_1", region: str = "ASIA",
                 p_type: str = "PROMO") -> DataFrame:
    """TPC-H Q8 shape (national market share) → per order-year, one
    nation's share of a region's market for one part type:
    ``(o_year, mkt_share_micro)``.

    Share-of-aggregate done shuffle-minimally: ONE pass builds the
    (year, supplier-nation, volume) rollup — part (type-pruned,
    broadcast) joins lineitem first so the fact contracts before the
    orderkey shuffle; customer⋈nation⋈region prunes the demand side
    (broadcast); supplier's nation tags the numerator. The share is a
    conditional-sum / sum ratio INSIDE each year group — no second
    aggregation or self-join, the standard fraction-of-total pattern.
    Both sums are exact decimals and the share is floor-divided in
    exact integer micro-units (numerator and denominator scaled to
    integers first — ``mkt_share_micro`` = ⌊num/den·10^6⌋): a double
    ratio would be FMA/parse-sensitive across engines, and DuckDB's
    decimal ``//`` routes through float."""
    p = load_table(spark, "part", sf_dir) \
        .filter(F.col("p_type") == p_type).select("p_partkey")
    r = load_table(spark, "region", sf_dir) \
        .filter(F.col("r_name") == region).select("r_regionkey")
    nat = load_table(spark, "nation", sf_dir)
    n_region = (nat.join(F.broadcast(r),
                         F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey"))
    c = (load_table(spark, "customer", sf_dir)
         .join(F.broadcast(n_region),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey"))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(nat.select("n_nationkey",
                                      F.col("n_name").alias("supp_nation"))),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "supp_nation"))
    o = (load_table(spark, "orders", sf_dir)
         .filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey", "o_orderdate"))
    l = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_partkey", "l_suppkey",
                "l_extendedprice", "l_discount")
    vol = dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
    j = (l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")))
    g = (j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
         .agg(F.sum(F.when(F.col("supp_nation") == nation, vol)
                    .otherwise(F.lit("0").cast("decimal(18,2)")))
              .cast("decimal(30,4)").alias("_num"),
              F.sum(vol).cast("decimal(30,4)").alias("_den")))
    share = F.expr("(CAST(_num * 10000 AS DECIMAL(38,0)) * 1000000) div "
                   "CAST(_den * 10000 AS DECIMAL(38,0))")
    return (g.select("o_year",
                     share.cast("long").alias("mkt_share_micro"))
            .orderBy("o_year"))


def ship_delay_priority(spark: SparkSession, sf_dir: str,
                        year_lo: str = "1996-01-01",
                        year_hi: str = "1997-01-01") -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority), adapted to
    this dataset's columns (no ``l_shipmode``): lineitems shipped in
    one year are banded by ship DELAY (days from order date:
    <30 fast, <90 medium, else slow) and each band counts
    critical-priority vs other orders →
    ``(delay_band, high_line_count, low_line_count)``.

    Q12's plan lesson is intact: a fact⋈fact equi-join (lineitem to
    orders on orderkey — at 100 TB co-partition or bucket both on
    orderkey so it is exchange-free) feeding conditional counts; the
    band is a pure projection, the priority split a conditional sum,
    one group-by on a 3-value key."""
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = (load_table(spark, "lineitem", sf_dir)
         .filter((F.col("l_shipdate") >= F.lit(year_lo).cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit(year_hi).cast("timestamp")))
         .select("l_orderkey", "l_shipdate"))
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (F.when(delay < 30, "fast")
            .when(delay < 90, "medium").otherwise("slow"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(band.alias("delay_band"))
            .agg(F.sum(hi.cast("int")).cast("long").alias("high_line_count"),
                 F.sum((~hi).cast("int")).cast("long").alias("low_line_count"))
            .orderBy("delay_band"))


def promo_revenue_share(spark: SparkSession, sf_dir: str,
                        year_lo: str = "1996-01-01",
                        year_hi: str = "1997-01-01") -> DataFrame:
    """TPC-H Q14 shape (promotion effect), per ship-month:
    ``(ship_month, promo_share_micro)`` — the PROMO part type's
    fraction of that month's discounted revenue in exact integer
    micro-units (see :func:`market_share` for why the ratio floor-
    divides scaled integers instead of dividing doubles).

    Plan: part is a broadcast dim carrying only the promo flag (two
    columns after pruning), the date range pushes to the lineitem
    scan, and the share is the in-group conditional-sum ratio — the
    same single-aggregation fraction-of-total shape as
    :func:`market_share`, exercised at month grain."""
    p = load_table(spark, "part", sf_dir) \
        .select("p_partkey", (F.col("p_type") == "PROMO").alias("_promo"))
    l = (load_table(spark, "lineitem", sf_dir)
         .filter((F.col("l_shipdate") >= F.lit(year_lo).cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit(year_hi).cast("timestamp")))
         .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount"))
    vol = dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
    g = (l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .groupBy(F.month("l_shipdate").cast("int").alias("ship_month"))
         .agg(F.sum(F.when(F.col("_promo"), vol)
                    .otherwise(F.lit("0").cast("decimal(18,2)")))
              .cast("decimal(30,4)").alias("_num"),
              F.sum(vol).cast("decimal(30,4)").alias("_den")))
    share = F.expr("(CAST(_num * 10000 AS DECIMAL(38,0)) * 1000000) div "
                   "CAST(_den * 10000 AS DECIMAL(38,0))")
    return (g.select("ship_month",
                     share.cast("long").alias("promo_share_micro"))
            .orderBy("ship_month"))


def disjunctive_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicates) → one row
    ``(revenue)``: Σ discounted price over three OR'd brand/size/
    quantity band conjunctions (adapted to this schema's columns:
    brand + size bands replace brand + container).

    The optimizer lesson Q19 encodes: an OR-of-ANDs spanning BOTH join
    sides must not explode into a union of three joins — it is ONE
    broadcast hash join (part is dim-sized) with the disjunction as a
    residual predicate, plus the derivable prefix (brand ∈ {the three}
    ∧ size ∈ [1,30]) pushed to the part scan so the broadcast build is
    already pruned. Quantity bounds stay residual: they reference the
    fact side."""
    p = load_table(spark, "part", sf_dir) \
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
                & F.col("p_size").between(1, 30)) \
        .select("p_partkey", "p_brand", "p_size")
    l = load_table(spark, "lineitem", sf_dir) \
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(11, 20)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(21, 30)
           & F.col("l_quantity").between(20, 30)))
    return (l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.sum(dec2(F.col("l_extendedprice"))
                       * (F.lit(1) - dec2(F.col("l_discount"))))
                 .cast("double").alias("revenue")))


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted (no phone
    column): customers with ABOVE-AVERAGE positive account balance and
    NO orders at all, rolled up per market segment:
    ``(c_mktsegment, n_custs, total_acctbal)``.

    Two classic plan elements in one query: a scalar aggregate
    (avg positive balance) consumed as a broadcast 1-row cross join —
    never a driver collect — and a LEFT ANTI join against the orders
    fact for the NOT EXISTS. At 100 TB the anti join is the only
    shuffle (custkey on both sides; orders projects just its foreign
    key, so the probe side is one slim column), and the scalar's cost
    is a map-side partial over customer. ``total_acctbal`` sums
    exactly in decimal."""
    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    avg_bal = (c.filter(F.col("c_acctbal") > 0)
               .agg(davg(F.col("c_acctbal")).alias("_avg")))
    o = load_table(spark, "orders", sf_dir).select("o_custkey")
    return (c.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("_avg"))
            .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_custs"),
                 dsum(F.col("c_acctbal")).alias("total_acctbal"))
            .orderBy("c_mktsegment"))


def nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit), adapted to this schema
    (no ``partsupp``: part's retail price stands in as unit cost) →
    per supplier-nation, per order-year:
    ``(n_name, o_year, profit)`` where profit =
    Σ extprice·(1−disc) − retailprice·quantity.

    Q9's plan property: the fact joins BOTH dimension arms (part for
    cost, supplier→nation for the group key) before the orderkey
    shuffle to orders for the year — part and supplier broadcast, so
    the only wide exchanges are the fact's orderkey join and the final
    (nation, year) aggregate. Profit terms multiply exact decimals;
    the sum stays decimal until the output cast."""
    p = load_table(spark, "part", sf_dir) \
        .select("p_partkey", "p_retailprice")
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(load_table(spark, "nation", sf_dir)
                           .select("n_nationkey", "n_name")),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "n_name"))
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_orderdate")
    l = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_discount")
    amount = (dec2(F.col("l_extendedprice"))
              * (F.lit(1) - dec2(F.col("l_discount")))
              - dec2(F.col("p_retailprice")) * dec2(F.col("l_quantity")))
    return (l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("n_name",
                     F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("profit"))
            .orderBy("n_name", "o_year"))


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution) →
    ``(c_count, custdist)``: how many customers placed exactly N
    orders, including the zero-order bucket.

    The double aggregation Q13 tests: a LEFT join from the customer
    dim to the orders fact (preserves order-less customers), a
    custkey-keyed count, then a second tiny aggregate over the count
    histogram. At 100 TB the first aggregate is the only real
    exchange (custkey); the histogram is |distinct counts| rows.
    Ordered by (custdist desc, c_count desc), the benchmark's
    presentation order — deterministic because (custdist, c_count)
    pairs are unique by construction."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    per_cust = (c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .select(F.col("c_count").cast("long").alias("c_count"),
                    "custdist")
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


def top_supplier_revenue(spark: SparkSession, sf_dir: str,
                         date_lo: str = "1996-01-01",
                         date_hi: str = "1996-04-01") -> DataFrame:
    """TPC-H Q15 shape (top supplier) → the supplier(s) whose quarterly
    shipped revenue equals the global maximum:
    ``(s_suppkey, s_name, total_revenue)``.

    Q15's view + scalar-max pattern, Spark-first: the per-supplier
    revenue rollup is computed ONCE (suppkey-keyed aggregate over the
    date-pruned fact), its 1-row max broadcasts back as a cross join,
    and the equality filter selects the winner(s) — no second rollup,
    no window over the whole table. The max comparison happens on the
    EXACT decimal revenue (doubles only at the output edge), so ties
    select identically on both engines."""
    l = (load_table(spark, "lineitem", sf_dir)
         .filter((F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp")))
         .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = (l.groupBy("l_suppkey")
           .agg(F.sum(dec2(F.col("l_extendedprice"))
                      * (F.lit(1) - dec2(F.col("l_discount"))))
                .alias("_rev")))
    mx = rev.agg(F.max("_rev").alias("_mx"))
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(mx))
            .filter(F.col("_rev") == F.col("_mx"))
            .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                    "s_name",
                    F.col("_rev").cast("double").alias("total_revenue"))
            .orderBy("s_suppkey"))


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (the delta-merge IVM
    pattern): a per-status rollup of orders is kept current under the
    CDC feed WITHOUT re-aggregating the table →
    ``(o_orderstatus, n_rows, total_price)`` equal to a full recompute
    over the post-CDC snapshot (which is exactly what the oracle does).

    The 100 TB point: the base aggregate is computed once (here, in
    this self-contained query; in production it is the stored MV), and
    the refresh touches ONLY delta-sized data — the compacted log
    (:func:`orders_cdc_latest`) joins the base table on its key for
    old values (point lookups / a broadcast of the touched-key set),
    per-status contribution deltas aggregate log-sized rows, and the
    merge is a |statuses|-row outer join: Δn = −deletes,
    Δsum = Σ(new−old) − Σ(old over deletes), all in exact DECIMAL so
    base + delta is bit-equal to the recompute. No table-sized work
    after the initial MV build — the whole refresh cost scales with
    the change feed."""
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    base_agg = (o.groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("_n0"),
                     F.sum(dec2(F.col("o_totalprice"))).alias("_s0")))
    latest = orders_cdc_latest(o.select("o_orderkey", "o_totalprice"))
    touched = latest.join(o, "o_orderkey")  # old value + status lookup
    is_del = F.col("op") == "delete"
    delta = (touched.groupBy("o_orderstatus")
             .agg(F.sum(F.when(is_del, -1).otherwise(0)).alias("_dn"),
                  F.sum(F.when(is_del, -dec2(F.col("o_totalprice")))
                        .otherwise(dec2(F.col("new_price"))
                                   - dec2(F.col("o_totalprice"))))
                  .alias("_ds")))
    return (base_agg.join(delta, "o_orderstatus", "left")
            .select("o_orderstatus",
                    (F.col("_n0") + F.coalesce(F.col("_dn"), F.lit(0)))
                    .cast("long").alias("n_rows"),
                    (F.col("_s0") + F.coalesce(
                        F.col("_ds"), F.lit("0").cast("decimal(18,2)")))
                    .cast("double").alias("total_price"))
            .orderBy("o_orderstatus"))


def k_anonymity_report(spark: SparkSession, sf_dir: str,
                       k: int = 5) -> DataFrame:
    """Privacy governance census: group the customer dim by its
    quasi-identifier pair ``(c_nationkey, c_mktsegment)`` and flag
    every group smaller than ``k`` → ``(c_nationkey, c_mktsegment,
    group_n, at_risk)`` — the k-anonymity audit a release pipeline
    runs before publishing joinable aggregates (small groups
    re-identify individuals; the fix is suppression or coarsening of
    the flagged cells).

    Shape: ONE hash aggregate on the quasi-identifier key (map-side
    partials make shuffle volume |cells|, not |rows|) and a pure
    projection for the flag. At 100 TB the cell census is the cheap
    precursor to l-diversity / t-closeness checks, which add only
    per-cell distinct/distribution aggregates to the same plan."""
    c = load_table(spark, "customer", sf_dir) \
        .select("c_nationkey", "c_mktsegment")
    return (c.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("group_n"))
            .select(F.col("c_nationkey").cast("long").alias("c_nationkey"),
                    "c_mktsegment", "group_n",
                    (F.col("group_n") < k).alias("at_risk"))
            .orderBy("c_nationkey", "c_mktsegment"))


def brand_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group (lower) median — ``l_extendedprice`` per part
    brand → ``(p_brand, n_rows, k, median)`` — as a PURE distributed
    plan: the grouped generalization of :func:`exact_median_price`
    with ZERO driver scalars (no collect anywhere; the single-group
    form pays two scalar probes, the grouped form turns both into
    joins, so it composes into larger plans and scales to millions of
    groups).

    Phases, all group-partitioned: (1) one (brand, price-bucket)
    histogram aggregate; (2) per-brand totals + k, and the k-th
    bucket located by a cumulative window PARTITIONED BY brand (the
    §12 inventory's partitioned case — parallel by group, never one
    partition) with a row_number pick of the first bucket reaching k;
    (3) the fact filtered to each brand's single target bucket via a
    broadcast of the |groups|-row bucket table, ranked within
    (brand, bucket) for the in-bucket offset. Fact passes: histogram
    + one bucket-filtered rank — a global per-group sort is never
    built."""
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    l = (load_table(spark, "lineitem", sf_dir)
         .select("l_partkey", "l_extendedprice")
         .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .select("p_brand", "l_extendedprice"))
    bucket = F.floor(F.col("l_extendedprice")).cast("long")
    hist = (l.groupBy("p_brand", bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c")))
    cnt = (hist.groupBy("p_brand")
           .agg(F.sum("_c").alias("_n"))
           .withColumn("_k", (F.col("_n") + 1) / 2)
           .withColumn("_k", F.floor(F.col("_k")).cast("long")))
    wcum = Window.partitionBy("p_brand").orderBy("_b") \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(wcum))
    wpick = Window.partitionBy("p_brand").orderBy("_b")
    target = (cum.join(cnt, "p_brand")
              .filter(F.col("_cum") >= F.col("_k"))
              .withColumn("_rn", F.row_number().over(wpick))
              .filter(F.col("_rn") == 1)
              .select("p_brand", "_b", "_n", "_k",
                      (F.col("_k") - (F.col("_cum") - F.col("_c")))
                      .alias("_off")))
    wrank = Window.partitionBy("p_brand").orderBy("l_extendedprice")
    med = (l.join(F.broadcast(target),
                  (l["p_brand"] == target["p_brand"])
                  & (bucket == F.col("_b")))
           .drop(target["p_brand"])
           .withColumn("_rn", F.row_number().over(wrank))
           .filter(F.col("_rn") == F.col("_off")))
    return (med.select("p_brand",
                       F.col("_n").cast("long").alias("n_rows"),
                       F.col("_k").cast("long").alias("k"),
                       F.col("l_extendedprice").alias("median"))
            .orderBy("p_brand"))


def min_cost_supplier(spark: SparkSession, sf_dir: str,
                      region: str = "EUROPE",
                      size: int = 15,
                      ptype: str = "STANDARD") -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), adapted to this schema
    (no ``partsupp``: the supply catalog is DERIVED from lineitem as
    each (part, supplier) pair's minimum observed unit price) → for
    every part of the requested size/type supplied from the requested
    region, the supplier(s) achieving the part's global minimum unit
    cost: ``(s_acctbal, s_name, n_name, p_partkey, p_brand,
    supply_cost)``.

    Q2's plan property — the correlated MIN subquery — is expressed
    as aggregate-then-rejoin, not a per-row subquery: the offer
    relation aggregates once on (part, supplier), the per-part min is
    a second part-keyed aggregate, and the winner filter is an equi-
    join on (partkey, cost). At 100 TB the offer build is the only
    fact-sized shuffle; part (size/type-pruned), supplier, nation and
    region are all broadcast. Unit price is IEEE double division on
    both engines, and min/equality over identical doubles is exact,
    so the winner set matches bit-for-bit."""
    r = (load_table(spark, "region", sf_dir)
         .filter(F.col("r_name") == region))
    n = (load_table(spark, "nation", sf_dir)
         .join(F.broadcast(r),
               F.col("n_regionkey") == F.col("r_regionkey"))
         .select("n_nationkey", "n_name"))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    p = (load_table(spark, "part", sf_dir)
         .filter((F.col("p_size") == size) & (F.col("p_type") == ptype))
         .select("p_partkey", "p_brand"))
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    offers = (load_table(spark, "lineitem", sf_dir)
              .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
              .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name",
                       "s_acctbal", "n_name")
              .agg(F.min(unit).alias("supply_cost")))
    best = (offers.groupBy("p_partkey")
            .agg(F.min("supply_cost").alias("_best")))
    return (offers.join(best.withColumnRenamed("p_partkey", "_pk"),
                        (F.col("p_partkey") == F.col("_pk"))
                        & (F.col("supply_cost") == F.col("_best")))
            .select("s_acctbal", "s_name", "n_name",
                    F.col("p_partkey").cast("long").alias("p_partkey"),
                    "p_brand", "supply_cost")
            .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
            .limit(100))


def important_part_value(spark: SparkSession, sf_dir: str,
                         nation: str = "NATION_9",
                         per_mille: int = 1) -> DataFrame:
    """TPC-H Q11 shape (important stock identification), adapted (no
    ``partsupp``: a part's "stock value" from one nation's suppliers
    is the discounted revenue its lineitems from those suppliers
    realized) → parts whose value exceeds ``per_mille``/1000 of the
    nation's total: ``(p_partkey, part_value)``, value-descending.

    Q11's plan property — group-aggregate compared against a scalar
    fraction of the SAME aggregate — is one suppkey-pruned fact pass:
    the per-part aggregate shuffles on partkey, its grand total
    re-aggregates the per-part rows (no second fact scan), and the
    1-row total broadcasts back as a cross join. The threshold
    compare is kept in EXACT decimal by scaling to integer per-mille
    (value·1000 > total·per_mille) — no double rounding on the cut
    line, so both engines keep the same parts."""
    n = (load_table(spark, "nation", sf_dir)
         .filter(F.col("n_name") == nation))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey"))
    l = (load_table(spark, "lineitem", sf_dir)
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .select("l_partkey", "l_extendedprice", "l_discount"))
    val = (l.groupBy("l_partkey")
           .agg(F.sum(dec2(F.col("l_extendedprice"))
                      * (F.lit(1) - dec2(F.col("l_discount"))))
                .alias("_v")))
    total = val.agg(F.sum("_v").alias("_t"))
    return (val.join(F.broadcast(total))
            .filter(F.col("_v") * F.lit(1000) > F.col("_t") * F.lit(per_mille))
            .select(F.col("l_partkey").cast("long").alias("p_partkey"),
                    F.col("_v").cast("double").alias("part_value"))
            .orderBy(F.col("part_value").desc(), "p_partkey"))


def parts_supplier_counts(spark: SparkSession, sf_dir: str,
                          brand_excl: str = "Brand#5",
                          type_excl_prefix: str = "MEDIUM",
                          sizes: tuple = (1, 5, 10, 15, 20, 25, 30, 35)
                          ) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship), adapted (no
    ``partsupp``: the part↔supplier relation is the DISTINCT pairs
    observed in lineitem; "customer complaints" suppliers are those
    with negative account balance) → per (brand, type, size) outside
    the excluded brand/type-prefix and inside the size list, how many
    distinct acceptable suppliers carry such a part:
    ``(p_brand, p_type, p_size, supplier_cnt)``.

    Q16's plan property — NOT IN subquery + COUNT(DISTINCT) — maps to
    a broadcast anti-join (the complaint supplier set is tiny) and a
    two-level distinct aggregate. The pair-distinct is the only
    fact-sized shuffle, keyed on (partkey, suppkey) — high cardinality
    and skew-free; part is attribute-pruned and broadcast."""
    pairs = (load_table(spark, "lineitem", sf_dir)
             .select("l_partkey", "l_suppkey").distinct())
    bad = (load_table(spark, "supplier", sf_dir)
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    p = (load_table(spark, "part", sf_dir)
         .filter((F.col("p_brand") != brand_excl)
                 & ~F.col("p_type").startswith(type_excl_prefix)
                 & F.col("p_size").isin(*sizes))
         .select("p_partkey", "p_brand", "p_type", "p_size"))
    return (pairs.join(F.broadcast(bad),
                       F.col("l_suppkey") == F.col("s_suppkey"),
                       "left_anti")
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .select("p_brand", "p_type",
                    F.col("p_size").cast("int").alias("p_size"),
                    F.col("supplier_cnt").cast("long").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type",
                     "p_size"))


def excess_stock_suppliers(spark: SparkSession, sf_dir: str,
                           name_prefix: str = "small",
                           nation: str = "NATION_9",
                           date_lo: str = "1996-01-01",
                           date_hi: str = "1997-01-01") -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), adapted (no
    ``partsupp.ps_availqty``: a pair's "stock on hand" is its total
    shipped quantity across all years, and the Q20 threshold — stock
    exceeding half the period's demand — becomes total >
    2 × window-quantity) → suppliers in the nation holding excess
    stock of any matching-name part:
    ``(s_suppkey, s_name, s_acctbal)``.

    Q20's nested-semi-join chain is flattened into ONE conditional
    aggregate: both the "availqty" and the window demand come from a
    single (part, supplier)-keyed pass over the name-pruned fact
    (sum + filtered sum), the threshold is a row-local compare (the
    2× factor keeps quantities in exact integers-in-doubles, no
    division), and the surviving pair set semi-joins the supplier dim.
    At 100 TB the name-pruned broadcast of part cuts the fact before
    its only shuffle."""
    p = (load_table(spark, "part", sf_dir)
         .filter(F.col("p_name").startswith(name_prefix))
         .select("p_partkey"))
    l = (load_table(spark, "lineitem", sf_dir)
         .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate"))
    in_win = ((F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
              & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp")))
    pairs = (l.groupBy("l_partkey", "l_suppkey")
             .agg(F.sum("l_quantity").alias("_stock"),
                  F.sum(F.when(in_win, F.col("l_quantity"))
                        .otherwise(F.lit(0.0))).alias("_demand")))
    excess = (pairs.filter(F.col("_stock") > F.lit(2.0) * F.col("_demand"))
              .select("l_suppkey").distinct())
    n = (load_table(spark, "nation", sf_dir)
         .filter(F.col("n_name") == nation))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")))
    return (s.join(excess, F.col("s_suppkey") == F.col("l_suppkey"),
                   "left_semi")
            .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                    "s_name", "s_acctbal")
            .orderBy("s_suppkey"))


def waiting_suppliers(spark: SparkSession, sf_dir: str,
                      nation: str = "NATION_9",
                      late_days: int = 90) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted
    (no commit/receipt dates: a line is LATE when it ships more than
    ``late_days`` after the order date) → per supplier in the nation,
    how many finished multi-supplier orders that supplier alone
    delivered late: ``(s_name, numwait)``.

    Q21's EXISTS + NOT-EXISTS double self-join collapses into ONE
    orderkey-keyed aggregate: per order, the distinct-supplier count,
    the distinct-LATE-supplier count, and (via max, well-defined when
    that count is 1) the sole late supplier. The waiting condition is
    then a row-local filter (nsupp > 1 AND nlate = 1) — no second or
    third pass over the fact, which at 100 TB replaces two fact-fact
    joins with a single shuffle. The supplier/nation probe is a
    broadcast at the |suppliers| scale."""
    o = (load_table(spark, "orders", sf_dir)
         .filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    l = (load_table(spark, "lineitem", sf_dir)
         .select("l_orderkey", "l_suppkey", "l_shipdate"))
    late = (F.col("l_shipdate")
            > F.col("o_orderdate")
            + F.expr(f"INTERVAL {int(late_days)} DAYS"))
    po = (l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
          .groupBy("l_orderkey")
          .agg(F.countDistinct("l_suppkey").alias("_nsupp"),
               F.countDistinct(F.when(late, F.col("l_suppkey")))
               .alias("_nlate"),
               F.max(F.when(late, F.col("l_suppkey"))).alias("_latesk")))
    n = (load_table(spark, "nation", sf_dir)
         .filter(F.col("n_name") == nation))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_name"))
    return (po.filter((F.col("_nsupp") > 1) & (F.col("_nlate") == 1))
            .join(F.broadcast(s), F.col("_latesk") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name")
            .limit(100))


BENFORD_MICRO = {d: __import__("math").floor(
    __import__("math").log10(1.0 + 1.0 / d) * 1e6 + 0.5) for d in range(1, 10)}
"""Benford first-digit expectation log10(1+1/d), half-up micro-units.

Computed ONCE at import as a Python literal table and injected into
both engines as constants, so no runtime libm call (whose last-ulp
behavior differs across engines) ever enters the comparison."""


def benford_prices(orders: DataFrame) -> DataFrame:
    """First-digit Benford's-law audit over ``o_totalprice`` → 9 rows
    ``(digit, n_orders, observed_micro, benford_micro, dev_micro)`` —
    the classic fraud / data-quality screen (synthetic or fabricated
    money columns flunk it; organic ones follow log10(1+1/d)).

    Integer-exact throughout — NO floating point reaches the output:
    the price becomes exact CENTS (DECIMAL(18,2)·100 → BIGINT), the
    leading digit is the first character of the cents' decimal
    rendering (multiplying by 100 shifts the point without touching
    the mantissa digits — no log10/pow10 on doubles, whose floor can
    ulp-flip at exact powers of ten), the observed share is the
    remainder-exact half-up integer micro count (the pround_iratio
    protocol kept IN integers: M = (A − A%B)/B is an exact decimal
    multiple, cast to BIGINT), and the Benford expectation is the
    import-time literal table above. Shape: one 9-group aggregate
    with map-side partials + a broadcast 1-row total — a single
    corpus pass at any scale."""
    cents = (dec2(F.col("o_totalprice")) * 100).cast("long")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    per = orders.groupBy(d.alias("digit")) \
        .agg(F.count(F.lit(1)).alias("_n"))
    tot = orders.agg(F.count(F.lit(1)).alias("_t"))
    a = F.col("_n").cast("decimal(30,0)") * F.lit(2_000_000) + F.col("_t")
    b = F.col("_t").cast("decimal(30,0)") * F.lit(2)
    obs = ((a - a % b) / b).cast("long")
    bexp = F.element_at(
        F.array(*[F.lit(int(BENFORD_MICRO[i])) for i in range(1, 10)]),
        F.col("digit")).cast("long")
    return (per.join(F.broadcast(tot))
            .select(F.col("digit"),
                    F.col("_n").cast("long").alias("n_orders"),
                    obs.alias("observed_micro"),
                    bexp.alias("benford_micro"),
                    F.abs(obs - bexp).alias("dev_micro"))
            .orderBy("digit"))


def revenue_mom_growth(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue ratio → one row per order month
    ``(month_key, rev_cents, prev_cents, mom_ratio)`` where
    ``month_key = year·100 + month`` (an integer key — no date
    FORMATTING enters the comparison) and ``mom_ratio`` is this
    month's revenue over last month's in remainder-exact 6-dp units
    (NULL for the first month). The growth-dashboard primitive.

    Revenue is summed as exact cents (DECIMAL(18,2)·100 → BIGINT per
    month), so the lag ratio divides two exact integers. Shape: one
    month-keyed aggregate (map-side partials, |months| rows ≈ 84 for
    TPC-H's 7-year clock at ANY scale factor) and one lag window over
    that bounded month table — inventoried in SCALE.md §12."""
    from ..functions.rounding import pround_iratio

    mk = (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
    m = (orders.groupBy(mk.alias("month_key"))
         .agg((F.sum(dec2(F.col("o_totalprice"))) * 100)
              .cast("long").alias("rev_cents")))
    w = Window.orderBy("month_key")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        F.col("month_key").cast("int").alias("month_key"),
        "rev_cents",
        prev.alias("prev_cents"),
        F.when(prev.isNotNull(),
               pround_iratio(F.col("rev_cents"), prev))
        .alias("mom_ratio")).orderBy("month_key")


def brand_price_deciles(part: DataFrame) -> DataFrame:
    """Per-brand retail-price decile table → one row per (brand,
    decile) ``(p_brand, decile, n_parts, lo_cents, hi_cents)`` — the
    banding a pricing dashboard draws and a skew diagnosis reads
    (which brands' price mass sits where).

    The window PARTITIONS BY brand (inherits the shuffle's
    parallelism — never the §12 single-partition shape) and orders by
    the exact-cents price with the part key as tiebreak, so ntile
    assignment is a total order and deterministic in both engines.
    Decile edges are min/max picks over exact integers. One shuffle
    on brand, |brands|·10 output rows."""
    cents = (dec2(F.col("p_retailprice")) * 100).cast("long")
    w = Window.partitionBy("p_brand").orderBy("_c", "p_partkey")
    return (part.select("p_brand", "p_partkey", cents.alias("_c"))
            .withColumn("decile", F.ntile(10).over(w))
            .groupBy("p_brand", "decile")
            .agg(F.count(F.lit(1)).cast("long").alias("n_parts"),
                 F.min("_c").alias("lo_cents"),
                 F.max("_c").alias("hi_cents"))
            .orderBy("p_brand", "decile"))


def l_diversity_report(spark: SparkSession, sf_dir: str,
                       l_min: int = 3) -> DataFrame:
    """l-diversity companion to :func:`k_anonymity_report`: for each
    quasi-identifier cell ``(c_nationkey, c_mktsegment)``, how many
    DISTINCT sensitive values (account-balance band) does it contain?
    → ``(c_nationkey, c_mktsegment, group_n, n_sensitive, at_risk)``
    — a k-anonymous cell whose members all share one sensitive value
    still leaks it; this census flags cells with < ``l_min`` distinct
    bands.

    The sensitive band is sign · bit-length of exact |cents| — pure
    integer arithmetic (no negative-division engine skew: DIV
    truncation differs from // flooring on negatives, so the sign is
    factored out FIRST). Same single hash-aggregate shape as the
    k-census, plus the per-cell distinct (map-side partial distinct
    on (cell, band))."""
    c = load_table(spark, "customer", sf_dir)
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    band = (F.when(cents == 0, F.lit(0))
            .otherwise(F.when(cents < 0, -1).otherwise(1)
                       * F.length(F.bin(F.abs(cents))))).cast("int")
    return (c.select("c_nationkey", "c_mktsegment", band.alias("_band"))
            .groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("group_n"),
                 F.countDistinct("_band").cast("long").alias("n_sensitive"))
            .select(F.col("c_nationkey").cast("long").alias("c_nationkey"),
                    "c_mktsegment", "group_n", "n_sensitive",
                    (F.col("n_sensitive") < l_min).alias("at_risk"))
            .orderBy("c_nationkey", "c_mktsegment"))


def _kth_price(l: DataFrame, k: int, col: str = "l_extendedprice"):
    """Exact k-th order statistic of a 2-dp money column as ONE driver
    scalar, via the :func:`_select_bucket` two-phase selection (integer
    buckets → in-bucket rank). The winsorize/trimmed-stat building
    block; the caller pays one histogram pass + one bucket-sized sort
    per quantile (histogram reuse across quantiles is a documented
    optimization, not needed at the 2-quantile call sites)."""
    bucket = F.floor(F.col(col)).cast("long")
    b, _c, offset, _ = _select_bucket(l.select(col), bucket, k)
    wb = Window.orderBy(col)
    return (l.filter(bucket == F.lit(b))
            .withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") == offset)
            .collect()[0][col])


def winsorized_revenue_stats(spark: SparkSession, sf_dir: str,
                             lo_pct: int = 5,
                             hi_pct: int = 95) -> DataFrame:
    """Winsorized (robust) revenue statistics → one row ``(n_rows,
    lo_cut, hi_cut, n_clamped_lo, n_clamped_hi, winsorized_mean)``:
    ``l_extendedprice`` with values below the exact p05 / above the
    exact p95 order statistic CLAMPED to those cut points, then the
    exact mean — the outlier-robust aggregate a revenue dashboard
    shows next to the raw mean.

    Exactness: cut points are true order statistics (rank
    ``ceil(n·p/100)``) found by the two-phase histogram selection —
    never ``approx_percentile`` — so the clamp boundary is engine-
    stable; clamped values remain exact 2-dp money, so the mean uses
    the remainder-exact decimal protocol (``pround_avg2``). Driver
    traffic: four scalars (two per quantile — the selection-probe
    budget). Fact passes: one histogram + two bucket-sized ranks +
    one clamped aggregate; a global sort never happens."""
    l = load_table(spark, "lineitem", sf_dir).select("l_extendedprice")
    n = l.count()
    if n == 0:
        return local_frame(
            spark, [], "n_rows long, lo_cut double, hi_cut double, "
                       "n_clamped_lo long, n_clamped_hi long, "
                       "winsorized_mean double")
    k_lo = (n * lo_pct + 99) // 100
    k_hi = (n * hi_pct + 99) // 100
    lo_cut = _kth_price(l, max(1, k_lo))
    hi_cut = _kth_price(l, max(1, k_hi))
    p = dec2(F.col("l_extendedprice"))
    lo_d = F.lit(f"{lo_cut:.2f}").cast("decimal(18,2)")
    hi_d = F.lit(f"{hi_cut:.2f}").cast("decimal(18,2)")
    clamped = F.when(p < lo_d, lo_d).when(p > hi_d, hi_d).otherwise(p)
    return (l.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(float(lo_cut)).alias("lo_cut"),
        F.lit(float(hi_cut)).alias("hi_cut"),
        F.sum(F.when(p < lo_d, 1).otherwise(0)).cast("long")
        .alias("n_clamped_lo"),
        F.sum(F.when(p > hi_d, 1).otherwise(0)).cast("long")
        .alias("n_clamped_hi"),
        pround_avg2(clamped).alias("winsorized_mean")))


def referential_integrity_report(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Cross-table foreign-key audit → one row per FK edge
    ``(fk, n_child, n_orphans)`` over the full TPC-H-ish snowflake —
    the referential-integrity census a warehouse runs after every
    load (orphaned children mean a broken or racing ingest).

    The three lineitem edges share ONE fact scan: lineitem's three FK
    columns get a membership flag each via LEFT joins against the
    distinct parent keys (part/supplier broadcast; orders key-shuffle
    — still a single pipelined pass over the fact), then one aggregate
    emits all three orphan counts. Remaining edges (orders→customer,
    customer→nation, nation→region) are each one anti-join-shaped pass
    over a strictly smaller table. NULL child FKs are NOT orphans
    (SQL ``NOT IN`` semantics): the orphan predicate requires the key
    to be non-null, so both engines agree by construction. At 100 TB
    the big-fact audit is one scan + one shuffle, never three."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey")
    o_keys = (load_table(spark, "orders", sf_dir)
              .select(F.col("o_orderkey").alias("l_orderkey")).distinct()
              .withColumn("_has_o", F.lit(1)))
    p_keys = (load_table(spark, "part", sf_dir)
              .select(F.col("p_partkey").alias("l_partkey")).distinct()
              .withColumn("_has_p", F.lit(1)))
    s_keys = (load_table(spark, "supplier", sf_dir)
              .select(F.col("s_suppkey").alias("l_suppkey")).distinct()
              .withColumn("_has_s", F.lit(1)))
    flagged = (li.join(o_keys, "l_orderkey", "left")
               .join(F.broadcast(p_keys), "l_partkey", "left")
               .join(F.broadcast(s_keys), "l_suppkey", "left"))

    def _orphan(key_col, flag_col):
        return F.sum(F.when(F.col(key_col).isNotNull()
                            & F.col(flag_col).isNull(), 1)
                     .otherwise(0)).cast("long")

    fact = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        _orphan("l_orderkey", "_has_o").alias("_orph_o"),
        _orphan("l_partkey", "_has_p").alias("_orph_p"),
        _orphan("l_suppkey", "_has_s").alias("_orph_s"))
    fact_rows = fact.select(F.explode(F.array(
        F.struct(F.lit("lineitem.l_orderkey -> orders").alias("fk"),
                 F.col("_n").alias("n_child"),
                 F.col("_orph_o").alias("n_orphans")),
        F.struct(F.lit("lineitem.l_partkey -> part").alias("fk"),
                 F.col("_n").alias("n_child"),
                 F.col("_orph_p").alias("n_orphans")),
        F.struct(F.lit("lineitem.l_suppkey -> supplier").alias("fk"),
                 F.col("_n").alias("n_child"),
                 F.col("_orph_s").alias("n_orphans")),
    )).alias("_e")).select("_e.*")
    small_edges = [
        ("orders.o_custkey -> customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("customer.c_nationkey -> nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("nation.n_regionkey -> region", "nation", "n_regionkey",
         "region", "r_regionkey"),
    ]
    parts = [fact_rows]
    for fk, ct, ck, pt, pk in small_edges:
        child = load_table(spark, ct, sf_dir).select(F.col(ck).alias("_k"))
        parent = (load_table(spark, pt, sf_dir)
                  .select(F.col(pk).alias("_k")).distinct())
        orphans = (child.filter(F.col("_k").isNotNull())
                   .join(parent, "_k", "left_anti"))
        parts.append(child.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(orphans.agg(
                F.count(F.lit(1)).cast("long").alias("n_orphans"))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fk")


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis for the workhorse join key
    ``lineitem.l_orderkey`` → one row ``(n_rows, n_keys,
    max_key_rows, top_share_frac, gini_frac)`` — the census a query
    planner (or a human sizing AQE skew thresholds) reads before a
    key-partitioned join: how unequal are the per-key row counts?

    Integer-exact: per-key counts (one key-shuffle with map-side
    partials), then the count-of-counts HISTOGRAM (|distinct count
    values| rows — tiny), and the Gini over per-key counts by the
    same rank-weighted histogram identity as ``doc_length_gini`` —
    one bounded partition-less window (§12), remainder-exact ratios.
    top_share = max key's share of all rows in micro units."""
    from ..functions.rounding import pround_iratio

    l = load_table(spark, "lineitem", sf_dir).select("l_orderkey")
    per_key = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("_c"))
    h = per_key.groupBy(F.col("_c").alias("_v")) \
        .agg(F.count(F.lit(1)).alias("_n"))
    wb = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    cum = h.select("_v", "_n",
                   F.coalesce(F.sum("_n").over(wb), F.lit(0)).alias("_cb"))
    s = cum.agg(
        F.sum(F.col("_v") * (F.col("_n") * F.col("_cb")
                             + F.expr("_n * (_n + 1) DIV 2"))).alias("_sr"),
        F.sum(F.col("_v") * F.col("_n")).alias("_t"),
        F.sum("_n").alias("_k"),
        F.max(F.col("_v")).alias("_mx"))
    return s.select(
        F.col("_t").cast("long").alias("n_rows"),
        F.col("_k").cast("long").alias("n_keys"),
        F.col("_mx").cast("long").alias("max_key_rows"),
        pround_iratio(F.col("_mx"), F.col("_t")).alias("top_share_frac"),
        pround_iratio(F.lit(2) * F.col("_sr")
                      - (F.col("_k") + 1) * F.col("_t"),
                      F.col("_k") * F.col("_t")).alias("gini_frac"))


# Poisson(1) CDF cut points quantized to the portable hash's 60-bit
# domain (floor(CDF(k) * 2^60), k = 0..4; computed once in exact
# Decimal arithmetic). Integer comparisons against these pins make the
# bootstrap multiplicities IDENTICAL on Spark and DuckDB — no double
# image of the CDF is ever taken on either engine.
POISSON1_CUTS_2POW60 = (
    424136118829305329,     # P(X<=0) = e^-1
    848272237658610659,     # P(X<=1)
    1060340297073263324,    # P(X<=2)
    1131029650211480879,    # P(X<=3)
    1148701988496035267,    # P(X<=4); remainder -> multiplicity 5
)


def revenue_bootstrap_ci(spark: SparkSession, sf_dir: str,
                         n_replicates: int = 16) -> DataFrame:
    """Deterministic Poisson bootstrap over total lineitem revenue →
    one row ``(n_replicates, mean_rev, lo_rev, hi_rev)`` — the
    uncertainty band a metrics dashboard shows next to the point
    estimate (how much of the revenue number is sampling noise?).

    Poisson(1) bootstrap is THE distributed-friendly resampling scheme
    (each row's per-replicate multiplicity is independent, so no
    global draw-without-replacement pass): multiplicity m(row, b) is
    read off the row's 60-bit portable hash of ``orderkey-linenumber-
    b`` against the pre-quantized Poisson CDF cut points — fully
    deterministic, identical on both engines, and embarrassingly
    parallel. Replicate sums accumulate in exact DECIMAL; the CI is
    ORDER STATISTICS of the B replicate sums (rank 2 / rank B−1 →
    ≈87.5% central coverage at B=16), and the mean uses the
    remainder-exact half-up protocol.

    Scale: the fan-out is a narrow map (each row emits B=16 lightweight
    rows), the aggregate has B groups with map-side partials, and the
    final order-statistic step sees exactly B values — at 100 TB the
    whole query is one scan + one 16-group shuffle, no window, no
    driver loop. Compare BASELINE.md's single point estimate: same
    pass cost, an error bar for free."""
    from ..functions.hashing import portable_hash64

    c0, c1, c2, c3, c4 = POISSON1_CUTS_2POW60
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice")
    rep = l.withColumn("b", F.explode(F.sequence(
        F.lit(0), F.lit(int(n_replicates) - 1))))
    h = portable_hash64(F.concat_ws(
        "-", F.col("l_orderkey"), F.col("l_linenumber"), F.col("b")))
    m = (F.when(h < c0, 0).when(h < c1, 1).when(h < c2, 2)
         .when(h < c3, 3).when(h < c4, 4).otherwise(5))
    sums = (rep.groupBy("b")
            .agg(F.sum(m * dec2(F.col("l_extendedprice")))
                 .cast("decimal(30,2)").alias("rev")))
    agg = sums.agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum("rev").cast("decimal(32,2)").alias("_s"),
        F.sort_array(F.collect_list("rev")).alias("_revs"))
    a = F.col("_s") * F.lit(2 * 10 ** 6) + F.col("_c")
    b_ = F.col("_c") * F.lit(2)
    q = (a - a % b_) / b_
    # CASE guards + try_element_at: an empty fact table yields one
    # NULL-valued row instead of an ANSI divide-by-zero / invalid-index
    # error (the winsorized_revenue empty-guard lesson, in-plan form).
    return agg.select(
        F.col("_c").cast("int").alias("n_replicates"),
        F.when(F.col("_c") > 0,
               F.floor(q + F.lit(0.5)) / F.lit(1e6)).alias("mean_rev"),
        F.try_element_at("_revs", F.lit(2)).cast("double").alias("lo_rev"),
        F.try_element_at("_revs", F.lit(int(n_replicates) - 1))
        .cast("double").alias("hi_rev"))


def revenue_mad_outliers(spark: SparkSession, sf_dir: str,
                         k_sigma: int = 3) -> DataFrame:
    """Robust outlier census via MEDIAN ABSOLUTE DEVIATION → one row
    ``(n_rows, median_price, mad, n_outliers)``: rows whose
    ``|price − median| > k·MAD`` — the outlier detector that, unlike
    mean/stddev z-scores, is not itself dragged by the outliers it
    hunts (50% breakdown point).

    Exactness: BOTH order statistics (the median and the median of
    absolute deviations) come from the two-phase histogram selection
    (:func:`_kth_price`) — never ``approx_percentile`` — and
    deviations of 2-dp money from a 2-dp median are themselves exact
    2-dp decimals, so the ``k·MAD`` threshold compare is exact decimal
    arithmetic with no float boundary. Rank is ``⌈n/2⌉`` (the lower
    median), identical to the oracle's window-rank pick by VALUE even
    under ties (equal ranks hold equal values in any sorted order).

    Scale: two selection probes (one histogram pass + one bucket-sized
    rank each) + one counting pass — driver traffic four scalars, a
    global sort never happens; same budget class as
    :func:`winsorized_revenue_stats`."""
    l = load_table(spark, "lineitem", sf_dir).select("l_extendedprice")
    n = l.count()
    if n == 0:
        # one (0, NULL, NULL, 0) row — the oracle's scalar subqueries
        # produce exactly this on an empty table, and the bootstrap-CI
        # twin uses the same in-plan convention
        return local_frame(
            spark, [(0, None, None, 0)],
            "n_rows long, median_price double, mad double, "
            "n_outliers long")
    k_med = max(1, (n + 1) // 2)
    med = _kth_price(l, k_med)
    med_d = F.lit(f"{med:.2f}").cast("decimal(18,2)")
    dev = l.select(F.abs(dec2(F.col("l_extendedprice")) - med_d)
                   .cast("decimal(18,2)").alias("_dev"))
    mad = _kth_price(dev, k_med, col="_dev")
    thr = F.lit(f"{mad:.2f}").cast("decimal(18,2)") * F.lit(int(k_sigma))
    return (dev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(float(med)).alias("median_price"),
        F.lit(float(mad)).alias("mad"),
        F.sum(F.when(F.col("_dev") > thr, 1).otherwise(0)).cast("long")
        .alias("n_outliers")))


def nation_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly revenue OLS trend → one row per nation
    ``(n_name, n_months, slope, intercept)`` — the grouped twin of
    ``events.revenue_trend_ols``: which markets are growing and how
    fast, fit in closed form from four exact sums per group.

    Determinism discipline — STRICTER than the global OLS: the grouped
    intercept's ``Σy − slope·Σx`` cancels catastrophically (Σx ≈ 10⁶
    per nation), so an engine-ulp difference in an intermediate double
    slope amplifies past the 6-dp output rounding (measured: 4.6e-4 on
    NATION_7 with the double-op form). Cure: money in integer CENTS,
    every sum and the closed-form numerators/denominators in exact
    DECIMAL(38,0) (N = nΣxy − ΣxΣy, D = nΣx² − (Σx)²,
    I_num = Σy·D − N·Σx), and exactly ONE double division per output
    statistic — slope = N/(100·D), intercept = I_num/(100·n·D) — both
    engines cast the identical exact integers and perform one IEEE
    divide. Magnitude envelope ≈ 10²² ≪ the 10³⁸ decimal/HUGEINT cap;
    overflow errors loudly under ANSI, never rounds silently.
    Single-month nations surface a NULL slope (CASE-guarded zero
    denominator) rather than an engine-variant error.

    Scale: customer/nation broadcast under the fact→dim pattern, one
    (nation, month) aggregate with map-side partials, one |nations|-
    sized group aggregate — two shuffles total, the second over
    |nations|·|months| rows."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_totalprice", "o_orderdate")
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey")
    nat = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name")
    mi = (F.year("o_orderdate") * F.lit(12)
          + F.month("o_orderdate")).cast("long")
    cents = (dec2(F.col("o_totalprice")) * F.lit(100)).cast("long")
    monthly = (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
               .join(F.broadcast(nat),
                     c["c_nationkey"] == nat["n_nationkey"])
               .groupBy("n_name", mi.alias("_m"))
               .agg(F.sum(cents).alias("_y")))

    def d38(col):
        return col.cast("decimal(38,0)")

    agg = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_m").alias("_sx"),
        F.sum(F.col("_m") * F.col("_m")).alias("_sxx"),
        F.sum(d38(F.col("_y"))).alias("_sy"),
        F.sum(d38(F.col("_m")) * d38(F.col("_y"))).alias("_sxy"))
    num = d38(F.col("_n")) * F.col("_sxy") - d38(F.col("_sx")) * F.col("_sy")
    den = (d38(F.col("_n")) * d38(F.col("_sxx"))
           - d38(F.col("_sx")) * d38(F.col("_sx")))
    icpt_num = F.col("_sy") * den - num * d38(F.col("_sx"))
    slope = F.when(F.col("_n") > 1,
                   num.cast("double")
                   / (den * F.lit(100)).cast("double"))
    intercept = F.when(F.col("_n") > 1,
                       icpt_num.cast("double")
                       / (d38(F.col("_n")) * den * F.lit(100))
                       .cast("double"))
    return (agg.select(
        "n_name",
        F.col("_n").cast("long").alias("n_months"),
        pround(slope, 6).alias("slope"),
        pround(intercept, 6).alias("intercept"))
        .orderBy("n_name"))


def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level pricing report via ROLLUP → per (returnflag,
    linestatus) totals PLUS per-returnflag subtotals PLUS the grand
    total, in ONE aggregate pass — the grouping-sets operator class
    (ROLLUP/CUBE) the Q1-style report grows into when a dashboard
    wants every drill level at once. ``gid`` is the grouping_id
    bitmask (0 = leaf, 1 = linestatus rolled up, 3 = grand total),
    identical bit convention on both engines (verified).

    Exactness: the same decimal protocol as ``pricing_summary``
    (dsum / remainder-exact mean) at every level — subtotals are
    sums of exact decimals, so parent rows equal the sum of their
    children BY CONSTRUCTION, not to within float error.

    Scale: Catalyst expands rollup into a single Expand + hash
    aggregate — each input row fans to |levels| = 3 aggregate keys
    with map-side partials; shuffle volume is O(groups·levels), never
    a second fact pass per level."""
    l = load_table(spark, "lineitem", sf_dir)
    return (l.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().cast("int").alias("gid"),
                 F.count(F.lit(1)).cast("long").alias("n_rows"),
                 dsum(F.col("l_quantity")).alias("sum_qty"),
                 dsum(F.col("l_extendedprice")).alias("sum_base_price"),
                 pround_avg2(F.col("l_extendedprice")).alias("avg_price"))
            .select("l_returnflag", "l_linestatus", "gid",
                    "n_rows", "sum_qty", "sum_base_price", "avg_price")
            .orderBy("gid", "l_returnflag", "l_linestatus"))


def approx_quantile_bounds(spark: SparkSession, sf_dir: str,
                           qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
                           accuracy: int = 1000) -> DataFrame:
    """GK quantile sketch (``percentile_approx``, Greenwald & Khanna
    2001 — Spark's built-in mergeable one-pass summary) driven against
    its own rank-error contract → one row per requested quantile
    ``(quantile_micro, n_rows, exact_p, within_rank_eps)``.

    This is the sketch/exact pairing the judge's bound-check pattern
    established for HLL (``approx_distinct_users``): the raw sketch
    VALUE is engine-specific (DuckDB has no GK), so the query exports
    the exact interpolated quantile (oracle-recomputable:
    ``quantile_cont`` matches Spark's ``percentile`` bit-for-bit at
    6 dp — the ``price_quantiles`` precedent) plus a Spark-computed
    boolean asserting the GK guarantee, verified with exact BIGINT
    arithmetic in micro-units scaled by ``accuracy`` (no division).

    Rank semantics: with duplicate-heavy values a
    returned element does not have ONE rank — any rank in the
    admissible interval ``[count(< v) + 1, count(<= v)]`` is a valid
    position for ``v`` in sorted order, and GK only promises SOME rank
    in that interval is within ``n/accuracy`` of ``q·n``. Checking the
    upper bound alone could flip false on a legal sketch output, so the
    census counts BOTH strict and non-strict ranks and the boolean
    asserts the interval intersects the tolerance band
    ``[q·n − n/acc − 1, q·n + n/acc + 1]`` (+1 discretization slack:
    ranks are integers, the target ``q·n`` generally isn't).

    Scale shape: exactly TWO fact passes, both one-shuffle aggregates —
    (1) count + exact percentiles + the sketch in one agg, COLLECTED to
    the driver (1 row — re-embedding this subtree via
    crossJoin planned the fact scan + percentile sort a second time,
    and the two sketch evaluations could in principle disagree; the
    collected values are re-lit as literals so the sketch runs exactly
    once). At 100 TB drop the exact column and pass 1 is the sketch
    alone: mergeable, no sort. (2) the rank census — ``2·|qs|``
    conditional sums against literal thresholds in one
    partial-aggregating pass over the fact. No join at all, nothing
    rank-sorted, nothing corpus-sized shuffled.

    Overflow: the scaled comparison multiplies ranks by
    ``1e6·accuracy`` and the target by ``n·accuracy`` — with
    accuracy=1000 both stay under 2^63 up to n ≈ 6·10^9 rows
    (≈ 100 TB of lineitem); larger corpora should drop the 1e6
    micro-scaling (quantiles are already integral there)."""
    l = load_table(spark, "lineitem", sf_dir).select("l_extendedprice")
    qs_sql = ", ".join(repr(float(q)) for q in qs)
    head = l.agg(
        F.count(F.lit(1)).alias("_n"),
        F.expr(f"percentile(l_extendedprice, array({qs_sql}))").alias("_ex"),
        F.expr(f"percentile_approx(l_extendedprice, array({qs_sql}), "
               f"{int(accuracy)})").alias("_ap"),
    ).collect()[0]  # fact pass 1 — sketch + exact, evaluated ONCE
    n, ex, ap = int(head["_n"]), head["_ex"], head["_ap"]
    ranks = l.agg(*(
        [F.sum((F.col("l_extendedprice") < F.lit(float(ap[i])))
               .cast("long")).alias(f"_lt{i}") for i in range(len(qs))]
        + [F.sum((F.col("l_extendedprice") <= F.lit(float(ap[i])))
                 .cast("long")).alias(f"_le{i}") for i in range(len(qs))]
    ))  # fact pass 2 — the rank-interval census, one shuffle, no join
    acc = int(accuracy)
    scale = 1_000_000 * acc          # rank → micro-units × accuracy
    band = n * 1_000_000 + 1_000_000 * acc   # acc·(n/acc + 1) in micro
    out_rows = []
    for i, q in enumerate(qs):
        qm = int(q * 1_000_000)
        target = qm * n * acc        # acc·(q·n) in micro-units, exact
        # interval [lt+1, le] intersects [target−band, target+band]
        lo_ok = (F.col(f"_lt{i}") + F.lit(1)) * F.lit(scale) \
            <= F.lit(target + band)
        up_ok = F.col(f"_le{i}") * F.lit(scale) >= F.lit(target - band)
        out_rows.append(F.struct(
            F.lit(qm).cast("long").alias("quantile_micro"),
            F.lit(n).cast("long").alias("n_rows"),
            pround(F.lit(float(ex[i])), 6).alias("exact_p"),
            (lo_ok & up_ok).alias("within_rank_eps")))
    return (ranks.select(F.explode(F.array(*out_rows)).alias("_s"))
            .select("_s.*")
            .orderBy("quantile_micro"))


def ks_price_shift(spark: SparkSession, sf_dir: str,
                   n_parts: int = 8) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between the
    price distributions of returned (``l_returnflag = 'R'``) and
    kept lineitems → one row ``(n_a, n_b, n_tiers, ks, at_price)``
    — the order-statistic drift test (max CDF gap) that complements
    the binned χ²-style :func:`~.events.value_drift`: KS needs no
    bucketing choice and detects shape shifts χ² bins can smear.

    Exactness: prices collapse to exact integer CENTS tiers
    (``CAST(price AS DECIMAL(18,2)) · 100``), per-tier group counts
    are BIGINT, and the CDF gap is compared CROSS-MULTIPLIED —
    ``|cum_a·n_b − cum_b·n_a|`` in DECIMAL(38,0) — so no division
    happens until the single final ``sql_ir38`` quantization of the
    maximum. The argmax price is the MIN cents among maximal-gap tiers
    (a max-struct aggregate with negated tie-break, deterministic).

    Scale shape: one corpus pass collapses rows to distinct price
    tiers; the CDF prefix sums are the genuinely distributed TWO-PHASE
    form (:func:`~..functions.prefix.ranged_cumsum`): range exchange
    on cents, in-partition window, per-partition offsets collected
    once (2·``n_parts`` longs — the J4 scalar pattern) and re-lit.
    The corpus never serializes through a global window; the only
    full-width stage is the tier aggregate.

    Degenerate inputs fail FAST: an empty lineitem or an
    all-one-class returnflag has no two-sample statistic — previously
    the empty offset-map literal was an analysis error and a zero
    ``n_a·n_b`` denominator a silent NULL ``ks``."""
    from ..functions.prefix import ranged_cumsum
    li = load_table(spark, "lineitem", sf_dir) \
        .select("l_returnflag", "l_extendedprice")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100) \
        .cast("long")
    tiers = (li.groupBy(cents.alias("_c"))
             .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1)
                        .otherwise(0)).alias("_a"),
                  F.sum(F.when(F.col("l_returnflag") != "R", 1)
                        .otherwise(0)).alias("_b")))
    cummed, totals = ranged_cumsum(tiers, ["_c"], ["_a", "_b"],
                                   n_parts=n_parts)
    n_a, n_b, n_tiers = totals["_a"], totals["_b"], totals["rows"]
    if n_a == 0 or n_b == 0:
        raise ValueError(
            "ks_price_shift: degenerate input — need both classes "
            f"non-empty, got n_a={n_a} (returned) n_b={n_b} (kept)")
    cum = cummed.select("_c", F.col("_cum__a").alias("_ca"),
                        F.col("_cum__b").alias("_cb"))
    dv = F.expr(f"abs(CAST(_ca AS DECIMAL(38,0)) * {n_b} "
                f"- CAST(_cb AS DECIMAL(38,0)) * {n_a})")
    best = cum.select(dv.alias("_dv"), F.col("_c")).agg(
        F.max(F.struct(F.col("_dv"), (-F.col("_c")).alias("_negc")))
        .alias("_m"))
    from ..functions.rounding import sql_ir38
    ks = sql_ir38("_m._dv",
                  f"CAST({n_a} AS DECIMAL(38,0)) * {n_b}")
    return best.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.lit(n_tiers).cast("long").alias("n_tiers"),
        F.expr(ks).alias("ks"),
        (-F.col("_m._negc") / F.lit(100.0)).alias("at_price"))
