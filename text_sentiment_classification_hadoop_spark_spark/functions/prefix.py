"""Distributed two-phase prefix sums — the scale-safe replacement for
a partition-less ``Window.orderBy(...)`` (which serializes the whole
frame through ONE task).

Pattern (first built for ``pps_systematic_sample``, then
``ks_price_shift``; factored here so every ordered-cumulative query
shares one audited implementation):

1. range-exchange on the order key (``repartitionByRange``) + one
   in-partition sort, pinned with ``localCheckpoint`` so phase 2 sees
   the same partitioning;
2. per-partition totals collected ONCE to the driver (``n_parts``
   longs per summed column — the J4 scalar-broadcast pattern), turned
   into exclusive per-partition offsets, and re-lit as a literal
   ``map(pid, offset)`` added to an in-partition cumulative window.

The frame never crosses a global (SinglePartition) window; the only
wide stage is the range exchange. Rows with equal order keys land in
the same range partition, so the k-th order STATISTIC (the value at
global cumulative-count k) is deterministic even when their relative
order is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: cumulative-row-count output column (global 1-based row_number by the
#: range order; ties order arbitrarily WITHIN an equal-key run but the
#: value at any given rank is the exact order statistic).
ROWS = "_cum_rows"


def ranged_cumsum(df: DataFrame, order_cols: list[str],
                  sum_cols: list[str], n_parts: int = 8
                  ) -> tuple[DataFrame, dict[str, int]]:
    """Inclusive prefix sums of integral ``sum_cols`` over ``df``
    ordered by ``order_cols``, computed in the two-phase distributed
    form → ``(frame, totals)``.

    ``frame``: the input columns plus ``_pid`` and one BIGINT
    ``_cum_<c>`` per summed column, plus :data:`ROWS` (cumulative row
    count — the global row number). Exclusive ("all strictly before
    me") forms are ``_cum_<c> − <c>``.

    ``totals``: ``{c: grand_total}`` for each summed column plus
    ``{"rows": n_rows}`` — the driver already holds the per-partition
    subtotals, so grand totals are free (no second action).

    An EMPTY input short-circuits: the literal ``map()`` would be
    ill-typed (``map<null,null>`` vs bigint keys — an analysis error,
    the ks_price_shift degenerate), so the empty frame gets
    correctly-typed zero columns instead and totals are all 0.

    NULL contract: a NULL in a ``sum_cols`` value
    contributes 0 — consistently in BOTH phases (the window ``sum``
    skips NULLs; the per-partition subtotal is coalesced to 0, so an
    all-NULL partition no longer raises ``int(None)``). ``order_cols``
    values must be non-null (range partitioning on NULL keys is
    engine-defined).
    """
    ranged = (df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
              .sortWithinPartitions(*order_cols)
              .withColumn("_pid", F.spark_partition_id())
              .localCheckpoint(eager=True))  # pin partitioning for phase 2
    aggs = [F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
            for c in sum_cols]
    aggs.append(F.count(F.lit(1)).alias(ROWS))
    parts = ranged.groupBy("_pid").agg(*aggs).collect()
    names = sum_cols + [ROWS]
    totals = {c: sum(int(r[c]) for r in parts) for c in names}
    totals["rows"] = totals.pop(ROWS)
    if not parts:
        out = ranged
        for c in sum_cols:
            out = out.withColumn(f"_cum_{c}", F.lit(0).cast("long"))
        return out.withColumn(ROWS, F.lit(0).cast("long")), totals

    offsets: dict[str, dict[int, int]] = {c: {} for c in names}
    acc = {c: 0 for c in names}
    for row in sorted(parts, key=lambda r: r["_pid"]):
        pid = int(row["_pid"])
        for c in names:
            offsets[c][pid] = acc[c]
            acc[c] += int(row[c])

    w = (Window.partitionBy("_pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))

    def _lit_map(c: str) -> str:
        body = ", ".join(f"{pid}, {offsets[c][pid]}L"
                         for pid in sorted(offsets[c]))
        return f"try_element_at(map({body}), _pid)"

    out = ranged
    for c in sum_cols:
        out = out.withColumn(
            f"_cum_{c}",
            (F.coalesce(F.sum(c).over(w), F.lit(0))
             + F.expr(_lit_map(c))).cast("long"))
    out = out.withColumn(
        ROWS, (F.sum(F.lit(1)).over(w) + F.expr(_lit_map(ROWS)))
        .cast("long"))
    return out, totals
