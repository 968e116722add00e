"""Distributed global prefix scan: exact running sums and maxima without a
single-partition window.

``Window.orderBy(...)`` with no partitionBy moves the whole input through
ONE task — fine for metadata-scale sets (bin-pack policy tables, commit
logs), fatal for corpus-scale ones. This operator computes the identical
running aggregate in two phases, the classic scan-then-offset decomposition:

1. split the total order into contiguous key ranges, then a per-range
   running aggregate (window partitioned by the range id — each task sorts
   and scans only its own key range);
2. per-range aggregates (one row per range — metadata-scale by
   construction) get their own tiny prefix scan and broadcast back as base
   offsets.

The result is bit-identical to the global window: range boundaries only
decide where the local/global split lands, never the value.

Range ids are deterministic buckets. ``bucket=(key, lo, hi, n)`` gives the
range id ``width_bucket(key, lo, hi, n)``: a pure expression of the row, so
every consumer of the relation computes the SAME id with no
materialization and no lineage cut. ``lo``/``hi`` only steer balance — ids
0 and n+1 catch out-of-range keys correctly — so approximate domain
knowledge (parquet footer min/max, a fixed score domain) is enough. Pass
the folded min/max straight through: a ``None`` bound (empty or all-NULL
input) or ``lo >= hi`` gives one range. Put any monotone transform on the
key, never on the bounds.

Key contract: the key is non-NULL and non-decreasing along the full
``order_cols`` order (pass the negated key for a descending column; a
composite key such as ``metric + position`` is fine as long as it never
decreases). A NULL key fails the task instead of guessing a position; a NaN
key takes the last id, where Spark orders NaN.

One range exchange per call: both phases read the per-range window over
ONE ``repartition(id)`` exchange — the offsets side takes each range's
aggregate from an unbounded frame of the same window spec, so its exchange
keeps exactly the columns of the local-scan side and AQE plans it as a
ReusedExchange. That holds when ``df`` carries exactly the order columns
and the value column (join anything else back by key); extra columns used
downstream only cost a second exchange, never correctness.

``ranked_histogram`` runs the same two phases over per-key counts: rows are
counted per (range, key) in the range exchange's own stage, and the offsets
table also carries the grand total and the first key of the next non-empty
range, so every distinct key knows its ranks, its successor and the row
count with no driver-side value (operators/quantiles.py picks order
statistics from them).

AQE-safe — coalescing merges whole hash partitions, and the window
re-partitions logically by the id column, not by physical layout.

The order must be total (include a unique tiebreaker column): with ties
spanning a range boundary the local scan could not reproduce the global tie
order — same caveat as the global window itself, enforced here by requiring
callers to pass a full ordering.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

_PID = "__range_pid"
_LOCAL = "__local_scan"
_RANGE = "__range_agg"
_BASE = "__base_offset"
_VALUE = "__key_value"
_FIRST = "__first_key"
_NEXT = "__next_key"
_TOTAL = "__total"

#: (key expression, domain lo, domain hi, bucket count); lo/hi are Python
#: numbers, or None when the domain fold saw no non-NULL value
Bucket = tuple[Column, float | None, float | None, int]


def _range_id(bucket: Bucket) -> Column:
    """Provably non-nullable range id: monotone in the key, failing on a
    NULL key.

    Non-nullability matters for the plan: the offsets join's implied
    isnotnull(id) then folds away on both sides, so the two exchange
    subtrees stay canonically equal and AQE reuses one for the other.
    """
    key, lo, hi, n = bucket
    if lo is None or hi is None or not float(lo) < float(hi):
        ids = [F.lit(0)]
    else:
        ids = [
            F.width_bucket(key.cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(int(n))),
            F.lit(int(n) + 1),  # NaN key: width_bucket is NULL, Spark orders NaN last
        ]
    null_key = F.when(key.isNull(), F.raise_error(F.lit("global prefix scan: NULL range key")))
    return F.coalesce(null_key, *ids).cast("bigint")


def _plus_base(local: Column, base: Column) -> Column:
    return local + F.coalesce(base, F.lit(0))


def _two_phase_scan(
    df: DataFrame,
    order_cols: list[Column],
    value_col: Column,
    out_col: str,
    bucket: Bucket,
    agg: Callable[[Column], Column],
    frame_end: int,
    combine: Callable[[Column, Column], Column],
    per_key: bool = False,
) -> DataFrame:
    """The one two-phase scan. ``per_key`` is ranked_histogram's form: the
    rows fold with ``agg`` per distinct value of the one order column after
    the exchange, and each output row also carries its successor and the
    aggregate over all rows."""
    ranged = df.withColumn(_PID, _range_id(bucket)).repartition(F.col(_PID))
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    upto = (Window.unboundedPreceding, frame_end)
    whole = (Window.unboundedPreceding, Window.unboundedFollowing)
    # the offsets table: one row per non-empty range, over one SinglePartition
    # window in range order, broadcast back to the per-range side
    w_pid = Window.orderBy(_PID)
    base = agg(F.col(_RANGE)).over(w_pid.rowsBetween(Window.unboundedPreceding, -1)).alias(_BASE)
    if not per_key:
        local = ranged.withColumn(_LOCAL, agg(value_col).over(w.rowsBetween(*upto)))
        # the per-range aggregate comes from the SAME window spec (an
        # unbounded frame), so column pruning leaves the offsets side's
        # exchange equal to the local side's — a plain groupBy would prune
        # the order columns and plan a second exchange that re-runs
        # everything upstream
        offsets = (
            ranged.withColumn(_RANGE, agg(value_col).over(w.rowsBetween(*whole)))
            .groupBy(_PID)
            .agg(F.max(_RANGE).alias(_RANGE))  # one value per range
            .select(_PID, base)
        )
        return (
            local.join(F.broadcast(offsets), _PID)
            .withColumn(out_col, combine(F.col(_LOCAL), F.col(_BASE)))
            .drop(_PID, _LOCAL, _BASE)
        )
    (key,) = order_cols
    # one row per distinct key, folded in the exchange's stage: hash
    # partitioning on the range id clusters (range id, key), so the groupBy
    # plans no second exchange
    keyed = ranged.groupBy(_PID, key).agg(agg(value_col).alias(_VALUE))
    local = keyed.select(
        key,
        _PID,
        _VALUE,
        agg(F.col(_VALUE)).over(w.rowsBetween(*upto)).alias(_LOCAL),
        F.lead(key).over(w).alias(_NEXT),
    )
    # the offsets table folds the exchanged rows per range directly: it reads
    # the same columns as the per-key side, so its exchange stays equal. It
    # also carries the aggregate over every range and the first key of the
    # next non-empty range: the successor of a range's last key
    offsets = (
        ranged.groupBy(_PID)
        .agg(agg(value_col).alias(_RANGE), F.min(key).alias(_FIRST))
        .select(
            _PID,
            base,
            agg(F.col(_RANGE)).over(w_pid.rowsBetween(*whole)).alias(_TOTAL),
            F.lead(_FIRST).over(w_pid).alias(_FIRST),
        )
    )
    return local.join(F.broadcast(offsets), _PID).select(
        key,
        F.col(_VALUE).alias("count"),
        combine(F.col(_LOCAL), F.col(_BASE)).alias(out_col),
        F.coalesce(_NEXT, _FIRST).alias("next"),
        F.col(_TOTAL).alias("total"),
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: Column,
    out_col: str,
    bucket: Bucket,
) -> DataFrame:
    """df + ``out_col`` = running sum of ``value_col`` in ``order_cols`` order.

    Equivalent to ``F.sum(value_col).over(Window.orderBy(*order_cols)
    .rowsBetween(unboundedPreceding, currentRow))`` but scales: no task ever
    holds more than one key range, and the only single-partition step is the
    per-range offsets table (|ranges| rows). Range totals are sums of the
    values, so negative values are exact too.
    """
    return _two_phase_scan(
        df,
        order_cols,
        value_col,
        out_col,
        bucket,
        F.sum,
        Window.currentRow,
        _plus_base,
    )


def global_prefix_max(
    df: DataFrame,
    order_cols: list[Column],
    value_col: Column,
    out_col: str,
    bucket: Bucket,
) -> DataFrame:
    """df + ``out_col`` = max of ``value_col`` over STRICTLY-PRECEDING rows
    in ``order_cols`` order (NULL for the global first row).

    The exclusive-scan sibling of :func:`global_prefix_sum`, with ``max`` as
    the monoid, which is what dominance / skyline tests need ("is anything
    BEFORE me bigger"). The same total-order caveat applies: callers must
    pass a tie-free ordering (dedupe/collapse first), or rows tying across a
    range boundary would see a different 'preceding' set than the
    single-window form.
    """
    return _two_phase_scan(
        df, order_cols, value_col, out_col, bucket, F.max, -1, F.greatest
    )


def ranked_histogram(df: DataFrame, key: str, bucket: Bucket) -> DataFrame:
    """One row per distinct value of ``df``'s column ``key``, with its ranks.

    Columns: ``key``; ``count``, its rows; ``cum``, the rows whose key is at
    most it, so its 0-indexed ranks run from ``cum - count`` to ``cum - 1``;
    ``next``, the next larger distinct value (NULL for the largest); and
    ``total``, the rows of ``df``. Every rank statistic sits in the plan, so
    a caller that picks order statistics needs no driver-side count.

    The prefix sum of per-key counts, over the one range exchange: the rows
    are counted per (range, key) in the exchange's stage, the per-range
    window adds the running count and the in-range successor, and the
    offsets table adds each range's base, ``total`` and the successor of a
    range's last key. ``key`` must be non-NULL (filter NULLs first), and
    ``bucket``'s key must be non-decreasing in it.
    """
    return _two_phase_scan(
        df,
        [F.col(key)],
        F.lit(1),
        "cum",
        bucket,
        F.sum,
        Window.currentRow,
        _plus_base,
        per_key=True,
    )
