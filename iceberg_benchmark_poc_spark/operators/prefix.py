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


def _two_phase_scan(
    df: DataFrame,
    order_cols: list[Column],
    value_col: Column,
    out_col: str,
    bucket: Bucket,
    agg: Callable[[Column], Column],
    frame_end: int,
    combine: Callable[[Column, Column], Column],
) -> DataFrame:
    ranged = df.withColumn(_PID, _range_id(bucket)).repartition(F.col(_PID))
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    local = ranged.withColumn(
        _LOCAL, agg(value_col).over(w.rowsBetween(Window.unboundedPreceding, frame_end))
    )
    # the per-range aggregate comes from the SAME window spec (an unbounded
    # frame), so column pruning leaves the offsets side's exchange equal to
    # the local side's — a plain groupBy would prune the order columns and
    # plan a second exchange that re-runs everything upstream
    w_prev = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.withColumn(
            _RANGE,
            agg(value_col).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
        )
        .groupBy(_PID)
        .agg(F.max(_RANGE).alias(_RANGE))  # one value per range
        .select(_PID, agg(F.col(_RANGE)).over(w_prev).alias(_BASE))
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, combine(F.col(_LOCAL), F.col(_BASE)))
        .drop(_PID, _LOCAL, _BASE)
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
        lambda local, base: local + F.coalesce(base, F.lit(0)),
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
