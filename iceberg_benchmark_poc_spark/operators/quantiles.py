"""Distributed exact quantiles: builtin ``percentile()`` semantics without
the single-thread value-map merge.

Spark's exact ``percentile`` aggregate accumulates a boxed
``OpenHashMap[value, count]`` per partition and merges every map through ONE
final reducer that sorts all distinct values on one thread — O(distinct)
memory and wall on a single core. For bounded-domain value columns
(quantized prices, durations in ms, scores on a grid) the distinct set is
corpus-scale-safe but still large enough to make that merge the bottleneck.

This module computes the identical result as one distributed plan over a
ranked histogram (operators/prefix.py ``ranked_histogram``): one range
exchange of the non-NULL values, a count per distinct value in the
exchange's stage, and the two-phase prefix sum of those counts. Every
distinct value ``v`` then carries its first and last 0-indexed rank, the
next distinct value and the row count ``n``, so:

1. the rank targets of a percentage ``d`` are plan expressions — position
   ``p = d*(n-1)``, ``lo = floor(p)``, ``hi = ceil(p)`` — in the same IEEE
   double arithmetic as builtin ``percentile``, so no value is folded to
   the driver;
2. the one value whose ranks cover ``lo`` computes the quantile by itself:
   the upper order statistic is the value itself when its ranks also cover
   ``hi``, else its successor (consecutive order statistics have no
   distinct value between them);
3. the interpolation is the builtin's exact chain — weights ``hi-p`` /
   ``p-lo`` (Sterbenz-exact), products summed in the same order — AND its
   equal-keys short-circuit (Percentile.scala returns the key directly when
   the two order statistics are equal). The short-circuit is observable:
   when the fractional position's mantissa bits plus the value's bits
   exceed 52, the weighted sum of two equal keys rounds one ulp off the key
   (hypothesis found v=-15, p=1.19e-07 -> -14.999999999999998). DuckDB's
   ``quantile_cont`` does NOT short-circuit, so an oracle gated against
   this module spells out the same CASE over explicit order statistics
   instead of calling ``quantile_cont`` (see q_equidepth_hist).

:func:`exact_quantiles` picks each percentage's value in one aggregate;
:func:`quantile_bucket` counts, on each ranked value, the quantiles at or
below it, which is an equi-depth bucket assigned where the ranks are, with
no boundary array joined back.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from .prefix import Bucket, ranked_histogram

_QV = "__qv"


def _order_statistics(value: Column, d: float) -> tuple[Column, Column, Column]:
    """(covers, reaches_hi, quantile) on a ranked histogram row keyed by
    ``value``, for percentage ``d`` at position ``p = d*(n-1)``: whether the
    value's ranks cover ``lo = floor(p)``, whether they reach ``hi =
    ceil(p)``, and ``d``'s quantile computed from the value and its
    successor, bit-equal to builtin ``percentile`` on the covering row."""
    pos = F.lit(float(d)) * (F.col("total") - 1)
    lo, hi = F.floor(pos), F.ceil(pos)
    last = F.col("cum") - 1
    covers = (F.col("cum") - F.col("count") <= lo) & (lo <= last)
    reaches_hi = last >= hi
    v_lo = value.cast("double")
    quantile = (
        # equal-keys short-circuit: both order statistics are this value
        F.when(reaches_hi, v_lo)
        .otherwise((hi - pos) * v_lo + (pos - lo) * F.col("next").cast("double"))
    )
    return covers, reaches_hi, quantile


def exact_quantiles(
    df: DataFrame,
    value: Column,
    percentages: list[float],
    out_col: str = "bs",
    bucket: Bucket | None = None,
) -> DataFrame:
    """One-row DataFrame: ``out_col`` = array of exact interpolated quantiles.

    ``value`` must be an integral/orderable numeric column; the result array
    is ``double`` and bit-equal to
    ``F.expr(f"percentile(v, array({percentages}))")``, NULL semantics
    included: NULL values are ignored, and empty or all-NULL input gives
    NULL, not an array of NULLs.

    ``bucket=(key, lo, hi, n)`` places the ranked histogram's range ids, as
    in ``global_prefix_sum``: ``key`` is a monotone expression of ``value``
    over ``df``'s columns, and ``lo``/``hi`` (parquet footer min/max via
    ``core.io.table_bounds``, say) steer balance only. Without it every
    distinct value ranks in one range. No Spark job runs until the result
    is.
    """
    ranked = ranked_histogram(
        df.withColumn(_QV, value).filter(F.col(_QV).isNotNull()),
        _QV,
        bucket or (F.col(_QV), None, None, 1),
    )
    picks = []
    for d in percentages:
        covers, _, quantile = _order_statistics(F.col(_QV), d)
        picks.append(F.max(F.when(covers, quantile)))  # one value covers each rank
    # builtin percentile: NULL on empty or all-NULL input
    return ranked.agg(F.when(F.count(F.lit(1)) > 0, F.array(*picks)).alias(out_col))


def quantile_bucket(value: Column, percentages: list[float]) -> Column:
    """On a ``ranked_histogram`` row keyed by ``value``: how many of the
    ``percentages``' exact quantiles the value is at least, i.e.
    ``size(filter(percentile(value, percentages), b -> value >= b))``.

    With ``b`` interpolated between the order statistics of ranks ``lo`` and
    ``hi``, the value is at least ``b`` exactly when its last rank reaches
    ``hi``, or when it holds rank ``lo`` and is at least the ``b`` it
    computes itself. That rests on ``b`` lying between its two order
    statistics, which the interpolation keeps for integral values well
    inside 2^52 in magnitude (q_equidepth_hist's cents); a random search of
    the IEEE chain found one value near 2^52.8 where ``b`` rounds one below
    its lower order statistic.
    """
    terms = []
    for d in percentages:
        covers, reaches_hi, quantile = _order_statistics(value, d)
        at_least = reaches_hi | (covers & (value.cast("double") >= quantile))
        terms.append(F.when(at_least, 1).otherwise(0))
    return reduce(Column.__add__, terms).cast("int")
