"""Distributed exact quantiles: builtin ``percentile()`` semantics without
the single-thread value-map merge.

Spark's exact ``percentile`` aggregate accumulates a boxed
``OpenHashMap[value, count]`` per partition and merges every map through ONE
final reducer that sorts all distinct values on one thread — O(distinct)
memory and wall on a single core. For bounded-domain value columns
(quantized prices, durations in ms, scores on a grid) the distinct set is
corpus-scale-safe but still large enough to make that merge the bottleneck.

This operator computes the identical result as a distributed plan:

1. ``groupBy(value)`` count — shuffled, map-side combined, one row per
   distinct value;
2. cumulative ranks via the two-phase :func:`global_prefix_sum` (no
   single-partition corpus window);
3. one conditional-aggregation pass picks the <=2*len(percentages) order
   statistics the requested quantiles interpolate between — the 0-indexed
   k-th order statistic is the smallest value whose cumulative count
   covers k;
4. linear interpolation with the same IEEE expression builtin
   ``percentile`` evaluates: position ``p*(n-1)``, weights ``hi-pos`` /
   ``pos-lo`` (Sterbenz-exact), products summed in the same order, AND the
   builtin's equal-keys short-circuit (Percentile.scala returns the key
   directly when the two order statistics it would interpolate between are
   equal) — bit-equal output. The short-circuit is observable: when the
   fractional position's mantissa bits plus the value's bits exceed 52, the
   weighted sum of two equal keys rounds one ulp off the key (hypothesis
   found v=-15, p=1.19e-07 -> -14.999999999999998). DuckDB's
   ``quantile_cont`` does NOT short-circuit, so an oracle gated against
   this operator must spell out the same CASE over explicit order
   statistics instead of calling ``quantile_cont`` (see q_equidepth_hist).

The driver-side values are the non-NULL row count ``n_rows`` (the rank
targets are literals in the final aggregation) and the value's min/max
(the prefix sum's bucket domain), folded in one aggregation.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .prefix import global_prefix_sum

#: deterministic-bucket count for the prefix sum's range ids: ~20-100x the
#: local core count so the hash spread over shuffle partitions is even
#: (guide §2.5), while the offsets table stays trivially metadata-scale
_N_RANGES = 1024


def exact_quantiles(
    df: DataFrame,
    value: Column,
    percentages: list[float],
    out_col: str = "bs",
    counts: DataFrame | None = None,
) -> DataFrame:
    """One-row DataFrame: ``out_col`` = array of exact interpolated quantiles.

    ``value`` must be an integral/orderable numeric column; the result array
    is ``double`` and bit-equal to
    ``F.expr(f"percentile(v, array({percentages}))")``, NULL semantics
    included: NULL values are ignored, and empty or all-NULL input gives
    NULL, not an array of NULLs.

    Pass ``counts`` — a ``(__qv, __qcnt)`` DataFrame of per-distinct-value
    counts — when the caller already has (or wants to reuse) the value
    histogram; ``df``/``value`` are then ignored, and the row count and
    value domain are folded from the CACHED histogram (one pass over
    |distinct values| rows, reused by the main plan) instead of re-scanning
    the input.

    Without ``counts``, the row count is folded with ``min``/``max`` of the
    value in ONE aggregation of the raw rows — deliberately: all three
    collapse to row-group metadata over a parquet scan (aggregate
    pushdown), which is far cheaper than building and caching a histogram
    that near-unique value domains (raw doubles) would inflate to row
    scale. The min/max are the prefix sum's bucket domain
    (operators/prefix.py).
    """
    if counts is None:
        n_rows, lo, hi = df.agg(F.count(value), F.min(value), F.max(value)).collect()[0]
        counts = (
            df.select(value.alias("__qv"))
            .filter(F.col("__qv").isNotNull())
            .groupBy("__qv")
            .agg(F.count("*").alias("__qcnt"))
        )
    else:
        from pyspark import StorageLevel

        # persist the caller's histogram itself, so its later uses hit the cache
        counts.persist(StorageLevel.MEMORY_AND_DISK)
        counts = counts.filter(F.col("__qv").isNotNull())
        n_rows, lo, hi = counts.agg(
            F.sum("__qcnt"), F.min("__qv"), F.max("__qv")
        ).collect()[0]
    if not n_rows:  # builtin percentile: NULL on empty or all-NULL input
        return counts.agg(F.lit(None).cast("array<double>").alias(out_col))
    bucket = (F.col("__qv"), lo, hi, _N_RANGES)
    cum = global_prefix_sum(counts, [F.col("__qv")], F.col("__qcnt"), "__qcum", bucket=bucket)
    ks = sorted(
        {
            k
            for d in percentages
            for p in (d * (n_rows - 1),)
            for k in (math.floor(p), math.ceil(p))
        }
    )
    picked = cum.agg(
        *[F.min(F.when(F.col("__qcum") >= k + 1, F.col("__qv"))).alias(f"__v{k}") for k in ks]
    )
    exprs = []
    for d in percentages:
        p = d * (n_rows - 1)
        lo_k, hi_k = math.floor(p), math.ceil(p)
        if lo_k == hi_k:
            exprs.append(F.col(f"__v{lo_k}").cast("double"))
        else:
            v_lo = F.col(f"__v{lo_k}").cast("double")
            v_hi = F.col(f"__v{hi_k}").cast("double")
            exprs.append(
                # builtin percentile's equal-keys short-circuit: interpolating
                # between equal order statistics returns the key itself, never
                # the (possibly 1-ulp-off) weighted sum
                F.when(v_lo == v_hi, v_lo).otherwise(
                    F.lit(hi_k - p) * v_lo + F.lit(p - lo_k) * v_hi
                )
            )
    return picked.select(F.array(*exprs).alias(out_col))
