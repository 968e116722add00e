"""Aggregation, window, sort/limit, and cost-model queries
(SURVEY.md §2.4, §2.5, §2.6).

Float-aggregation parity rule: plain SUM/AVG over doubles is summation-order
dependent (differs between engines AND between Spark runs as partials race),
so every double aggregate here casts terms to DECIMAL, sums exactly, then
casts the final value back to DOUBLE. Integer aggregates are exact as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import (
    BYTE_FLOOR,
    GLOBAL_CAP,
    S3_BYTES_PER_MS,
    commit_log,
    dv_entries,
    mdv_stats,
    read_log,
    with_fixtures,
)
from ..core.io import load_table
from ..core.registry import register

# ---------------------------------------------------------------------------
# scalar aggregates
# ---------------------------------------------------------------------------


@register(
    "q_agg_stats",
    oracle=with_fixtures(
        """
        SELECT count(*)                         AS n_dvs,
               CAST(min(dv_size_bytes) AS BIGINT) AS min_size,
               CAST(max(dv_size_bytes) AS BIGINT) AS max_size,
               CAST(sum(dv_size_bytes) AS BIGINT) AS total_size,
               sum(dv_size_bytes) / count(*)    AS avg_size,
               CAST(sum(deleted_row_count) AS BIGINT) AS total_deleted
        FROM dv_entries
        """,
        "dv_entries",
    ),
    tags=("agg",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/avg/max/sum/count over the DV manifest (reference
    poc/test_delete_storm.py:89,200 computes these with Python builtins).
    One map-side-combinable aggregation, no group key: a single reduce at
    any scale.
    """
    dv = dv_entries(spark, sf_dir)
    return dv.agg(
        F.count("*").alias("n_dvs"),
        F.min("dv_size_bytes").cast("bigint").alias("min_size"),
        F.max("dv_size_bytes").cast("bigint").alias("max_size"),
        F.sum("dv_size_bytes").cast("bigint").alias("total_size"),
        (F.sum("dv_size_bytes") / F.count("*")).alias("avg_size"),
        F.sum("deleted_row_count").cast("bigint").alias("total_deleted"),
    )


@register(
    "q_read_stats",
    oracle=with_fixtures(
        f"""
        SELECT count(*)                                     AS n_reads,
               CAST(min(ttfb_ms) AS BIGINT)                 AS min_ttfb_ms,
               CAST(max(ttfb_ms) AS BIGINT)                 AS max_ttfb_ms,
               sum(ttfb_ms) / count(*)                      AS avg_ttfb_ms,
               CAST(sum(size_bytes) AS BIGINT)              AS total_bytes,
               (CAST(sum(ttfb_ms) AS DOUBLE)
                  + CAST(sum(size_bytes) AS DOUBLE) / CAST({S3_BYTES_PER_MS} AS DOUBLE)) / count(*)
                                                            AS avg_wall_ms
        FROM read_log
        """,
        "read_log",
    ),
    tags=("agg",),
)
def q_read_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-read statistics over the S3 read log (reference
    poc/utils/s3_simulator.py:92-121 aggregates wall/TTFB min/avg/max).

    avg_wall_ms distributes over the integer sums (sum(ttfb) + sum(size)/rate)
    instead of summing per-row doubles, so the result is exact and
    order-independent — the parity-safe pattern for derived-double averages.
    """
    rl = read_log(spark, sf_dir)
    return rl.agg(
        F.count("*").alias("n_reads"),
        F.min("ttfb_ms").cast("bigint").alias("min_ttfb_ms"),
        F.max("ttfb_ms").cast("bigint").alias("max_ttfb_ms"),
        (F.sum("ttfb_ms") / F.count("*")).alias("avg_ttfb_ms"),
        F.sum("size_bytes").cast("bigint").alias("total_bytes"),
        (
            (F.sum("ttfb_ms").cast("double") + F.sum("size_bytes").cast("double") / F.lit(S3_BYTES_PER_MS))
            / F.count("*")
        ).alias("avg_wall_ms"),
    )


@register(
    "q_group_agg",
    oracle=with_fixtures(
        """
        SELECT batch_size,
               count(*)                                     AS n_commits,
               CAST(sum(CAST(commit_time_ms AS DECIMAL(38,9))) AS DOUBLE) / count(*)
                                                            AS avg_commit_ms,
               CAST(sum(metadata_size_bytes) AS BIGINT)     AS total_metadata_bytes,
               CAST(sum(batch_size) AS BIGINT)              AS files_committed
        FROM commit_log
        GROUP BY batch_size
        """,
        "commit_log",
    ),
    tags=("agg", "group"),
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch-size commit statistics (reference
    poc/test_single_file_commits.py:219-238). Partial aggregation reduces
    each partition to <=6 rows before the shuffle — constant network cost
    regardless of commit volume.
    """
    cl = commit_log(spark, sf_dir)
    return cl.groupBy("batch_size").agg(
        F.count("*").alias("n_commits"),
        (F.sum(F.col("commit_time_ms").cast("decimal(38,9)")).cast("double") / F.count("*")).alias("avg_commit_ms"),
        F.sum("metadata_size_bytes").cast("bigint").alias("total_metadata_bytes"),
        F.sum("batch_size").cast("bigint").alias("files_committed"),
    )


@register(
    "q_conflict_rate",
    oracle="""
        WITH attempts AS (
          SELECT event_id                              AS attempt_id,
                 CAST(event_id % 5 AS INTEGER)         AS writer_id,
                 CASE WHEN (event_id * 13) % 100 < 26 THEN 1 ELSE 0 END AS conflicted
          FROM events
        )
        SELECT writer_id,
               count(*)                                 AS attempts,
               CAST(sum(conflicted) AS BIGINT)          AS conflicts,
               sum(conflicted) / count(*)               AS conflict_rate
        FROM attempts
        GROUP BY writer_id
        """,
    tags=("agg", "conditional"),
)
def q_conflict_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: optimistic-commit conflict rate per writer.

    Mirrors the concurrent-writers outcome table (reference
    poc/test_concurrent_writers.py:221-237, 26.4% conflict rate at 5 writers)
    as avg(when(conflict,1)) — the reference's measured rate becomes the
    deterministic modular fixture here; the live measured variant runs in
    bench/ (threaded commit harness).
    """
    e = load_table(spark, sf_dir, "events").select("event_id")
    eid = F.col("event_id")
    attempts = e.select(
        eid.alias("attempt_id"),
        (eid % 5).cast("int").alias("writer_id"),
        F.when((eid * 13) % 100 < 26, 1).otherwise(0).alias("conflicted"),
    )
    return attempts.groupBy("writer_id").agg(
        F.count("*").alias("attempts"),
        F.sum("conflicted").cast("bigint").alias("conflicts"),
        (F.sum("conflicted") / F.count("*")).alias("conflict_rate"),
    )


# ---------------------------------------------------------------------------
# windows: cumulative growth + bin-packing spill policy
# ---------------------------------------------------------------------------


@register(
    "q_growth",
    oracle=with_fixtures(
        """
        SELECT commit_id, cum_metadata_bytes, cum_commits
        FROM (
          SELECT commit_id,
                 CAST(sum(metadata_size_bytes) OVER (ORDER BY commit_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_metadata_bytes,
                 row_number() OVER (ORDER BY commit_id)              AS cum_commits
          FROM commit_log
        )
        WHERE commit_id % 10 = 0
        """,
        "commit_log",
    ),
    tags=("window",),
)
def q_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest growth checkpoints: cumulative metadata bytes every 10 commits
    (reference poc/test_single_file_commits.py:111-151). The commit log is a
    metadata stream (one row per table commit), so the global-order window is
    bounded; for data-scale cumulative sums use range partitioning first.
    """
    cl = commit_log(spark, sf_dir)
    w = Window.orderBy("commit_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        cl.select(
            "commit_id",
            F.sum("metadata_size_bytes").over(w).cast("bigint").alias("cum_metadata_bytes"),
            F.row_number().over(Window.orderBy("commit_id")).cast("bigint").alias("cum_commits"),
        )
        .filter(F.col("commit_id") % 10 == 0)
    )


@register(
    "q_spill_policy",
    oracle=with_fixtures(
        f"""
        WITH classified AS (
          SELECT *,
                 (mdv_size < {BYTE_FLOOR} OR container_type = 'run') AS must_inline
          FROM mdv_stats
        ),
        budget AS (
          SELECT CAST({GLOBAL_CAP} - coalesce(sum(CASE WHEN must_inline THEN mdv_size END), 0) AS BIGINT) AS remaining
          FROM classified
        ),
        candidates AS (
          SELECT manifest_id, mdv_size, container_type,
                 sum(mdv_size) OVER (ORDER BY mdv_size, manifest_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_size
          FROM classified WHERE NOT must_inline
        )
        SELECT c.manifest_id, c.mdv_size, c.container_type,
               FALSE AS must_inline,
               CASE WHEN c.cum_size <= b.remaining THEN 'inline' ELSE 'spill' END AS decision
        FROM candidates c CROSS JOIN budget b
        UNION ALL
        SELECT manifest_id, mdv_size, container_type, TRUE AS must_inline, 'inline' AS decision
        FROM classified WHERE must_inline
        """,
        "mdv_stats",
    ),
    tags=("window", "policy"),
)
def q_spill_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-adaptive inline/spill bin-packing policy as one window pass.

    Reference rules (poc/test_density_adaptive_policy.py:282-336):
      1. Byte Floor — mdv_size < 4 KB must inline;
      2. run containers always inline;
      3. remaining candidates admitted smallest-first while the running total
         fits in the 16 MiB global cap (minus the must-inline bytes).
    Greedy smallest-first admission == prefix-sum <= budget, so the whole
    policy is a cumulative-sum window + filter. The reference's O(n^2) list
    scan (51s for 10K MDVs, its flagged bottleneck) becomes one sort +
    linear scan — and distributes.
    """
    return spill_policy(mdv_stats(spark, sf_dir))


def spill_policy(mdv: DataFrame) -> DataFrame:
    """q_spill_policy over any (manifest_id, container_type, mdv_size) frame."""
    classified = mdv.withColumn(
        "must_inline", (F.col("mdv_size") < BYTE_FLOOR) | (F.col("container_type") == "run")
    )
    budget = classified.agg(
        (
            F.lit(GLOBAL_CAP)
            - F.coalesce(F.sum(F.when(F.col("must_inline"), F.col("mdv_size"))), F.lit(0))
        )
        .cast("bigint")
        .alias("remaining")
    )
    w = Window.orderBy("mdv_size", "manifest_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    candidates = (
        classified.filter(~F.col("must_inline"))
        .select("manifest_id", "mdv_size", "container_type", F.sum("mdv_size").over(w).alias("cum_size"))
        .crossJoin(F.broadcast(budget))
        .select(
            "manifest_id",
            "mdv_size",
            "container_type",
            F.lit(False).alias("must_inline"),
            F.when(F.col("cum_size") <= F.col("remaining"), F.lit("inline")).otherwise(F.lit("spill")).alias(
                "decision"
            ),
        )
    )
    forced = classified.filter(F.col("must_inline")).select(
        "manifest_id",
        "mdv_size",
        "container_type",
        F.lit(True).alias("must_inline"),
        F.lit("inline").alias("decision"),
    )
    return candidates.unionByName(forced)


# ---------------------------------------------------------------------------
# cost model + top-1 config selection
# ---------------------------------------------------------------------------


@register(
    "q_cost_model",
    oracle=with_fixtures(
        f"""
        SELECT file_id, dv_size_bytes,
               CAST(0.0005 AS DOUBLE) * dv_size_bytes            AS inline_ms,
               CAST(50.0 AS DOUBLE) + dv_size_bytes / CAST({S3_BYTES_PER_MS} AS DOUBLE)
                                                                 AS external_ms,
               (CAST(50.0 AS DOUBLE) + dv_size_bytes / CAST({S3_BYTES_PER_MS} AS DOUBLE))
                 / (CAST(0.0005 AS DOUBLE) * dv_size_bytes)      AS speedup
        FROM dv_entries
        """,
        "dv_entries",
    ),
    tags=("projection", "cost-model"),
)
def q_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline-vs-external DV fetch cost model as a derived-column projection.

    Reference poc/utils/s3_simulator.py:147-196: inline cost is pure parse
    (~bytes), external cost pays a TTFB per fetch plus transfer. Narrow
    per-row arithmetic — whole-stage codegen, no shuffle, no UDF.
    """
    dv = dv_entries(spark, sf_dir)
    inline_ms = F.lit(0.0005) * F.col("dv_size_bytes")
    external_ms = F.lit(50.0) + F.col("dv_size_bytes") / F.lit(S3_BYTES_PER_MS)
    return dv.select(
        "file_id",
        "dv_size_bytes",
        inline_ms.alias("inline_ms"),
        external_ms.alias("external_ms"),
        (external_ms / inline_ms).alias("speedup"),
    )


@register(
    "q_top1",
    oracle="""
        SELECT threads, time_ms
        FROM (
          SELECT t.threads,
                 ceil(1000.0 / t.threads) * 55.0 + t.threads * 2.0 AS time_ms
          FROM (VALUES (1),(10),(25),(50),(100)) t(threads)
        )
        ORDER BY time_ms, threads
        LIMIT 1
        """,
    tags=("sort", "limit"),
)
def q_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-config selection (min-by): optimal metadata-fetch thread count.

    Reference picks min(configs, key=time_ms)
    (poc/test_parallel_s3_fetching.py:123-125); here it is ORDER BY + LIMIT 1
    over a modeled cost curve — Spark executes as a TakeOrdered, no full sort.
    """
    # spark.range + element_at keeps this JVM-only (createDataFrame would
    # round-trip the literals through the Python serializer)
    thread_opts = F.array(*[F.lit(t) for t in (1, 10, 25, 50, 100)])
    configs = spark.range(5).select(
        F.element_at(thread_opts, (F.col("id") + 1).cast("int")).alias("threads")
    )
    timed = configs.select(
        "threads",
        (F.ceil(F.lit(1000.0) / F.col("threads")) * 55.0 + F.col("threads") * 2.0).alias("time_ms"),
    )
    return timed.orderBy("time_ms", "threads").limit(1)


# ---------------------------------------------------------------------------
# incremental view maintenance: delta-merge an aggregate state
# ---------------------------------------------------------------------------

IVM_INSERT_MOD = 10  # o_orderkey % 10 == 7 rows arrive as the insert delta
IVM_DELETE_MOD = 20  # o_orderkey % 20 == 2 rows are retracted by the delta


@register(
    "q_incremental_agg",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderkey % {IVM_DELETE_MOD} <> 2
        GROUP BY 1
        """,
    tags=("agg", "incremental", "ivm", "cdc"),
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: merge a CDC delta into aggregate state.

    The materialized view is a per-priority (count, sum) over orders. A CDC
    batch arrives carrying inserts (op=+1: the keys the base view hasn't seen)
    and retractions (op=-1: keys being deleted). Instead of recomputing over
    the base table, the delta is aggregated ALONE with signed measures
    (sum(op), sum(op*price)) and merged into the existing state by group key
    — cost proportional to |delta|, not |base|, which is the whole point at
    100 TB: the base state is terabytes, the delta is megabytes, and count/
    sum states merge associatively (the same property Spark exploits for
    partial aggregation and streaming state). Groups whose merged count hits
    zero drop out. The oracle recomputes the view from scratch; equality
    proves merge == recompute.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("decimal(38,2)").alias("price")
    )
    key = F.col("o_orderkey")
    # the base view CONTAINS the rows the delta will retract (that's what
    # makes them deletions); %10==7 and %20==2 key sets are disjoint (odd vs
    # even), so base + inserts - deletes == everything except %20==2
    base = o.filter(key % IVM_INSERT_MOD != 7)
    inserts = o.filter(key % IVM_INSERT_MOD == 7).select("*", F.lit(1).alias("op"))
    deletes = o.filter((key % IVM_DELETE_MOD == 2) & (key % IVM_INSERT_MOD != 7)).select(
        "*", F.lit(-1).alias("op")
    )

    state = base.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"), F.sum("price").alias("sum_price")
    )
    delta_state = (
        inserts.unionByName(deletes)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("op").cast("bigint").alias("d_n"),
            F.sum(F.col("op") * F.col("price")).alias("d_sum"),
        )
    )
    merged = (
        state.join(delta_state, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n_orders"),
            (
                F.coalesce(F.col("sum_price"), F.lit(0).cast("decimal(38,2)"))
                + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(38,2)"))
            ).alias("sum_price"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("sum_price").cast("double").alias("total_price"),
    )
