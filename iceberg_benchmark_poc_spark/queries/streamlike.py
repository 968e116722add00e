"""Batch twins of the streaming window queries (SURVEY.md §2.9).

The reference benchmarks the *commit pattern* streaming engines create, not
stream operators; our engine exposes real Structured Streaming in
``iceberg_benchmark_poc_spark.streaming``. These batch formulations compute
identical results on the events fixture so the DuckDB oracle can gate them —
the streaming module's micro-batch outputs are asserted equal to these in
tests (stream-batch unification is the Spark guarantee being exercised).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.io import epoch_micros, load_table
from ..core.registry import register

SESSION_GAP_MINUTES = 30


@register(
    "q_stream_tumbling",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)   AS window_start,
               event_type,
               count(*)                                    AS n_events,
               CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
               count(DISTINCT user_id)                     AS n_users
        FROM events
        GROUP BY 1, 2
        """,
    tags=("streaming", "window-agg"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream.

    Streaming form: ``readStream.groupBy(window('ts','1 hour'),
    'event_type')`` with a watermark; this batch twin uses date_trunc so the
    oracle can verify values. Partial aggregation + AQE keep the shuffle
    proportional to distinct (hour, type) — not to event volume.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_stream_sliding",
    oracle="""
        WITH offsets AS (SELECT o.range AS off_min FROM range(0, 60, 30) o),
        assigned AS (
          SELECT CAST(date_trunc('hour', ts - to_minutes(CAST(off_min AS INTEGER))) AS TIMESTAMP)
                   + to_minutes(CAST(off_min AS INTEGER))                AS window_start,
                 value, event_id
          FROM events, offsets
        )
        SELECT window_start,
               count(*)                                     AS n_events,
               CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM assigned
        GROUP BY window_start
        """,
    tags=("streaming", "window-agg"),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour windows advancing every 30 minutes.

    Each event lands in 2 overlapping windows (window duration / slide) —
    the windows starting at the event's most recent 30-minute boundary
    and 30 minutes before it. Batch form explodes each row into its two
    window starts then tumbles — exactly how Spark's streaming window()
    operator expands slides internally, but as one narrow projection
    (r06 bench follow-up: the previous 2-row broadcast nested-loop join
    re-evaluated interval arithmetic per joined row and measured ~1.4x
    slower; the explode also drops the only BNLJ in the streaming band).
    """
    e = load_table(spark, sf_dir, "events")
    w30 = F.expr("timestampadd(MINUTE, 30 * (minute(ts) div 30), date_trunc('hour', ts))")
    assigned = e.select(
        F.explode(F.array(w30, F.timestamp_add("MINUTE", F.lit(-30), w30))).alias("window_start"),
        "value",
    )
    return assigned.groupBy("window_start").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )


@register(
    "q_stream_session",
    oracle=f"""
        WITH marked AS (
          SELECT user_id, ts, value, event_id,
                 CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
                        OR epoch_us(CAST(ts AS TIMESTAMP))
                           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                           > {SESSION_GAP_MINUTES} * 60 * 1000000
                      THEN 1 ELSE 0 END AS is_new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
          SELECT user_id, ts, value,
                 CAST(sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM marked
        )
        SELECT user_id, session_id,
               count(*)                                     AS n_events,
               CAST(min(ts) AS TIMESTAMP)                   AS session_start,
               CAST(max(ts) AS TIMESTAMP)                   AS session_end,
               CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM sessions
        GROUP BY user_id, session_id
        """,
    tags=("streaming", "window-agg", "session"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) via gaps-and-islands.

    Streaming form is ``session_window(ts, '30 minutes')`` /
    ``applyInPandasWithState``; this batch twin derives identical sessions
    with lag + cumulative sum per user. The window partitions by user_id, so
    it scales horizontally — no global ordering anywhere.
    """
    e = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_micros("ts") - F.lag(epoch_micros("ts")).over(w_order)
    marked = e.select(
        "user_id",
        "ts",
        "value",
        F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new_session"),
        "event_id",
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = marked.withColumn("session_id", F.sum("is_new_session").over(w_cum).cast("bigint"))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )


@register(
    "q_stream_attribution",
    oracle="""
        SELECT c.user_id,
               c.event_id                           AS click_id,
               make_timestamp(epoch_ns(c.ts) // 1000) AS click_ts,
               p.event_id                           AS buy_id,
               make_timestamp(epoch_ns(p.ts) // 1000) AS buy_ts,
               p.value                              AS buy_value
        FROM events c
        JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
        """,
    tags=("streaming", "interval-join"),
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution: the stream-stream interval join's batch twin.

    Same code as the streaming operator (streaming/dedup_join.py) applied to
    the static events table: equi-join on user_id bounded to purchases within
    one hour of the click. The oracle compares at microsecond precision —
    the engine's timestamp grain (the loader truncates the fixture's
    nanosecond timestamps, io.py).
    """
    from ..streaming.dedup_join import attribution_join

    return attribution_join(load_table(spark, sf_dir, "events"))


@register(
    "q_stream_attribution_outer",
    oracle="""
        SELECT c.user_id,
               c.event_id                           AS click_id,
               make_timestamp(epoch_ns(c.ts) // 1000) AS click_ts,
               p.event_id                           AS buy_id,
               make_timestamp(epoch_ns(p.ts) // 1000) AS buy_ts,
               p.value                              AS buy_value
        FROM events c
        LEFT JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 3600000000
        WHERE c.event_type = 'click'
        """,
    tags=("streaming", "interval-join", "outer"),
)
def q_stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution with unconverted clicks: the LEFT OUTER interval join's
    batch twin.

    Same code as the streaming operator
    (streaming/dedup_join.py::attribution_join_outer) on the static events
    table: clicks with no purchase within the hour survive with NULL
    purchase columns — conversion AND abandonment in one result. The
    streaming variant's null rows are watermark-gated (emitted only once no
    future purchase can match); on the static frame the twin is an ordinary
    left-outer join, which is exactly the backfill path.
    """
    from ..streaming.dedup_join import attribution_join_outer

    return attribution_join_outer(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# custom stateful operator, batch twin — oracle-gated
# ---------------------------------------------------------------------------

#: q_manifest_flush thresholds, sized so BOTH rules fire at sf0.01 (mean
#: entry ~33 KB -> 32 entries ~ 1 MiB: byte-cap and entry-cap flushes mix)
FLUSH_Q_BYTES = 1 << 20
FLUSH_Q_ENTRIES = 32
FLUSH_Q_WRITERS = 4

_FLUSH_ENTRY_BYTES = "200 + (event_id * 7919) % 65536"


@register(
    "q_manifest_flush",
    oracle=f"""
        WITH RECURSIVE seq AS MATERIALIZED (
          SELECT user_id % {FLUSH_Q_WRITERS} AS writer_id, event_id,
                 row_number() OVER (PARTITION BY user_id % {FLUSH_Q_WRITERS} ORDER BY event_id) AS rn,
                 CAST(SUM({_FLUSH_ENTRY_BYTES}) OVER (
                   PARTITION BY user_id % {FLUSH_Q_WRITERS} ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
          FROM events
        ),
        rec AS (
          SELECT writer_id, CAST(-1 AS BIGINT) AS flush_seq, CAST(0 AS BIGINT) AS rn,
                 CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS prev_rn, CAST(0 AS BIGINT) AS prev_cum
          FROM (SELECT DISTINCT user_id % {FLUSH_Q_WRITERS} AS writer_id FROM events)
          UNION ALL
          SELECT b.writer_id, b.flush_seq, b.rn, s2.cum_b, b.prev_rn, b.prev_cum
          FROM (
            SELECT r.writer_id AS writer_id, r.flush_seq + 1 AS flush_seq, MIN(s.rn) AS rn,
                   r.rn AS prev_rn, r.cum AS prev_cum
            FROM rec r JOIN seq s ON s.writer_id = r.writer_id
             AND (s.rn - r.rn >= {FLUSH_Q_ENTRIES} OR s.cum_b - r.cum >= {FLUSH_Q_BYTES})
            GROUP BY r.writer_id, r.flush_seq, r.rn, r.cum
          ) b JOIN seq s2 ON s2.writer_id = b.writer_id AND s2.rn = b.rn
        )
        SELECT r.writer_id AS writer_id, r.flush_seq AS flush_seq,
               r.rn - r.prev_rn AS n_entries, r.cum - r.prev_cum AS flushed_bytes,
               s.event_id AS last_event_id
        FROM rec r JOIN seq s ON s.writer_id = r.writer_id AND s.rn = r.rn
        WHERE r.flush_seq >= 0
        ORDER BY r.writer_id, r.flush_seq
        """,
    tags=("streaming", "stateful", "custom-operator"),
)
def q_manifest_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive root-manifest flush machine (batch replay), oracle-gated.

    The reference's RootManifest accumulates commit entries and flushes them
    to a leaf manifest when inline bytes or entry count cross a threshold
    (poc/utils/adaptive_tree.py:96-150). That reset-on-threshold recurrence
    has no window-function form, so it runs as a custom Arrow operator:
    streaming via applyInPandasWithState (streaming/stateful.py), and here
    the batch twin replays each writer's entry log through the same
    vectorized ``_flush_scan`` core. The DuckDB oracle expresses the same
    machine as a recursive CTE stepping flush-boundary to flush-boundary —
    one recursion level per flush, not per row — which is what makes this
    custom operator SQL-checkable at all. The windowed base relation is
    pinned ``AS MATERIALIZED`` (the module-wide iterative-oracle rule):
    every recursion level rejoins ``seq``, and letting DuckDB re-derive
    the prefix-sum window per level made this the slowest oracle in the
    sf1 sweep (3.1x slower at sf0.1, far worse at sf1).

    Scale: one shuffle on writer_id, then each writer replays independently
    in a single Arrow batch; the per-writer scan is O(flushes x log n).
    Writers shard across executors — the same layout the streaming operator
    uses for its state.
    """
    from ..streaming.stateful import manifest_flush_batch

    entries = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % FLUSH_Q_WRITERS).alias("writer_id"),
        "event_id",
        (F.lit(200) + (F.col("event_id") * 7919) % 65536).alias("entry_bytes"),
    )
    # a plain orderBy, not core.io.order_small: the stage under the sort
    # replays every event through pandas, which coalesce(1) would run in one
    # task (slower at sf0.1 in an interleaved A/B)
    return manifest_flush_batch(entries, FLUSH_Q_BYTES, FLUSH_Q_ENTRIES).orderBy(
        "writer_id", "flush_seq"
    )


REDELIVERY_MOD = 10  # events with event_id % 10 == 3 arrive twice


@register(
    "q_stream_dedup",
    oracle=f"""
        WITH redelivered AS (
          SELECT event_id, event_type, value FROM events
          UNION ALL
          SELECT event_id, event_type, value FROM events WHERE event_id % {REDELIVERY_MOD} = 3
        ),
        delivered AS (
          SELECT event_type, count(*) AS n_delivered FROM redelivered GROUP BY 1
        ),
        uniq AS (
          SELECT event_type,
                 count(*) AS n_unique,
                 CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
          FROM events GROUP BY 1
        )
        SELECT u.event_type, d.n_delivered, u.n_unique, u.total_value
        FROM uniq u JOIN delivered d USING (event_type)
        """,
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redelivery dedup: at-least-once delivery repaired to effectively-once.

    Batch twin of ``streaming.dedup_join.dedup_events`` (the
    dropDuplicatesWithinWatermark operator), run through the SAME function:
    a deterministic redelivery (every event_id % 10 == 3 arrives twice)
    is injected, deduped on event_id, and the per-type delivered/unique
    counts plus exact value sums prove the repair dropped exactly the
    duplicates and nothing else. Streaming equivalence for the same
    function is asserted in tests/test_streaming.py; here the DuckDB oracle
    gates the values.

    Scale: dedup state is one key per event_id inside the watermark horizon
    (state bounded by rate x horizon, not history); the batch twin is a
    dropDuplicates shuffle on event_id followed by a map-side-combined
    per-type rollup.
    """
    from ..streaming.dedup_join import dedup_events

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    redelivered = e.unionByName(e.filter(F.col("event_id") % REDELIVERY_MOD == 3))
    delivered = redelivered.groupBy("event_type").agg(F.count("*").alias("n_delivered"))
    deduped = dedup_events(redelivered)
    uniq = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_unique"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )
    return uniq.join(delivered, "event_type")


@register(
    "q_json_props",
    oracle="""
        SELECT event_type,
               count(*)                                              AS n_events,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
               CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
        FROM events
        GROUP BY event_type
        """,
    tags=("json", "agg"),
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: JSON payload column -> stats.

    Every event carries a JSON string payload (the schemaless tail every
    event pipeline has); from_json with an explicit schema parses it inside
    codegen — no Python, no sampling-based schema inference job — and the
    extracted field aggregates map-side like any other column. At 100 TB
    the explicit schema matters twice: inference would scan the corpus
    once just to guess types, and a typed struct column prunes/pushes
    where a string blob cannot.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type",
        F.from_json("props", StructType([StructField("k", LongType())])).alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("p.k").cast("bigint").alias("k_sum"),
        F.min("p.k").cast("bigint").alias("k_min"),
        F.max("p.k").cast("bigint").alias("k_max"),
    )


@register(
    "q_stream_enrich",
    oracle="""
        SELECT c.c_mktsegment, e.event_type,
               count(*)                                          AS n_events,
               sum(CAST(floor(e.value * 100) AS BIGINT)) / 100.0 AS total_value
        FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment, e.event_type
        """,
    tags=("streaming", "stream-static-join"),
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the dimension-join streaming family's twin.

    Same code as the streaming operator (streaming/dedup_join.py
    enrich_events) applied to static frames: broadcast the customer
    dimension into the event scan, roll up per (segment, type). The
    streaming path is equivalence-tested in tests/test_streaming.py; this
    batch twin is what the DuckDB oracle can gate.
    """
    from ..streaming.dedup_join import enrich_events

    return enrich_events(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


#: windowed leaderboard depth for q_stream_topk
STREAM_TOPK_K = 3


@register(
    "q_stream_topk",
    oracle=f"""
        WITH counts AS (
          SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS window_start,
                 event_type,
                 count(*) AS n_events
          FROM events GROUP BY 1, 2
        )
        SELECT window_start, event_type,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(row_number() OVER (PARTITION BY window_start
                                       ORDER BY n_events DESC, event_type ASC)
                    AS BIGINT) AS rank
        FROM counts
        QUALIFY row_number() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type ASC)
                <= {STREAM_TOPK_K}
        """,
    tags=("streaming", "window-agg", "topk"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-K leaderboard: the K busiest event types each hour.

    The trending-now streaming shape (in Structured Streaming this is the
    tumbling-window aggregate feeding a rank in foreachBatch; the batch
    twin ranks directly). Tie order is pinned (count desc, type asc) so
    the leaderboard is a deterministic value.

    Scale: raw events collapse to the |windows| x |types| grid in one
    map-side-combined aggregation; the rank window partitions BY WINDOW
    over that metadata-scale grid — never a global sort, never raw
    events. Output is at most K rows per window.
    """
    e = load_table(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= STREAM_TOPK_K)
        .select(
            "window_start",
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@register(
    "q_user_overlap",
    oracle="""
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b,
               CAST(p.n_both AS BIGINT) AS n_both,
               CAST(sa.n AS BIGINT)     AS n_a,
               CAST(sb.n AS BIGINT)     AS n_b,
               CAST((1000000 * p.n_both) // (sa.n + sb.n - p.n_both) AS BIGINT)
                 AS jaccard_ppm
        FROM pairs p
        JOIN sizes sa ON p.type_a = sa.event_type
        JOIN sizes sb ON p.type_b = sb.event_type
        """,
    tags=("behavior", "set-similarity", "audience"),
)
def q_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: exact Jaccard per type pair.

    The audience-segmentation question (do clickers also purchase?) as
    exact set similarity: distinct (user, type) pairs self-join on
    user_id, pair co-counts over the |types| choose 2 grid, Jaccard in
    exact integer ppm via |A∩B| / (|A| + |B| - |A∩B|).

    Scale: the distinct shrink happens BEFORE the self-join (the
    q_retention idiom); the join fans each user out to at most
    |types| choose 2 rows — types is a small fixed set, so the
    intermediate is O(users), and the per-type sizes table is broadcast
    back onto the metadata-scale pair grid.
    """
    ut = load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("CAST((1000000 * n_both) div (n_a + n_b - n_both) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )
