"""Behavioral analytics over the events stream: funnel, retention, anomaly.

The event-sequence workloads every product-analytics deployment runs over
exactly this kind of (user_id, ts, event_type, value) fact table. They are
registered beyond the reference surface (the reference has no event
sequencing — SURVEY.md §2 note on events) because they exercise plan
shapes nothing else in the registry covers: staged self-aggregation
(funnel), self-join cohorting (retention), and a variance cut done in
exact integer arithmetic (anomaly).

Parity conventions (established in core/io.py + q_corr_stats):
- timestamps compare as *microseconds* on both engines — Spark
  ``epoch_micros`` vs DuckDB ``epoch_ns(ts) // 1000`` — because events.ts
  is physically TIMESTAMP(NANOS) and the engines truncate differently;
- any threshold on float aggregates is rearranged onto exact integer /
  decimal folds so the cut cannot flip on summation order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import epoch_micros, load_table, table_bounds
from ..core.registry import register
from ..operators.prefix import global_prefix_sum

#: one day in microseconds — the retention bucketing grid (the events
#: fixture spans one month, so weekly cohorts would collapse to a single
#: cell; daily cells give a real triangle at every SF)
DAY_US = 24 * 3600 * 1_000_000

#: funnel conversion window: the next stage must follow within this span
#: (an unwindowed funnel saturates — any active user eventually does
#: everything; the window is what makes drop-off measurable)
FUNNEL_WINDOW_US = 48 * 3600 * 1_000_000

#: anomaly cut: |value - mean| > Z * stddev(population), applied per event_type
ANOMALY_Z = 3


def _day_index(col) -> F.Column:
    """Absolute day index (micros since epoch div one day), exactly.

    ``floor(em / D)`` in doubles can round up within a hair of a day
    boundary; subtracting the remainder first keeps every step in exact
    BIGINT arithmetic (the final division is a multiple of D over D, exact
    in double far below 2^53), matching DuckDB's ``//`` integer division.
    """
    em = epoch_micros(col)
    d = F.lit(DAY_US)
    return ((em - F.pmod(em, d)) / d).cast("bigint")


def _log_key(col) -> F.Column:
    """Monotone log1p range key for a heavy-tailed count or total; NULL
    maps to +inf so it sorts last, as the oracles' NULLS LAST order does."""
    return F.when(col.isNull(), F.lit(math.inf)).otherwise(F.log1p(F.greatest(col, F.lit(0))))


def _user_cents_bound(n_ev, v_hi) -> float:
    """Loose upper bound of one user's cents total (event count x max
    value), from the parquet footers (core.io.table_bounds)."""
    return max(float(n_ev) * max(float(v_hi or 0.0), 0.0) * 100.0, 1.0)


@register(
    "q_funnel",
    oracle=f"""
        WITH s1 AS (
          SELECT user_id, min(epoch_ns(ts) // 1000) AS t1
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t2
          FROM events e JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_ns(e.ts) // 1000 > s1.t1
            AND epoch_ns(e.ts) // 1000 <= s1.t1 + {FUNNEL_WINDOW_US}
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t3
          FROM events e JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > s2.t2
            AND epoch_ns(e.ts) // 1000 <= s2.t2 + {FUNNEL_WINDOW_US}
          GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s1) AS n_viewed,
               (SELECT count(*) FROM s2) AS n_clicked,
               (SELECT count(*) FROM s3) AS n_purchased
        """,
    tags=("events", "funnel", "sequence"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: view -> click -> purchase, per user.

    A user advances a stage only with an event STRICTLY AFTER their
    first event of the previous stage AND within the 48-hour conversion
    window — order matters (that separates a funnel from three independent
    counts) and the window makes drop-off measurable (an unwindowed funnel
    saturates on any sufficiently active user). Each stage is one
    filtered groupBy(user_id) min, joined to the previous stage's
    timestamps; at scale that is three hash aggregations all shuffled on
    the same key (AQE reuses the partitioning run to run), each stage's
    input strictly smaller than the last. The three 1-row stage counts
    combine by broadcast cross join. Timestamps compare as microseconds
    on both engines (events.ts is TIMESTAMP(NANOS); see module doc).
    """
    e = load_table(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(epoch_micros("ts")).alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", epoch_micros("ts").alias("tc"))
        .join(s1, "user_id")
        .filter((F.col("tc") > F.col("t1")) & (F.col("tc") <= F.col("t1") + FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("tc").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", epoch_micros("ts").alias("tp"))
        .join(s2, "user_id")
        .filter((F.col("tp") > F.col("t2")) & (F.col("tp") <= F.col("t2") + FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("tp").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("n_viewed"))
        .crossJoin(s2.agg(F.count("*").alias("n_clicked")))
        .crossJoin(s3.agg(F.count("*").alias("n_purchased")))
    )


@register(
    "q_retention",
    oracle=f"""
        WITH ew AS (
          SELECT user_id, (epoch_ns(ts) // 1000) // {DAY_US} AS d FROM events
        ),
        coh AS (SELECT user_id, min(d) AS cohort_day FROM ew GROUP BY user_id),
        act AS (
          SELECT DISTINCT e.user_id, c.cohort_day, e.d - c.cohort_day AS day_offset
          FROM ew e JOIN coh c ON c.user_id = e.user_id
        )
        SELECT cohort_day, day_offset, count(*) AS n_users
        FROM act GROUP BY cohort_day, day_offset
        """,
    tags=("events", "retention", "cohort"),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users active N days after their first day.

    The classic triangle: cohort users by first-activity day, then count
    distinct users per (cohort, days-since-cohort) cell. Scale: the event
    table reduces to per-(user, day) activity FIRST (distinct over the
    bucketed pair — the big shrink happens before any join), the per-user
    cohort day is a groupBy min on the already-shrunk table, and the
    self-join keys on user_id — the same key both aggregations shuffled
    on, so AQE plans co-partitioned exchanges, and no side is assumed
    broadcastable (users scale with the corpus). Day bucketing is exact
    integer arithmetic on epoch-microseconds, never float floor (see
    _day_index).
    """
    e = load_table(spark, sf_dir, "events")
    ew = e.select("user_id", _day_index("ts").alias("d")).distinct()
    coh = ew.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ew.join(coh, "user_id")
        .select("cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_anomaly",
    oracle=f"""
        WITH g AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c FROM events
        ),
        s AS (
          SELECT event_type, count(*) AS n,
                 sum(CAST(c AS HUGEINT))     AS sc,
                 sum(CAST(c AS HUGEINT) * c) AS sc2
          FROM g GROUP BY event_type
        )
        SELECT g.event_type,
               CAST(any_value(s.n) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (
                 WHERE (s.n * CAST(g.c AS HUGEINT) - s.sc) * (s.n * CAST(g.c AS HUGEINT) - s.sc)
                     > {ANOMALY_Z * ANOMALY_Z} * (s.n * s.sc2 - s.sc * s.sc)
               ) AS BIGINT) AS n_anomalies
        FROM g JOIN s ON s.event_type = g.event_type
        GROUP BY g.event_type
        """,
    tags=("events", "statistics", "anomaly"),
)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly counts per event type, cut in exact arithmetic.

    Flags events with |value - mean| > 3 sigma (population) of their
    event_type. The naive form compares floats whose summation order
    differs across engines; instead the cut is rearranged onto an exact
    integer grid (value floors to cents — the z-score is scale-invariant):

        (v - S/n)^2 > 9 * (S2/n - (S/n)^2)
        <=> (n*v - S)^2 > 9 * (n*S2 - S^2)        [multiply by n^2 > 0]

    with S = sum(c), S2 = sum(c^2) as 128-bit-exact folds (DECIMAL(38,0)
    on Spark, HUGEINT on DuckDB) — both engines evaluate the identical
    integer inequality, so the boundary cannot flip. Scale: one groupBy
    over a handful of event types produces a tiny moment table that
    BROADCASTS back to the event scan; the flagging pass is map-only, and
    the final per-type count partial-aggregates. Two scans of events, zero
    big shuffles.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.select("event_type", F.floor(F.col("value") * 100).cast("bigint").alias("c"))
    cd = F.col("c").cast("decimal(38,0)")
    s = g.groupBy(F.col("event_type").alias("s_type")).agg(
        F.count("*").alias("n"),
        F.sum(cd).alias("sc"),
        F.sum(cd * F.col("c")).alias("sc2"),
    )
    dev = F.col("n") * cd - F.col("sc")  # n*v - S, exact decimal
    var_n2 = F.col("n") * F.col("sc2") - F.col("sc") * F.col("sc")  # n*S2 - S^2
    return (
        g.join(F.broadcast(s), g.event_type == F.col("s_type"))
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n_events"),
            F.sum(
                F.when(dev * dev > F.lit(ANOMALY_Z * ANOMALY_Z) * var_n2, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build (versioned history with validity intervals)
# ---------------------------------------------------------------------------


@register(
    "q_scd2",
    oracle="""
        WITH e AS (
          SELECT user_id, event_id,
                 epoch_ns(ts) // 1000               AS em,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        v AS (
          SELECT user_id, cents, em AS valid_from_us,
                 CAST(row_number() OVER w AS INTEGER) AS version_n,
                 lead(em) OVER w - 1                  AS valid_to_us
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY em ASC, event_id ASC)
        )
        SELECT user_id, version_n, valid_from_us, valid_to_us,
               valid_to_us IS NULL AS is_current,
               cents
        FROM v
        """,
    tags=("behavior", "scd", "window"),
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: event stream -> versioned validity history.

    The warehouse dimension-versioning primitive: each user's attribute
    updates (here, every event's value) become versioned rows with
    half-open validity intervals — valid_from at the update, valid_to one
    microsecond before the next update, NULL + is_current on the latest.
    Downstream point-in-time joins (``BETWEEN valid_from AND valid_to``)
    read history without ever rewriting it. Ordering ties break on
    event_id (the established exact composite-order rule), so version
    numbers are deterministic on both engines; values fold to cents.

    Scale: one window over (user_id) partitions — high cardinality, so the
    sort is many small per-user runs after a single hash shuffle, the
    shape AQE handles without a global sort. The build is incremental in
    production (only keys seen in the new batch re-version), which is this
    same plan over the delta joined to each key's open tail row.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    base = e.select(
        "user_id",
        "event_id",
        em.alias("em"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("em").asc(), F.col("event_id").asc())
    v = base.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("version_n"),
        F.col("em").alias("valid_from_us"),
        (F.lead("em").over(w) - 1).alias("valid_to_us"),
        "cents",
    )
    return v.select(
        "user_id",
        "version_n",
        "valid_from_us",
        "valid_to_us",
        F.col("valid_to_us").isNull().alias("is_current"),
        "cents",
    )


# ---------------------------------------------------------------------------
# batch sessionization (the gap-rule twin of the streaming session window)
# ---------------------------------------------------------------------------

#: session gap rule: >30 idle minutes starts a new session — the industry
#: default (GA/Amplitude) and the same gap q_stream_session uses, so the
#: batch and streaming definitions of "session" agree
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "q_sessionize",
    oracle=f"""
        WITH base AS (
          SELECT user_id, event_id,
                 epoch_ns(ts) // 1000                  AS em,
                 CAST(floor(value * 100) AS BIGINT)    AS cents
          FROM events
        ),
        marked AS (
          SELECT *,
                 CASE WHEN em - lag(em) OVER w > {SESSION_GAP_US}
                        OR lag(em) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_start
          FROM base
          WINDOW w AS (PARTITION BY user_id ORDER BY em, event_id)
        ),
        sess AS (
          SELECT *,
                 CAST(SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY em, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS INTEGER) AS session_n
          FROM marked
        )
        SELECT user_id, session_n,
               count(*)                    AS n_events,
               min(em)                     AS session_start_us,
               max(em) - min(em)           AS duration_us,
               CAST(sum(cents) AS BIGINT)  AS session_cents
        FROM sess
        GROUP BY user_id, session_n
        """,
    tags=("behavior", "session", "window"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-gap sessions per user, with stats.

    The batch twin of q_stream_session, proving the two surfaces agree on
    what a session is: a lag() gap flag, a running sum to number sessions,
    and one groupBy for per-session stats. Ties on timestamp break by
    event_id so the numbering is deterministic on both engines.

    Scale: one shuffle on user_id serves the window AND the final
    aggregate (the groupBy keys are a superset of the window partition
    key, so Catalyst reuses the partitioning — no second exchange). Per-
    user event streams are the only ordering scope; no global sort.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        epoch_micros("ts").alias("em"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("em").asc(), F.col("event_id").asc())
    marked = base.withColumn(
        "is_start",
        F.when(
            F.lag("em").over(w).isNull()
            | ((F.col("em") - F.lag("em").over(w)) > SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = marked.withColumn(
        "session_n",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )
    return sess.groupBy("user_id", "session_n").agg(
        F.count("*").alias("n_events"),
        F.min("em").alias("session_start_us"),
        (F.max("em") - F.min("em")).alias("duration_us"),
        F.sum("cents").alias("session_cents"),
    )


@register(
    "q_cohort_ltv",
    oracle="""
        WITH base AS (
          SELECT user_id,
                 (epoch_ns(ts) // 1000) // 86400000000       AS day_idx,
                 CAST(floor(value * 100) AS BIGINT)          AS cents
          FROM events
        ),
        cohort AS (SELECT user_id, min(day_idx) AS cohort_day FROM base GROUP BY 1),
        daily AS (
          SELECT c.cohort_day,
                 b.day_idx - c.cohort_day AS age_days,
                 count(DISTINCT b.user_id) AS n_active,
                 CAST(sum(b.cents) AS BIGINT) AS day_cents
          FROM base b JOIN cohort c ON b.user_id = c.user_id
          GROUP BY 1, 2
        )
        SELECT cohort_day, age_days, CAST(n_active AS BIGINT) AS n_active,
               CAST(SUM(day_cents) OVER (
                 PARTITION BY cohort_day ORDER BY age_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_cents
        FROM daily
        """,
    tags=("behavior", "cohort", "ltv"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative revenue by cohort age.

    The companion to q_retention's activity triangle: users cohort by
    first-seen day, revenue folds to integer cents per (cohort, age), and
    a cumulative window turns the daily increments into the LTV curve
    every growth team plots. The cumulative sum runs over the
    |cohorts| x |ages| METADATA-scale triangle, never raw events.

    Scale: one shuffle on user_id for the cohort min + the cohort join
    (same key, partitioning reused), one map-side-combined aggregation to
    the triangle, one window over it. Raw events are touched twice (min
    fold, daily fold), both full-scan-combine passes.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        _day_index("ts").alias("day_idx"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cohort = base.groupBy("user_id").agg(F.min("day_idx").alias("cohort_day"))
    daily = (
        base.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day_idx") - F.col("cohort_day")).alias("age_days"))
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.sum("cents").alias("day_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "cohort_day",
        "age_days",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.sum("day_cents").over(w).cast("bigint").alias("cum_cents"),
    )


@register(
    "q_seasonality",
    oracle="""
        WITH base AS (
          SELECT event_type,
                 ((epoch_ns(ts) // 1000) // 86400000000 + 3) % 7 AS dow,
                 CAST(floor(value * 100) AS BIGINT)              AS cents
          FROM events
        ),
        per_dow AS (
          SELECT event_type, dow, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
          FROM base GROUP BY 1, 2
        ),
        tot AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS tn, CAST(sum(c) AS BIGINT) AS tc
          FROM per_dow GROUP BY 1
        )
        SELECT p.event_type, CAST(p.dow AS BIGINT) AS dow,
               CAST(p.n AS BIGINT)        AS n_events,
               p.c                        AS dow_cents,
               CAST(p.c * t.tn AS BIGINT) AS index_num,
               CAST(t.tc * p.n AS BIGINT) AS index_den
        FROM per_dow p JOIN tot t USING (event_type)
        """,
    tags=("behavior", "seasonality", "temporal"),
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type, exact-rational index.

    The weekly-seasonality fingerprint: per (type, weekday) event counts
    and revenue, plus the seasonality index — mean revenue per event that
    weekday over the type's overall mean — as the exact integer rational
    (dow_cents * total_n) / (total_cents * dow_n). Weekday comes from
    pure epoch-day arithmetic ((day + 3) mod 7, 0 = Monday, anchored on
    1970-01-01 being a Thursday) so both engines bucket identically with
    no calendar/locale functions involved.

    Scale: one map-side-combined aggregation to the |types| x 7 profile;
    the per-type totals re-aggregate THAT table (never the raw events)
    and join back at metadata scale.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.pmod(_day_index("ts") + 3, F.lit(7)).alias("dow"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    per_dow = base.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    )
    tot = per_dow.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("c").alias("tc")
    )
    return per_dow.join(tot, "event_type").select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("c").cast("bigint").alias("dow_cents"),
        (F.col("c") * F.col("tn")).cast("bigint").alias("index_num"),
        (F.col("tc") * F.col("n")).cast("bigint").alias("index_den"),
    )


@register(
    "q_reconcile",
    oracle="""
        WITH o AS (
          SELECT (epoch_ns(o_orderdate) // 1000) // 86400000000 AS day_idx,
                 CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS order_cents,
                 count(*) AS n_orders
          FROM orders GROUP BY 1
        ),
        e AS (
          SELECT (epoch_ns(ts) // 1000) // 86400000000 AS day_idx,
                 CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS event_cents,
                 count(*) AS n_events
          FROM events GROUP BY 1
        )
        SELECT COALESCE(o.day_idx, e.day_idx)        AS day_idx,
               COALESCE(o.order_cents, -1)           AS order_cents,
               CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
               COALESCE(e.event_cents, -1)           AS event_cents,
               CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
               CASE WHEN o.day_idx IS NULL THEN 'events_only'
                    WHEN e.day_idx IS NULL THEN 'orders_only'
                    ELSE 'both' END                  AS status
        FROM o FULL OUTER JOIN e ON o.day_idx = e.day_idx
        """,
    tags=("behavior", "reconcile", "join"),
)
def q_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system daily reconciliation: orders ledger vs events stream.

    The audit query every pipeline with two ingestion paths runs — roll
    both systems to a shared day grain, FULL OUTER join, and classify
    each day as both / orders_only / events_only with the exact integer
    cent totals side by side. Missing sides report -1 (amount) and 0
    (count) so the output schema is dense and hashable.

    Scale: both inputs collapse to |days| rows via map-side-combined
    aggregation BEFORE the join — the full outer join is metadata-scale
    regardless of fact volume, the textbook aggregate-then-reconcile
    plan (never join raw ledgers).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            _day_index("o_orderdate").alias("day_idx"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day_idx")
        .agg(F.sum("cents").alias("order_cents"), F.count("*").alias("n_orders"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            _day_index("ts").alias("day_idx"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day_idx")
        .agg(F.sum("cents").alias("event_cents"), F.count("*").alias("n_events"))
    )
    oo = o.select(F.col("day_idx").alias("o_day"), "order_cents", "n_orders")
    ee = e.select(F.col("day_idx").alias("e_day"), "event_cents", "n_events")
    j = oo.join(ee, oo.o_day == ee.e_day, "full_outer")
    return j.select(
        F.coalesce(F.col("o_day"), F.col("e_day")).alias("day_idx"),
        F.coalesce(F.col("order_cents"), F.lit(-1)).cast("bigint").alias("order_cents"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce(F.col("event_cents"), F.lit(-1)).cast("bigint").alias("event_cents"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        F.when(F.col("o_day").isNull(), F.lit("events_only"))
        .when(F.col("e_day").isNull(), F.lit("orders_only"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


@register(
    "q_churn",
    oracle="""
        WITH monthly AS (
          SELECT DISTINCT user_id,
                 (epoch_ns(ts) // 1000) // 86400000000 // 7 AS week_idx
          FROM events
        ),
        span AS (SELECT min(week_idx) AS lo, max(week_idx) AS hi FROM monthly)
        SELECT m.week_idx,
               count(*)                                       AS n_active,
               CAST(count(*) FILTER (WHERE nxt.user_id IS NULL) AS BIGINT)
                                                              AS n_churned,
               CAST(count(*) FILTER (WHERE prv.user_id IS NULL) AS BIGINT)
                                                              AS n_new
        FROM monthly m
        LEFT JOIN monthly nxt
          ON nxt.user_id = m.user_id AND nxt.week_idx = m.week_idx + 1
        LEFT JOIN monthly prv
          ON prv.user_id = m.user_id AND prv.week_idx = m.week_idx - 1
        CROSS JOIN span
        WHERE m.week_idx < span.hi
        GROUP BY 1
        """,
    tags=("behavior", "churn", "retention"),
)
def q_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn and acquisition: active users lost / gained per week.

    The churn ledger next to q_retention's cohort triangle: per activity
    week, how many active users do NOT appear the following week
    (churned) and how many had not been active the week before (new).
    Epoch-week bucketing is pure integer division; the final week is
    excluded (churn undefined without a successor), encoded identically
    on both engines via the 1-row span fold.

    Scale: events collapse to distinct (user, week) — one shuffle — and
    the two adjacency checks are self equi-joins on (user, week±1), never
    window-over-user sorts of raw events. Counts are map-side-combined.
    """
    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    week = F.lit(7 * 24 * 3600 * 1_000_000)
    monthly = (
        e.select(
            "user_id",
            ((em - F.pmod(em, week)) / week).cast("bigint").alias("week_idx"),
        )
        .distinct()
    )
    span = monthly.agg(F.max("week_idx").alias("hi"))
    nxt = monthly.select(
        F.col("user_id").alias("n_user"), (F.col("week_idx") - 1).alias("n_week")
    )
    prv = monthly.select(
        F.col("user_id").alias("p_user"), (F.col("week_idx") + 1).alias("p_week")
    )
    j = (
        monthly.join(
            nxt,
            (F.col("user_id") == F.col("n_user")) & (F.col("week_idx") == F.col("n_week")),
            "left",
        )
        .join(
            prv,
            (F.col("user_id") == F.col("p_user")) & (F.col("week_idx") == F.col("p_week")),
            "left",
        )
        .crossJoin(F.broadcast(span))
        .filter(F.col("week_idx") < F.col("hi"))
    )
    return j.groupBy("week_idx").agg(
        F.count("*").alias("n_active"),
        F.count(F.when(F.col("n_user").isNull(), F.lit(1))).cast("bigint").alias("n_churned"),
        F.count(F.when(F.col("p_user").isNull(), F.lit(1))).cast("bigint").alias("n_new"),
    )


@register(
    "q_power_users",
    oracle="""
        WITH totals AS (
          SELECT user_id,
                 CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY 1
        ),
        n AS (SELECT count(*) AS nu, CAST(sum(cents) AS BIGINT) AS tot FROM totals),
        ranked AS (
          SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM totals
        ),
        thr AS (
          SELECT min(r.cents) AS thr_cents
          FROM ranked r CROSS JOIN n
          WHERE r.rn >= (9 * n.nu + 9) // 10
        )
        SELECT CAST(n.nu AS BIGINT)  AS n_users,
               n.tot                 AS total_cents,
               thr.thr_cents         AS thr_cents,
               CAST(count(*) FILTER (WHERE t.cents >= thr.thr_cents) AS BIGINT)
                                     AS n_power,
               CAST(COALESCE(sum(t.cents) FILTER (WHERE t.cents >= thr.thr_cents), 0)
                    AS BIGINT)       AS power_cents
        FROM totals t CROSS JOIN n CROSS JOIN thr
        GROUP BY 1, 2, 3
        """,
    tags=("behavior", "concentration", "pareto"),
)
def q_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: how much do the top-decile users account for?

    The 80/20 diagnostic. The top-decile revenue threshold is the exact
    order statistic at rank ceil(0.9 * n_users) — computed WITHOUT a
    global sort of user totals: value-histogram groupBy(cents), the
    two-phase global_prefix_sum over the bounded cents domain (the
    q_equidepth_hist machinery), then the smallest value whose cumulative
    count reaches the rank. Power users are all users at-or-above the
    threshold (ties included — deterministic under duplicates); output is
    one row of exact integer folds, concentration = power_cents /
    total_cents reconstructible exactly.

    Scale: one shuffle to user totals, one to the value histogram
    (|distinct cents| rows); the only single-partition step is the
    prefix-sum totals table (|ranges| rows). User totals are never
    globally sorted — at 1e9 users the rank lookup still runs on the
    histogram, not the users.
    """
    ev = load_table(spark, sf_dir, "events")
    totals = (
        ev.select("user_id", F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").alias("cents"))
    )
    n = totals.agg(
        F.count("*").alias("nu"), F.sum("cents").cast("bigint").alias("tot")
    )
    hist = totals.groupBy("cents").agg(F.count("*").alias("cnt"))
    # log1p range buckets for the prefix scan (operators/prefix.py): only a
    # LOOSE upper bound exists for a per-user total (event count x max
    # value, read from the parquet footers, no job), and log spacing keeps
    # heavy-tailed totals from collapsing into one range — bounds steer
    # balance only, never values. NULL totals (users whose values are all
    # NULL) sort last, as in the oracle, under an infinite key.
    n_ev, ((_, v_hi),) = table_bounds(spark, sf_dir, "events", ["value"])
    summed = global_prefix_sum(
        hist,
        [F.col("cents").asc_nulls_last()],
        F.col("cnt"),
        "cum",
        bucket=(_log_key(F.col("cents")), 0.0, math.log1p(_user_cents_bound(n_ev, v_hi)), 1024),
    )
    thr = (
        summed.crossJoin(F.broadcast(n))
        .filter(F.col("cum") >= F.expr("(9 * nu + 9) div 10"))
        .agg(F.min("cents").alias("thr_cents"))
    )
    return (
        totals.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(thr))
        .groupBy(
            F.col("nu").cast("bigint").alias("n_users"),
            F.col("tot").alias("total_cents"),
            F.col("thr_cents"),
        )
        .agg(
            F.count(F.when(F.col("cents") >= F.col("thr_cents"), F.lit(1)))
            .cast("bigint")
            .alias("n_power"),
            F.coalesce(
                F.sum(F.when(F.col("cents") >= F.col("thr_cents"), F.col("cents"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("power_cents"),
        )
    )


@register(
    "q_rolling_distinct",
    oracle="""
        WITH du AS (
          SELECT DISTINCT (epoch_ns(ts) // 1000) // 86400000000 AS day_idx,
                 user_id
          FROM events
        ),
        days AS (SELECT DISTINCT day_idx FROM du)
        SELECT d.day_idx,
               count(DISTINCT u.user_id) AS dau7
        FROM days d
        JOIN du u ON u.day_idx BETWEEN d.day_idx - 6 AND d.day_idx
        GROUP BY 1
        """,
    tags=("behavior", "rolling-distinct", "wau"),
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve).

    Spark (like every SQL engine) cannot COUNT(DISTINCT) over a sliding
    window frame — the standard scalable rewrite is: collapse events to
    distinct (day, user) pairs, EXPLODE each pair to the <=7 trailing
    report days it contributes to (a 7-element sequence, map-side — the
    join-free form of the day-grid range join), and count distinct per
    report day. The active-pair table is metadata-scale relative to raw
    events, so the 7x expansion is bounded and the one real shuffle is
    the final distinct count.

    Scale: one shuffle to distinct pairs, one map-only explode, one
    count-distinct shuffle keyed on report day. Never a per-user window
    sort of raw events, never an |days| x |pairs| join.
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select("user_id", _day_index("ts").alias("day_idx")).distinct()
    days = du.select("day_idx").distinct()
    expanded = du.select(
        "user_id",
        F.explode(F.sequence(F.col("day_idx"), F.col("day_idx") + 6)).alias("report_day"),
    )
    return (
        expanded.join(days, expanded.report_day == days.day_idx)
        .groupBy(F.col("report_day").alias("day_idx"))
        .agg(F.countDistinct("user_id").alias("dau7"))
    )


@register(
    "q_event_paths",
    oracle="""
        WITH ranked AS (
          SELECT user_id, event_type,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id
                 ) AS rn
          FROM events
        ),
        paths AS (
          SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
          FROM ranked WHERE rn <= 3 GROUP BY user_id
        )
        SELECT path, count(*) AS n_users
        FROM paths GROUP BY 1
        """,
    tags=("behavior", "paths", "sequence"),
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening-path mining: each user's first three event types, counted.

    The onboarding-flow report (view>view>click vs view>purchase>...):
    rank each user's events by (timestamp, event_id) — deterministic on
    ties — keep the first three, string-join them in rank order, and
    count users per path. The in-order aggregation is the part engines
    differ on: Spark's array_join(transform(array_sort(collect_list(
    struct(rn, type))))) pins the order inside the value, matching
    DuckDB's string_agg(... ORDER BY rn) exactly.

    Scale: one user_id shuffle serves the rank window and the path
    build (superset grouping keys — the q_sessionize partitioning-reuse
    property); the rn <= 3 cut bounds every group to 3 rows before the
    collect, so no per-user skew regardless of activity depth. The path
    histogram is |distinct paths| rows — metadata-scale.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        epoch_micros("ts").asc(), F.col("event_id").asc()
    )
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_users"))


@register(
    "q_markov",
    oracle="""
        WITH seq AS (
          SELECT event_type AS src,
                 lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id
                 ) AS dst
          FROM events
        ),
        c AS (
          SELECT src, dst, count(*) AS n
          FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        )
        SELECT src, dst, n,
               CAST((n * 1000000) // sum(n) OVER (PARTITION BY src) AS BIGINT) AS ppm
        FROM c
        """,
    tags=("behavior", "markov", "sequence"),
)
def q_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream.

    The what-happens-next report: pair every event with its successor
    inside the same user's (timestamp, event_id)-ordered stream via lead(),
    count each (src, dst) transition, and express each row's share of its
    source's outgoing mass in exact ppm (truncating integer division —
    float probabilities would compare at the mercy of the division).

    Scale: one user_id shuffle feeds the lead window; the transition
    counts partially aggregate map-side into at most |types|^2 rows, so
    the per-src normalizing window runs on a metadata-scale table. Raw
    events are never re-shuffled a second time.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        epoch_micros("ts").asc(), F.col("event_id").asc()
    )
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("src")
    return (
        c.withColumn("total", F.sum("n").over(wsrc))
        .select("src", "dst", "n", F.expr("(n * 1000000) div total").alias("ppm"))
    )


#: CEP stream-depth cap: first N events per user enter the pattern match.
#: Deterministic (rank cut on (ts, event_id)), and the bound that keeps the
#: per-user path string O(1) regardless of activity skew at corpus scale.
CEP_DEPTH = 64

#: view -> click -> purchase with no error anywhere between the view and
#: the purchase. Initials are unique per event type, and the pattern uses
#: only literals, negated character classes and * — the regex fragment on
#: which Java (Spark rlike) and RE2 (DuckDB regexp_matches) agree exactly.
CEP_PATTERN = "v[^e]*c[^e]*p"


@register(
    "q_cep_match",
    oracle=f"""
        WITH ranked AS (
          SELECT user_id, substr(event_type, 1, 1) AS ch,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id
                 ) AS rn
          FROM events
        ),
        paths AS (
          SELECT user_id, string_agg(ch, '' ORDER BY rn) AS path
          FROM ranked WHERE rn <= {CEP_DEPTH} GROUP BY user_id
        )
        SELECT substr(path, 1, 1) AS first_event,
               regexp_matches(path, '{CEP_PATTERN}') AS matched,
               count(*) AS n_users
        FROM paths GROUP BY 1, 2
        """,
    tags=("behavior", "cep", "sequence"),
)
def q_cep_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence match: funnel completion with a poison event.

    The MATCH_RECOGNIZE workload: users whose stream contains
    view -> click -> purchase in order with NO error event between the
    view and the purchase (q_funnel can't express the negative condition
    — windows see stages, not the gaps between them). Each user's first
    CEP_DEPTH events compress to a string of unique type initials in
    stream order (the q_event_paths in-order build), and the pattern is
    one regex search per user — the textbook encode-then-regex CEP
    reduction.

    Scale: one user_id shuffle serves the rank window and the path build;
    the depth cap bounds every group before the collect, so path strings
    are O(1) bytes and the regex is O(depth) per user, embarrassingly
    parallel. The report is a 2x|types| rollup grouped by each user's
    opening event.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        epoch_micros("ts").asc(), F.col("event_id").asc()
    )
    ranked = e.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= CEP_DEPTH)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "ch"))),
                lambda s: s["ch"],
            ),
            "",
        ).alias("path")
    )
    return (
        paths.select(
            F.substring("path", 1, 1).alias("first_event"),
            F.col("path").rlike(CEP_PATTERN).alias("matched"),
        )
        .groupBy("first_event", "matched")
        .agg(F.count("*").alias("n_users"))
    )


#: A/B conversion bar: a user "converts" at >= this many purchase events
#: (the fixture's every user purchases at least once, so presence alone is
#: degenerate; the bar sits at the corpus median so both cells populate)
AB_CONVERT_MIN_PURCHASES = 14
#: exactness ceiling for the integer chi-square. The staged-division form
#: (see q_ab_chi2) never materializes n*(ad-bc)^2 — its largest intermediate
#: is diff^2 <= (n^2/4)^2 and its largest quotient is q <= den2 <= n^2/4 —
#: so exactness holds while n^2/4 stays under bigint (9.2e18): n <= 6e9.
#: (r07 advice: the old single-expression form silently overflowed
#: decimal(38,0) at ~1.7e7 users despite a 1e8 guard.) Past the ceiling the
#: query still raises loudly rather than NULLing the statistic.
AB_CHI2_MAX_USERS = 6_000_000_000


@register(
    "q_ab_chi2",
    oracle=f"""
        WITH u AS (
          SELECT user_id % 2 AS variant,
                 CASE WHEN count(*) FILTER (event_type = 'purchase')
                           >= {AB_CONVERT_MIN_PURCHASES}
                      THEN 1 ELSE 0 END AS converted
          FROM events GROUP BY user_id
        ),
        cells AS (
          SELECT
            CAST(count(*) FILTER (variant = 0 AND converted = 0) AS HUGEINT) AS v0_miss,
            CAST(count(*) FILTER (variant = 0 AND converted = 1) AS HUGEINT) AS v0_conv,
            CAST(count(*) FILTER (variant = 1 AND converted = 0) AS HUGEINT) AS v1_miss,
            CAST(count(*) FILTER (variant = 1 AND converted = 1) AS HUGEINT) AS v1_conv
          FROM u
        ),
        staged AS (
          SELECT *,
                 (v0_miss + v0_conv + v1_miss + v1_conv)      AS n,
                 (v0_miss * v1_conv - v0_conv * v1_miss)      AS diff,
                 (v0_miss + v0_conv) * (v1_miss + v1_conv)    AS den1,
                 (v0_miss + v1_miss) * (v0_conv + v1_conv)    AS den2
          FROM cells
        ),
        divd AS (
          -- staged exact division: floor(1000*n*diff^2 / (den1*den2)) with no
          -- intermediate above n^2/4 squared — identical staging to the Spark
          -- side so truncation points match bit-for-bit
          SELECT *,
                 (diff * diff) // den1            AS q1,
                 (diff * diff) %  den1            AS r1
          FROM staged
        )
        SELECT CAST(v0_miss AS BIGINT) AS v0_miss,
               CAST(v0_conv AS BIGINT) AS v0_conv,
               CAST(v1_miss AS BIGINT) AS v1_miss,
               CAST(v1_conv AS BIGINT) AS v1_conv,
               CAST(diff AS BIGINT) AS chi2_diff,
               CAST(den1 AS BIGINT) AS chi2_den1,
               CAST(den2 AS BIGINT) AS chi2_den2,
               CAST((1000 * n * q1 + (1000 * n * r1) // den1) // den2 AS BIGINT)
                 AS chi2_milli
        FROM divd
        """,
    tags=("behavior", "ab-test", "chi2"),
)
def q_ab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2x2 chi-square independence test: variant vs conversion.

    The experimentation-analytics primitive: split users by id parity
    (the deterministic assignment), mark conversion at the purchase-count
    bar, and emit the full contingency table plus Pearson's chi-square as
    an exact integer rational — chi2 = n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))
    — published as its three bounded factors (diff, den1, den2; each fits
    bigint below the ceiling) plus a truncating milli-chi2. The division
    is STAGED so the n*(ad-bc)^2 numerator is never materialized:
    floor(X/(d1*d2)) = floor(floor(X/d1)/d2), and with diff^2 = q*d1 + r,
    floor(1000n*diff^2/d1) = 1000n*q + floor(1000n*r/d1) — every
    intermediate stays under max(diff^2, 1000n*d2) because |diff| <=
    d1, d2 (each of ad and bc is <= (a+b)(c+d) and <= (a+c)(b+d)). No
    floats anywhere, so the verdict cannot flip on evaluation order.
    Exactness holds to AB_CHI2_MAX_USERS (6e9) distinct users — the old
    single-expression form silently overflowed decimal(38,0) at ~1.7e7
    (r07 advice) — and past the ceiling the query raises loudly instead
    of letting Spark silently NULL the statistic.

    Scale: one user_id shuffle folds each user to (variant, converted);
    the 2x2 table is four conditional counts in ONE global aggregate
    (map-side combined to 4 longs per partition), and the statistic is
    arithmetic on a single row.
    """
    e = load_table(spark, sf_dir, "events")
    u = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("np")
        )
        .select(
            (F.col("user_id") % 2).alias("variant"),
            (F.col("np") >= AB_CONVERT_MIN_PURCHASES).cast("int").alias("converted"),
        )
    )

    def cell(v: int, c: int):
        return F.count(
            F.when((F.col("variant") == v) & (F.col("converted") == c), F.lit(1))
        ).cast("decimal(38,0)")

    cells = u.agg(
        cell(0, 0).alias("v0_miss"),
        cell(0, 1).alias("v0_conv"),
        cell(1, 0).alias("v1_miss"),
        cell(1, 1).alias("v1_conv"),
    )
    return chi2_from_cells(cells)


def chi2_from_cells(cells: DataFrame) -> DataFrame:
    """Staged exact chi-square over a 1-row 2x2 contingency table (columns
    v0_miss/v0_conv/v1_miss/v1_conv, decimal(38,0)). Factored out of
    q_ab_chi2 so the overflow-exactness claim is unit-testable on synthetic
    cells at the ceiling (tests/test_chi2_staging.py)."""
    a, b, c, d = (F.col(x) for x in ("v0_miss", "v0_conv", "v1_miss", "v1_conv"))
    n = a + b + c + d
    diff = a * d - b * c
    den1 = ((a + b) * (c + d)).cast("decimal(38,0)")
    den2 = ((a + c) * (b + d)).cast("decimal(38,0)")
    staged = cells.select(
        a.cast("bigint").alias("v0_miss"),
        b.cast("bigint").alias("v0_conv"),
        c.cast("bigint").alias("v1_miss"),
        d.cast("bigint").alias("v1_conv"),
        n.cast("decimal(38,0)").alias("n"),
        diff.cast("decimal(38,0)").alias("diff"),
        den1.alias("den1"),
        den2.alias("den2"),
    )
    # fail loudly past the staged form's exactness ceiling — assert_true
    # returns NULL when the predicate holds and aborts the job when it
    # doesn't, so below the ceiling the coalesce is a no-op; folding it
    # into chi2_milli keeps column pruning from dropping the guard
    overflow_guard = F.assert_true(
        F.col("n") <= F.lit(AB_CHI2_MAX_USERS),
        F.lit(f"q_ab_chi2: >{AB_CHI2_MAX_USERS} users — q1 would exceed bigint exactness"),
    ).cast("bigint")
    # staged exact division (see docstring): q1/r1 split diff^2 by den1, then
    # the two quotient pieces fold and divide once more by den2
    return staged.select(
        "v0_miss",
        "v0_conv",
        "v1_miss",
        "v1_conv",
        F.col("diff").cast("bigint").alias("chi2_diff"),
        F.col("den1").cast("bigint").alias("chi2_den1"),
        F.col("den2").cast("bigint").alias("chi2_den2"),
        F.coalesce(
            overflow_guard,
            F.expr(
                "CAST(((1000 * n * ((diff * diff) div den1)"
                "  + (1000 * n * ((diff * diff) - CAST((diff * diff) div den1 AS DECIMAL(38,0)) * den1)) div den1)"
                " ) div den2 AS BIGINT)"
            ),
        ).alias("chi2_milli"),
    )


@register(
    "q_gini",
    oracle="""
        WITH totals AS (
          SELECT event_type, user_id,
                 sum(CAST(floor(value * 100) AS BIGINT)) AS cents
          FROM events GROUP BY 1, 2
        ),
        hist AS (
          SELECT event_type, cents, CAST(count(*) AS HUGEINT) AS c
          FROM totals GROUP BY 1, 2
        ),
        ranked AS (
          SELECT event_type, cents, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - c AS p
          FROM hist
        ),
        folds AS (
          SELECT event_type,
                 sum(c)                                        AS n,
                 sum(CAST(cents AS HUGEINT) * c)               AS sx,
                 sum(CAST(cents AS HUGEINT)
                     * (c * p + (c * (c + 1)) // 2))           AS sixi
          FROM ranked GROUP BY 1
        )
        SELECT event_type,
               CAST(n AS BIGINT)  AS n_users,
               CAST(sx AS BIGINT) AS total_cents,
               CAST((1000000 * (2 * sixi - (n + 1) * sx)) // (n * sx) AS BIGINT)
                 AS gini_ppm
        FROM folds
        """,
    tags=("behavior", "inequality", "analytic"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-user spend, per event type.

    The inequality / revenue-concentration statistic, via the closed form
    over the ascending-sorted spend multiset: G = (2*sum(i*x_i) -
    (n+1)*sum(x)) / (n*sum(x)). Rank-weighted sums never sort users —
    they fold over the VALUE HISTOGRAM: a spend value v with count c and
    p users strictly below contributes v * (c*p + c*(c+1)/2), because its
    block occupies ranks p+1..p+c and equal values make the within-block
    order irrelevant. Published as exact integer ppm (the q_ab_chi2
    rational convention), folds in DECIMAL(38,0).

    Scale: one shuffle to user totals, one to the per-type value
    histogram; the running count is a window partitioned by event_type
    over distinct spend values — histogram-scale, never user-scale. The
    q_power_users order-statistic machinery, extended to a full
    rank-weighted fold.
    """
    totals = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id", F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").alias("cents"))
    )
    hist = totals.groupBy("event_type", "cents").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = hist.withColumn("p", F.sum("c").over(w) - F.col("c"))
    folds = ranked.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("c")).alias("sx"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * (
                F.col("c") * F.col("p")
                + F.expr("(c * (c + 1)) div 2").cast("decimal(38,0)")
            )
        ).alias("sixi"),
    )
    return folds.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_users"),
        F.col("sx").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * (2 * sixi - (n + 1) * sx))"
            " div (n * sx) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "q_mode",
    oracle="""
        WITH counts AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        )
        SELECT event_type,
               cents            AS mode_cents,
               CAST(c AS BIGINT) AS mode_count,
               CAST((SELECT count(*) FROM counts i
                     WHERE i.event_type = counts.event_type) AS BIGINT)
                 AS n_distinct_values
        FROM counts
        QUALIFY row_number() OVER (PARTITION BY event_type
                                   ORDER BY c DESC, cents ASC) = 1
        """,
    tags=("behavior", "aggregate", "mode"),
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most frequent value, smallest on tie.

    SQL's MODE() leaves tie order unspecified — useless for a cross-engine
    hash gate — so the tie-break is pinned: highest count, then smallest
    value. One grouped count to the (type, value) histogram, then a
    single-row-per-group max over struct(count, -value): no second
    shuffle, no window over raw events.

    Scale: the histogram shuffle is map-side combined; the argmax and the
    distinct-value count fold in the SAME pass over the histogram, so the
    whole query is two aggregations end to end, both keyed on event_type.
    """
    counts = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.floor(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    best = counts.groupBy("event_type").agg(
        F.max(F.struct(F.col("c"), (-F.col("cents")).alias("neg"))).alias("m"),
        F.count("*").cast("bigint").alias("n_distinct_values"),
    )
    return best.select(
        "event_type",
        (-F.col("m.neg")).cast("bigint").alias("mode_cents"),
        F.col("m.c").cast("bigint").alias("mode_count"),
        "n_distinct_values",
    )


#: winsorization cut points: clamp at the exact p05 / p95 order statistics
WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


@register(
    "q_winsorize",
    oracle=f"""
        WITH vals AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        hist AS (
          SELECT event_type, cents, count(*) AS c FROM vals GROUP BY 1, 2
        ),
        ranked AS (
          SELECT event_type, cents, c,
                 sum(c) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM hist
        ),
        cuts AS (
          SELECT event_type,
                 min(CASE WHEN cum * 100 >= {WINSOR_LO_PCT} * n THEN cents END) AS lo,
                 min(CASE WHEN cum * 100 >= {WINSOR_HI_PCT} * n THEN cents END) AS hi,
                 any_value(n) AS n
          FROM ranked GROUP BY 1
        )
        SELECT h.event_type,
               CAST(c.n AS BIGINT)  AS n_events,
               c.lo                 AS lo_cents,
               c.hi                 AS hi_cents,
               CAST(sum(least(greatest(h.cents, c.lo), c.hi) * h.c) AS BIGINT)
                 AS winsorized_sum
        FROM hist h JOIN cuts c ON h.event_type = c.event_type
        GROUP BY 1, 2, 3, 4
        """,
    tags=("behavior", "robust", "aggregate"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) revenue sum per event type.

    The robust-aggregation primitive: clamp every value at the exact
    p05/p95 order statistics before summing, so a handful of fat-finger
    values cannot own the metric. Cut points are exact order statistics
    at rank ceil(pct/100 * n) — found on the value histogram via the
    integer test cum*100 >= pct*n (no float percentile, no interpolation),
    the q_power_users threshold idiom. The clamped sum then folds over
    the SAME histogram (value * count), never re-scanning raw events.

    Scale: one shuffle to the per-type value histogram; running counts are
    a histogram-scale window partitioned by type; the cuts table is one
    row per type, broadcast back onto the histogram by AQE.
    """
    from pyspark.sql import Window

    vals = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("bigint").alias("cents")
    )
    hist = vals.groupBy("event_type", "cents").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    ranked = hist.withColumn("cum", F.sum("c").over(w)).withColumn("n", F.sum("c").over(wn))
    cuts = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") * 100 >= WINSOR_LO_PCT * F.col("n"), F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cum") * 100 >= WINSOR_HI_PCT * F.col("n"), F.col("cents"))).alias("hi"),
        F.first("n").alias("n"),
    )
    return (
        hist.join(cuts, "event_type")
        .groupBy(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
        )
        .agg(
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")) * F.col("c")
            )
            .cast("bigint")
            .alias("winsorized_sum")
        )
    )


def _rfm_cuts_sql(metric: str, hist_src: str) -> str:
    """SQL CTE pair computing the 4 quintile cut values of ``metric``."""
    cases = ", ".join(
        f"min(CASE WHEN cum * 5 >= {k} * n THEN v END) AS c{k}" for k in (1, 2, 3, 4)
    )
    return f"""
        {metric}_cum AS (
          SELECT v,
                 sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
                 sum(c) OVER () AS n
          FROM (SELECT {hist_src} AS v, count(*) AS c FROM u GROUP BY 1)
        ),
        {metric}_cuts AS (SELECT {cases} FROM {metric}_cum)
    """


def _rfm_seg_sql(col: str, cuts: str) -> str:
    return (
        f"1 + (CASE WHEN {col} > {cuts}.c1 THEN 1 ELSE 0 END)"
        + "".join(
            f" + (CASE WHEN {col} > {cuts}.c{k} THEN 1 ELSE 0 END)" for k in (2, 3, 4)
        )
    )


@register(
    "q_rfm_segments",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 max((epoch_ns(ts) // 1000) // {DAY_US})     AS last_day,
                 count(*)                                    AS freq,
                 sum(CAST(floor(value * 100) AS BIGINT))     AS cents
          FROM events GROUP BY user_id
        ),
        {_rfm_cuts_sql("r", "last_day").strip()},
        {_rfm_cuts_sql("f", "freq").strip()},
        {_rfm_cuts_sql("m", "cents").strip()}
        SELECT CAST({_rfm_seg_sql("u.last_day", "r_cuts")} AS BIGINT) AS r_seg,
               CAST({_rfm_seg_sql("u.freq", "f_cuts")} AS BIGINT)     AS f_seg,
               CAST({_rfm_seg_sql("u.cents", "m_cuts")} AS BIGINT)    AS m_seg,
               CAST(count(*) AS BIGINT)                               AS n_users,
               CAST(sum(u.cents) AS BIGINT)                           AS seg_cents
        FROM u, r_cuts, f_cuts, m_cuts
        GROUP BY 1, 2, 3
        """,
    tags=("behavior", "segmentation", "rfm"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quintile segmentation of the user base.

    The marketing-segmentation classic: each user scored 1-5 on recency
    (last-active day — 5 = most recent), frequency (event count) and
    monetary (spend), then the 125-cell segment grid aggregated. Quintile
    boundaries are EXACT order statistics, not ntile(): cut_k = the
    smallest metric value whose cumulative user count reaches k*n/5
    (integer test cum*5 >= k*n), computed on each metric's VALUE HISTOGRAM
    with the two-phase global_prefix_sum — so equal values always land in
    the same segment (deterministic under ties, which ntile is not) and
    no user-scale global sort exists anywhere.

    Scale: one shuffle to per-user metrics, then ONE melted histogram
    shuffle covering all three metrics (r12: the old form built three
    separate histograms, each with its own shuffle and boundary-pinned
    prefix-sum range exchange — ~40 scheduler jobs at sf0.1), and one
    global_prefix_sum over the melted histogram in (metric, value) order
    for all three cumulative scans: every user contributes exactly one row
    per metric, so a metric's own running count is the global one minus
    metric * n_users and the scan needs no per-metric reset. The 12 cut
    cells fold to one broadcast row. At 1e9 users the heavy table is the
    single melted histogram, 3 x |distinct values|. The range key is
    metric + the value's position in its metric's domain, from the parquet
    footers' row count and min/max (core.io.column_bounds, no job);
    freq/cents positions are log1p-spaced because only loose upper bounds
    exist for the per-user totals — bounds steer balance only, never values.
    """
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.select(
            "user_id",
            _day_index("ts").alias("d"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.max("d").alias("last_day"),
            F.count("*").alias("freq"),
            F.sum("cents").alias("cents"),
        )
    )

    # domain bounds from the parquet footers (no job): event count bounds
    # freq, ts span bounds last_day, count*max(value) bounds the per-user
    # cents total
    n_ev, ((ts_lo, ts_hi), (_, v_hi)) = table_bounds(spark, sf_dir, "events", ["ts", "value"])

    def _py_day(dt) -> int:
        import calendar

        us = calendar.timegm(dt.utctimetuple()) * 1_000_000 + dt.microsecond
        return us // DAY_US

    NB = 256  # buckets per metric

    melted = u.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("m"), F.col("last_day").cast("bigint").alias("v")),
                F.struct(F.lit(1).alias("m"), F.col("freq").cast("bigint").alias("v")),
                F.struct(F.lit(2).alias("m"), F.col("cents").cast("bigint").alias("v")),
            )
        ).alias("x")
    ).select("x.m", "x.v")
    hist = melted.groupBy("m", "v").agg(F.count("*").alias("c"))

    # composite range key m + position-in-[0, 1] of v within metric m: it
    # never decreases along (m, v nulls last), so ONE prefix scan covers all
    # three metrics (NULL v — a user whose values are all NULL — sits at the
    # top of its metric, as in the oracle)
    day_lo, day_hi = _py_day(ts_lo), _py_day(ts_hi)
    pos = (
        F.when(F.col("m") == 0, (F.col("v") - day_lo) / (day_hi - day_lo + 1))
        .when(F.col("m") == 1, _log_key(F.col("v")) / math.log1p(max(int(n_ev), 1)))
        .otherwise(_log_key(F.col("v")) / math.log1p(_user_cents_bound(n_ev, v_hi)))
    )
    cum = global_prefix_sum(
        hist,
        [F.col("m"), F.col("v").asc_nulls_last()],
        F.col("c"),
        "cum",
        bucket=(F.col("m") + F.least(pos, F.lit(1.0)), 0.0, 3.0, 3 * NB),
    )
    # every user has one row per metric, so the global running count is
    # m * n_users plus the metric's own; n_users = (last running count) / 3
    nu = cum.agg(F.expr("max(cum) div 3").alias("n"))
    cuts_row = cum.crossJoin(F.broadcast(nu)).agg(
        *[
            F.min(
                F.when(
                    (F.col("m") == mi) & ((F.col("cum") - mi * F.col("n")) * 5 >= k * F.col("n")),
                    F.col("v"),
                )
            ).alias(f"{prefix}{k}")
            for mi, prefix in ((0, "r"), (1, "f"), (2, "m"))
            for k in (1, 2, 3, 4)
        ]
    )

    def seg(col: str, prefix: str):
        e = F.lit(1)
        for k in (1, 2, 3, 4):
            e = e + F.when(F.col(col) > F.col(f"{prefix}{k}"), 1).otherwise(0)
        return e.cast("bigint")

    with_cuts = u.crossJoin(F.broadcast(cuts_row))
    return with_cuts.groupBy(
        seg("last_day", "r").alias("r_seg"),
        seg("freq", "f").alias("f_seg"),
        seg("cents", "m").alias("m_seg"),
    ).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("seg_cents"),
    )


@register(
    "q_order_gap_stats",
    oracle="""
        WITH em AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id FROM events
        ),
        gaps AS (
          SELECT t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                   AS gap_us
          FROM em
        )
        SELECT CAST(length(bin(gap_us)) - 1 AS BIGINT) AS gap_log2,
               CAST(count(*) AS BIGINT)                AS n_gaps,
               CAST(sum(gap_us) AS BIGINT)             AS total_gap_us
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY 1
        """,
    tags=("behavior", "temporal", "inter-arrival"),
)
def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile: power-of-2 histogram of per-user event gaps.

    The activity-rhythm diagnostic complementing q_burstiness (which
    profiles the aggregate hourly series, not individual spacing):
    consecutive-event gaps within each user's stream, bucketed by
    floor(log2(gap_us)) via the exact length(bin(k))-1 identity. Seconds
    live around bucket 20, hours around 32, days around 36 — a bimodal
    histogram is sessions + returns, a fat low tail is bot bursts.

    Scale: the lag window partitions BY USER (horizontal), ordered by the
    composite (ts, event_id) key so equal timestamps rank
    deterministically; gaps then collapse to a <=64-row histogram in one
    map-side-combined pass. Timestamps compare as microseconds (module
    convention).
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_micros("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = e.select((F.col("t") - F.lag("t").over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return gaps.groupBy(
        (F.length(F.bin(F.col("gap_us"))) - 1).cast("bigint").alias("gap_log2")
    ).agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("gap_us").cast("bigint").alias("total_gap_us"),
    )


@register(
    "q_funnel_ttc",
    oracle=f"""
        WITH s1 AS (
          SELECT user_id, min(epoch_ns(ts) // 1000) AS t1
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t2
          FROM events e JOIN s1 ON s1.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_ns(e.ts) // 1000 > s1.t1
            AND epoch_ns(e.ts) // 1000 <= s1.t1 + {FUNNEL_WINDOW_US}
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t3
          FROM events e JOIN s2 ON s2.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > s2.t2
            AND epoch_ns(e.ts) // 1000 <= s2.t2 + {FUNNEL_WINDOW_US}
          GROUP BY e.user_id
        )
        SELECT CAST(length(bin(s3.t3 - s1.t1)) - 1 AS BIGINT) AS ttc_log2,
               CAST(count(*) AS BIGINT)                       AS n_users,
               CAST(sum(s3.t3 - s1.t1) AS BIGINT)             AS total_ttc_us
        FROM s3 JOIN s1 ON s3.user_id = s1.user_id
        GROUP BY 1
        """,
    tags=("behavior", "funnel", "latency"),
)
def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for completed funnels, as a log2 histogram.

    The latency half of q_funnel (which counts stage survivors but says
    nothing about HOW LONG conversion takes): for every user completing
    view -> click -> purchase under the same 48-hour stage windows, the
    view-to-purchase span bucketed by floor(log2(micros)) via the exact
    length(bin(k))-1 identity. Minutes sit near bucket 25, hours near 32,
    the two-day ceiling at 37 — the curve product teams read before
    changing checkout flow.

    Scale: identical staged-aggregation plan to q_funnel (three
    user_id-keyed hash aggs, each stage's input strictly smaller), plus
    one user-keyed join of the survivors back to their start times and a
    <=40-row histogram fold.
    """
    e = load_table(spark, sf_dir, "events")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(epoch_micros("ts")).alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", epoch_micros("ts").alias("tc"))
        .join(s1, "user_id")
        .filter((F.col("tc") > F.col("t1")) & (F.col("tc") <= F.col("t1") + FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("tc").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", epoch_micros("ts").alias("tp"))
        .join(s2, "user_id")
        .filter((F.col("tp") > F.col("t2")) & (F.col("tp") <= F.col("t2") + FUNNEL_WINDOW_US))
        .groupBy("user_id")
        .agg(F.min("tp").alias("t3"))
    )
    ttc = s3.join(s1, "user_id").select((F.col("t3") - F.col("t1")).alias("ttc_us"))
    return ttc.groupBy(
        (F.length(F.bin(F.col("ttc_us"))) - 1).cast("bigint").alias("ttc_log2")
    ).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("ttc_us").cast("bigint").alias("total_ttc_us"),
    )
