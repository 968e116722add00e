"""Temporal join operators: as-of and range/interval joins, plus rollup and
set-operation coverage.

The reference has no temporal join surface (SURVEY.md §2.3 marks
theta/range/as-of joins absent), but a complete engine needs them — they are
the canonical "operator Spark lacks as a single primitive" case the engine
composes from existing ops: both joins bucket time at the interval length so
candidates meet in a HASH join on the bucket key and the range predicate
only ever evaluates on bucket-equal pairs (as-of additionally turns each
snapshot into a [rate_ts, next_rate_ts) validity interval via lead(), so
every probe row matches exactly once — no argmax pass). Every query keeps
its DuckDB oracle twin.

Scale notes: the build sides here (90-minute rate snapshots) are
dimension-sized and broadcast, so the probe side streams with no shuffle.
For fact×fact at 100 TB the same bucket key becomes the shuffle key —
co-partitioned theta evaluation, never a cartesian and never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.io import epoch_micros, load_table, order_small
from ..core.registry import register

RATE_EVERY_MIN = 90  # snapshot cadence of the derived rate table

#: bucket widths for the bucketed interval joins (micros); each equals the
#: interval length it buckets, so every interval explodes to at most 2 buckets
RANGE_WIN_MICROS = 30 * 60 * 1_000_000
ASOF_BUCKET_MICROS = RATE_EVERY_MIN * 60 * 1_000_000


def _rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rate-snapshot dimension derived from the events span.

    One snapshot every 90 minutes from the epoch of the events table; value
    is modular arithmetic on the tick number (no RNG).
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    return bounds.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", "lo"),
                F.col("hi"),
                F.expr(f"interval {RATE_EVERY_MIN} minutes"),
            )
        ).alias("rate_ts")
    ).select(
        "rate_ts",
        ((F.unix_timestamp("rate_ts") / 60).cast("bigint") % 1000).alias("rate_value"),
    )


_RATES_SQL = f"""
rates AS (
  SELECT rate_ts,
         (CAST(epoch(rate_ts) / 60 AS BIGINT) % 1000) AS rate_value
  FROM (
    SELECT unnest(generate_series(
             date_trunc('hour', (SELECT min(CAST(ts AS TIMESTAMP)) FROM events)),
             (SELECT max(CAST(ts AS TIMESTAMP)) FROM events),
             INTERVAL {RATE_EVERY_MIN} MINUTE)) AS rate_ts
  )
)
"""


@register(
    "q_asof_join",
    oracle=f"""
        WITH {_RATES_SQL.strip()},
        sample AS (
          SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
          WHERE event_id % 10 = 0
        )
        SELECT s.event_id, s.ts, s.value,
               max(r.rate_ts)                 AS rate_ts,
               max_by(r.rate_value, r.rate_ts) AS rate_value
        FROM sample s JOIN rates r ON r.rate_ts <= s.ts
        GROUP BY s.event_id, s.ts, s.value
        """,
    tags=("join", "asof", "temporal"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest rate snapshot at-or-before
    its timestamp.

    Each rate snapshot becomes a validity interval [rate_ts, next_rate_ts)
    via lead() over the dimension (a ~|span|/90min-row sort — dimension
    scale, not data scale), clamped at the probe's max timestamp and
    exploded to the 90-minute epoch buckets it covers. Events compute their
    bucket in-task and broadcast-HASH-join on bucket equality; the interval
    predicate then selects EXACTLY ONE rate per event. That replaces the
    naive broadcast inequality join + argmax, whose intermediate grows as
    |events| x |rates ≤ ts| — quadratic in the time span — with O(|events|)
    work; the probe side still never shuffles, and at 100 TB the broadcast
    swaps for a shuffle on the bucket key.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0).select(
        "event_id", "ts", "value"
    )
    bw = F.lit(float(ASOF_BUCKET_MICROS))
    r = _rates(spark, sf_dir)
    r2 = r.select(
        "rate_ts",
        "rate_value",
        F.lead("rate_ts").over(Window.orderBy("rate_ts")).alias("next_ts"),
    )
    hi = e.agg(F.max("ts").alias("hi"))
    r3 = r2.crossJoin(F.broadcast(hi)).select(
        "rate_ts",
        "rate_value",
        "next_ts",
        F.explode(
            F.sequence(
                F.floor(epoch_micros(F.col("rate_ts")) / bw).cast("long"),
                # greatest(): a trailing snapshot past the probe's max ts
                # would otherwise clamp to end < start, and sequence() would
                # DESCEND rather than return empty; one harmless bucket row
                # (its interval predicate can never match) is the safe form
                F.floor(
                    F.greatest(
                        F.coalesce(
                            epoch_micros(F.col("next_ts")) - 1,
                            epoch_micros(F.col("hi")),
                        ),
                        epoch_micros(F.col("rate_ts")),
                    )
                    / bw
                ).cast("long"),
            )
        ).alias("__rb"),
    )
    eb = e.withColumn("__eb", F.floor(epoch_micros(F.col("ts")) / bw).cast("long"))
    joined = eb.join(
        F.broadcast(r3),
        (F.col("__eb") == F.col("__rb"))
        & (F.col("rate_ts") <= F.col("ts"))
        & (F.col("next_ts").isNull() | (F.col("ts") < F.col("next_ts"))),
    )
    return joined.select("event_id", "ts", "value", "rate_ts", "rate_value")


@register(
    "q_range_join",
    oracle=f"""
        WITH {_RATES_SQL.strip()},
        windows AS (
          SELECT rate_ts AS win_start,
                 rate_ts + INTERVAL 30 MINUTE AS win_end,
                 CAST(epoch(rate_ts) / 60 AS BIGINT) % 7 AS win_id
          FROM rates
          WHERE (CAST(epoch(rate_ts) / 60 AS BIGINT) % 1000) % 3 = 0
        )
        SELECT w.win_start, CAST(w.win_id AS BIGINT) AS win_id,
               count(*)                              AS n_events,
               CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events e JOIN windows w
          ON CAST(e.ts AS TIMESTAMP) >= w.win_start AND CAST(e.ts AS TIMESTAMP) < w.win_end
        GROUP BY w.win_start, w.win_id
        """,
    tags=("join", "range", "temporal"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: events falling inside derived maintenance windows.

    Bucketed interval join, not a nested-loop theta join: windows explode to
    the 30-minute epoch buckets they overlap (1-2 rows each), events compute
    their bucket in-task, and the containment predicate evaluates only on
    bucket-equal pairs inside a broadcast HASH join — O(|events|) predicate
    work instead of O(|events| x |windows|). The same shape co-partitions
    two LARGE sides at 100 TB (swap the broadcast for a shuffle on the
    bucket key); bucket width = the max interval length keeps the per-window
    explosion at <=2.
    """
    e = load_table(spark, sf_dir, "events")
    bw = F.lit(float(RANGE_WIN_MICROS))
    w = (
        _rates(spark, sf_dir)
        .filter(F.col("rate_value") % 3 == 0)
        .select(
            F.col("rate_ts").alias("win_start"),
            (F.col("rate_ts") + F.expr("interval 30 minutes")).alias("win_end"),
            ((F.unix_timestamp("rate_ts") / 60).cast("bigint") % 7).alias("win_id"),
        )
    )
    wb = w.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(epoch_micros(F.col("win_start")) / bw).cast("long"),
                # end-exclusive: the last covered bucket holds win_end - 1us
                F.floor((epoch_micros(F.col("win_end")) - 1) / bw).cast("long"),
            )
        ).alias("__wb"),
    )
    eb = e.withColumn("__eb", F.floor(epoch_micros(F.col("ts")) / bw).cast("long"))
    joined = eb.join(
        F.broadcast(wb),
        (F.col("__eb") == F.col("__wb"))
        & (F.col("ts") >= F.col("win_start"))
        & (F.col("ts") < F.col("win_end")),
    )
    return joined.groupBy("win_start", "win_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
    )


@register(
    "q_rollup",
    oracle="""
        SELECT coalesce(lang, 'ALL')   AS lang,
               coalesce(source, 'ALL') AS source,
               count(*)                AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY ROLLUP (lang, source)
        """,
    tags=("agg", "rollup"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: per (lang, source), per lang, and grand total in
    one pass — Spark's ROLLUP grouping sets, free from Catalyst (the
    reference aggregates each level with separate Python loops).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars"))
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


@register(
    "q_set_ops",
    oracle="""
        WITH dv_files AS (
          SELECT o_orderkey AS file_id FROM orders WHERE o_orderkey % 10 < 3
        ),
        recent AS (
          SELECT o_orderkey AS file_id FROM orders WHERE o_orderkey % 7 = 0
        )
        SELECT 'intersect' AS op, count(*) AS n FROM (
          SELECT file_id FROM dv_files INTERSECT SELECT file_id FROM recent)
        UNION ALL
        SELECT 'except' AS op, count(*) AS n FROM (
          SELECT file_id FROM dv_files EXCEPT SELECT file_id FROM recent)
        UNION ALL
        SELECT 'union' AS op, count(*) AS n FROM (
          SELECT file_id FROM dv_files UNION SELECT file_id FROM recent)
        """,
    tags=("set-ops",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over file-id sets: intersect / except / distinct union.

    The reference's inline-vs-spilled complement sets (SURVEY §2.7) done with
    the engine's native set operators instead of O(n^2) list membership.
    """
    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("file_id"))
    dv_files = o.filter(F.col("file_id") % 10 < 3)
    recent = o.filter(F.col("file_id") % 7 == 0)

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    # subtract() IS SQL's EXCEPT (distinct semantics); exceptAll().distinct()
    # only coincided with it while file_id stayed unique on the left side
    return (
        count_of(dv_files.intersect(recent), "intersect")
        .unionByName(count_of(dv_files.subtract(recent), "except"))
        .unionByName(count_of(dv_files.union(recent).distinct(), "union"))
    )


# ---------------------------------------------------------------------------
# schema evolution read path
# ---------------------------------------------------------------------------


@register(
    "q_schema_evolution",
    oracle="""
        WITH merged AS (
          SELECT 1 AS schema_version, o_orderkey, o_custkey,
                 CAST(NULL AS VARCHAR) AS o_priority_class
          FROM orders WHERE o_orderkey % 3 <> 0
          UNION ALL
          SELECT 2, o_orderkey, CAST(NULL AS BIGINT),
                 substr(o_orderpriority, 1, 1)
          FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT schema_version,
               count(*) AS n_rows,
               count(*) - count(o_custkey) AS n_missing_custkey,
               count(*) - count(o_priority_class) AS n_missing_priority,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM merged
        GROUP BY schema_version
        ORDER BY schema_version
        """,
    tags=("iceberg", "schema-evolution", "union"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: one scan spanning two schema versions.

    The reference's schemas are fixed (SURVEY §1.2: code-declared dataclasses,
    no evolution); Iceberg's headline table-format feature is that they are
    not — columns are added and dropped by id, and a single scan reads files
    written under EVERY historical spec, backfilling NULL for columns a file
    predates and ignoring columns since dropped. This models that read path:
    snapshot v1 files carry (o_orderkey, o_custkey); v2 files dropped
    o_custkey and added o_priority_class. unionByName(allowMissingColumns)
    is Spark's exact mechanism — per-file schema reconciliation against the
    table's current schema, the same thing the Iceberg reader does per
    manifest entry.

    Scale: both branches scan the same parquet with disjoint pushed filters
    and 2-3 pruned columns; the union is a plan-level concat (no shuffle)
    and the rollup moves 2 rows. Null backfill is free — no data rewrite,
    which is the entire point of metadata-level schema evolution.
    """
    o = load_table(spark, sf_dir, "orders")
    v1 = (
        o.filter(F.col("o_orderkey") % 3 != 0)
        .select(
            F.lit(1).alias("schema_version"),
            "o_orderkey",
            "o_custkey",
        )
    )
    v2 = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.lit(2).alias("schema_version"),
            "o_orderkey",
            F.substring("o_orderpriority", 1, 1).alias("o_priority_class"),
        )
    )
    merged = v1.unionByName(v2, allowMissingColumns=True)
    return order_small(
        merged.groupBy("schema_version").agg(
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count("o_custkey")).alias("n_missing_custkey"),
            (F.count("*") - F.count("o_priority_class")).alias("n_missing_priority"),
            F.sum("o_orderkey").alias("key_sum"),
        ),
        "schema_version",
    )


# ---------------------------------------------------------------------------
# write-audit-publish gates
# ---------------------------------------------------------------------------

WAP_STAGE_MOD = 10  # o_orderkey % 10 == 7 rows form the staged branch


@register(
    "q_wap_audit",
    oracle=f"""
        WITH staged AS (
          SELECT o_totalprice > 0 AS price_ok,
                 o_orderstatus IN ('O','F','P') AS status_ok,
                 o_custkey IN (SELECT c_custkey FROM customer) AS fk_ok,
                 o_orderdate >= TIMESTAMP '1996-01-01' AS fresh_ok
          FROM orders WHERE o_orderkey % {WAP_STAGE_MOD} = 7
        ),
        checks AS (
          SELECT 'price_positive' AS gate, price_ok AS ok FROM staged
          UNION ALL SELECT 'status_domain', status_ok FROM staged
          UNION ALL SELECT 'custkey_fk', fk_ok FROM staged
          UNION ALL SELECT 'fresh_since_1996', fresh_ok FROM staged
          UNION ALL SELECT 'all_gates', price_ok AND status_ok AND fk_ok AND fresh_ok
          FROM staged
        )
        SELECT gate,
               count(*) AS n_checked,
               count(*) FILTER (WHERE ok) AS n_passed,
               count(*) FILTER (WHERE NOT ok) AS n_failed
        FROM checks
        GROUP BY gate
        ORDER BY gate
        """,
    tags=("iceberg", "wap", "audit"),
)
def q_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish: quality gates over a staged snapshot branch.

    Iceberg's WAP flow (spark.wap.branch) stages a write on an audit branch;
    only after validation does fast_forward publish it to main. The
    reference has no notion of this — its commits publish unconditionally
    (poc/test_concurrent_writers.py:57-94) — but any production ingest into
    the tables it models runs these audits. The staged batch here is the
    o_orderkey%{WAP_STAGE_MOD}==7 slice; gates: totalprice positivity,
    status domain membership, customer FK integrity (broadcast semi
    join), and a freshness floor. Output is the audit report — per-gate
    checked/passed/failed plus the all_gates publish verdict row.

    Scale: one scan of the staged slice computes all gate booleans in a
    single codegen stage (the FK check joins a broadcast dim key set); the
    5-gate explosion multiplies only booleans, and the rollup returns 5
    rows. The audit cost is one pass over the staged batch regardless of
    main-branch size — which is why WAP is viable on 100 TB tables.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    staged = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % WAP_STAGE_MOD == 7)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            (F.col("o_totalprice") > 0).alias("price_ok"),
            F.col("o_orderstatus").isin("O", "F", "P").alias("status_ok"),
            F.col("c_custkey").isNotNull().alias("fk_ok"),
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")).alias("fresh_ok"),
        )
    )
    checks = staged.select(
        F.explode(
            F.array(
                F.struct(F.lit("price_positive").alias("gate"), F.col("price_ok").alias("ok")),
                F.struct(F.lit("status_domain").alias("gate"), F.col("status_ok").alias("ok")),
                F.struct(F.lit("custkey_fk").alias("gate"), F.col("fk_ok").alias("ok")),
                F.struct(F.lit("fresh_since_1996").alias("gate"), F.col("fresh_ok").alias("ok")),
                F.struct(
                    F.lit("all_gates").alias("gate"),
                    (F.col("price_ok") & F.col("status_ok") & F.col("fk_ok") & F.col("fresh_ok")).alias("ok"),
                ),
            )
        ).alias("c")
    ).select("c.gate", "c.ok")
    return order_small(
        checks.groupBy("gate").agg(
            F.count("*").alias("n_checked"),
            F.count(F.when(F.col("ok"), 1)).alias("n_passed"),
            F.count(F.when(~F.col("ok"), 1)).alias("n_failed"),
        ),
        "gate",
    )


# ---------------------------------------------------------------------------
# irregular time series: OHLC resampling + time-weighted average
# ---------------------------------------------------------------------------

HOUR_US = 3600 * 1_000_000


def _epoch_bucket(ts_col: str, width_us: int) -> "F.Column":
    """Exact integral epoch bucket: floor(epoch_micros / width) in pure
    BIGINT. ``(em - pmod(em, w)) div w`` — the dividend is exactly divisible
    so integral ``div`` equals the true floor at any magnitude; the former
    double-division idiom ``(em - pmod(em, w)) / w`` is exact only below
    2^53 (r07 advice; same fix as q_interp_linear's floor_div)."""
    from ..core.io import ensure_session_confs

    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_session_confs(active)
    em = f"unix_micros(cast({ts_col} as timestamp))"
    return F.expr(f"({em} - pmod({em}, {width_us})) div {width_us}")

#: composite order key: epoch-micros * SCALE + event_id, a single scalar
#: whose ordering equals lexicographic (ts, event_id). SCALE must exceed
#: every event_id; 2^40 leaves ~10^12 ids and keeps the key under 2^101 —
#: exact in DECIMAL(38,0) / HUGEINT on both engines (never double)
ORDER_KEY_SCALE = 1 << 40


@register(
    "q_ohlc",
    oracle=f"""
        WITH e AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000) // {HOUR_US} AS hour_idx,
                 CAST(epoch_ns(ts) // 1000 AS HUGEINT) * {ORDER_KEY_SCALE} + event_id
                   AS ord_key,
                 value
          FROM events
        )
        SELECT event_type, hour_idx,
               arg_min(value, ord_key) AS open,
               max(value)              AS high,
               min(value)              AS low,
               arg_max(value, ord_key) AS close,
               count(*)                AS n_events
        FROM e
        GROUP BY event_type, hour_idx
        """,
    tags=("temporal", "resample", "window"),
)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC resampling of the irregular event stream, per type.

    The time-series downsampling primitive: open/close are ORDER-dependent
    selections (first/last value in the bucket), high/low are plain
    extremes. Open/close are min_by/max_by on a composite scalar key
    (micros * 2^40 + event_id, exact in 128-bit integers) — the event_id
    component makes the answer deterministic when two events share a
    microsecond, exactly where arg_min on timestamp alone diverges between
    engines. Scale: this is ONE hash aggregation with map-side partials —
    no window, no sort — so a pathologically hot (type, hour) bucket costs
    a partial-aggregate cell, not a million-row sorted partition; values
    are selected, never summed, so doubles compare exactly.
    """
    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    hour = F.lit(HOUR_US)
    base = e.select(
        "event_type",
        _epoch_bucket("ts", HOUR_US).alias("hour_idx"),
        (em.cast("decimal(38,0)") * ORDER_KEY_SCALE + F.col("event_id")).alias("ord_key"),
        "value",
    )
    return base.groupBy("event_type", "hour_idx").agg(
        F.min_by("value", F.col("ord_key")).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", F.col("ord_key")).alias("close"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_time_weighted_avg",
    oracle="""
        WITH e AS (
          SELECT event_type, user_id,
                 CAST(floor(value * 100) AS BIGINT) AS cents,
                 epoch_ns(ts) // 1000               AS em,
                 event_id
          FROM events
        ),
        held AS (
          SELECT event_type, cents,
                 lead(em) OVER (PARTITION BY event_type, user_id
                                ORDER BY em ASC, event_id ASC) - em AS dt_us
          FROM e
        )
        SELECT event_type,
               CAST(sum(CAST(cents AS HUGEINT) * dt_us) AS DOUBLE)
                 / CAST(sum(dt_us) AS DOUBLE) / 100.0 AS twa_value,
               CAST(sum(dt_us) AS BIGINT)             AS observed_us,
               count(*)                               AS n_events
        FROM held
        WHERE dt_us IS NOT NULL AND dt_us > 0
        GROUP BY event_type
        """,
    tags=("temporal", "window", "statistics"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (irregular sampling).

    A plain avg() over-weights bursts; the time-weighted mean holds each
    observation for the interval until the next one (step interpolation —
    the standard irregular-series estimator) and weights by that holding
    time. Holding intervals are computed per (type, user) stream — each
    entity's own clock — and pooled per type. Exactness: value quantizes
    to cents and every weight product folds through 128-bit integers
    (DECIMAL(38,0) / HUGEINT), so the only float steps are two
    exact-int->double casts and two IEEE divisions — no summation-order
    dependence. The final sample of each stream has no successor and is
    excluded (dt NULL), as are zero-length holds — which also keeps the
    weighted division safe when a stream's samples share one timestamp. Scale: the lead window
    partitions on the HIGH-CARDINALITY (type, user) pair — never on the
    5-value type alone, which would funnel billions of rows through five
    sorted partitions — and the per-type weighted sums partial-aggregate.
    """
    from pyspark.sql import Window

    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        epoch_micros("ts").alias("em"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        F.col("em").asc(), F.col("event_id").asc()
    )
    # dt > 0, not merely non-null: a zero-length hold carries no weight, and
    # a type whose every interval is zero-length would otherwise divide the
    # weighted sum by zero (ANSI abort / engine-dependent NULL)
    held = e.select(
        "event_type", "cents", (F.lead("em").over(w) - F.col("em")).alias("dt_us")
    ).filter(F.col("dt_us") > 0)
    return held.groupBy("event_type").agg(
        (
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double")
            / F.lit(100.0)
        ).alias("twa_value"),
        F.sum("dt_us").cast("bigint").alias("observed_us"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_cube",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
                                             AS gid,
               count(*)                      AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
    tags=("agg", "cube", "grouping-sets"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE with grouping_id: all four grouping sets in one pass.

    Completes the grouping-set family next to q_rollup's hierarchy: CUBE
    emits (flag, status), (flag), (status), and () — the cross-tab
    marginals BI tools ask for — and grouping_id() disambiguates a real
    NULL group key from a rollup placeholder (both engines number the bits
    identically: first grouping column = high bit). Scale: Spark expands
    the input 4x logically but partial-aggregates each set map-side, so
    the shuffle carries |distinct(flag)| x |distinct(status)| x 4 rows,
    not data volume. Quantity folds through DECIMAL as usual.
    """
    from ..core.io import spread_narrow

    # spread a projected scan before the 4x Expand + decimal partial-agg
    # (single-task on a single-row-group local scan; no-op at production
    # split counts). The spread key must be the high-entropy line identity —
    # the three cube columns only take ~30 distinct combinations.
    li = spread_narrow(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid_raw"),
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(38,0)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            F.col("gid_raw").cast("bigint").alias("gid"),
            "n_items",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# gap filling (the hypertable time_bucket_gapfill + locf shape)
# ---------------------------------------------------------------------------


@register(
    "q_gap_fill",
    oracle=f"""
        WITH e AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000) // {HOUR_US} AS hour_idx,
                 CAST(floor(value * 100) AS BIGINT)  AS cents
          FROM events
        ),
        actual AS (
          SELECT event_type, hour_idx,
                 CAST(SUM(cents) AS BIGINT) AS cents, COUNT(*) AS n
          FROM e GROUP BY 1, 2
        ),
        bounds AS (SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM e),
        grid AS (
          SELECT t.event_type, g.hour_idx
          FROM (SELECT DISTINCT event_type FROM e) t
          CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS hour_idx
                      FROM bounds) g
        ),
        j AS (
          SELECT g.event_type, g.hour_idx, a.cents, a.n
          FROM grid g LEFT JOIN actual a USING (event_type, hour_idx)
        )
        SELECT event_type, hour_idx,
               COALESCE(last_value(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
                 AS filled_cents,
               cents IS NULL                     AS was_gap,
               CAST(COALESCE(n, 0) AS BIGINT)    AS n_events
        FROM j
        """,
    tags=("temporal", "resample", "gapfill"),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill with last-observation-carried-forward (LOCF).

    The hypertable ``time_bucket_gapfill`` shape: resample the irregular
    event stream to an hourly grid per type, materialize EVERY bucket in
    the observed span (the dense grid a dashboard or forecasting model
    consumes), and carry the last seen hourly total forward through empty
    buckets; buckets before the first observation report -1 explicitly.
    Values fold to integer cents so the filled series hashes exactly.

    Scale: the events table is touched by exactly one map-side-combined
    aggregation (to hourly partials) and one scalar bounds fold; the dense
    grid is |types| x |hours| — METADATA-scale, independent of event
    count — so the LOCF window runs over the small grid, never over raw
    events, and the grid<->partials equi-join shuffles only the hourly
    aggregate. At 100 TB of events the plan's big-data side is still just
    the one aggregation pass.
    """
    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    hour = F.lit(HOUR_US)
    base = e.select(
        "event_type",
        _epoch_bucket("ts", HOUR_US).alias("hour_idx"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    actual = base.groupBy("event_type", "hour_idx").agg(
        F.sum("cents").alias("cents"), F.count("*").alias("n")
    )
    bounds = base.agg(F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi"))
    grid = (
        base.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("hour_idx"))
    )
    j = grid.join(actual, ["event_type", "hour_idx"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hour_idx",
        F.coalesce(F.last("cents", ignorenulls=True).over(w), F.lit(-1)).alias("filled_cents"),
        F.col("cents").isNull().alias("was_gap"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
    )


@register(
    "q_interp_linear",
    oracle=f"""
        WITH e AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000) // {HOUR_US} AS hour_idx,
                 CAST(floor(value * 100) AS BIGINT)  AS cents
          FROM events
        ),
        actual AS (
          SELECT event_type, hour_idx, CAST(SUM(cents) AS BIGINT) AS cents
          FROM e GROUP BY 1, 2
        ),
        bounds AS (SELECT min(hour_idx) AS lo, max(hour_idx) AS hi FROM e),
        grid AS (
          SELECT t.event_type, g.hour_idx
          FROM (SELECT DISTINCT event_type FROM e) t
          CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS hour_idx
                      FROM bounds) g
        ),
        j AS (
          SELECT g.event_type, g.hour_idx, a.cents,
                 last_value(a.cents IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
                 last_value(CASE WHEN a.cents IS NOT NULL THEN g.hour_idx END
                            IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
                 first_value(a.cents IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour_idx
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
                 first_value(CASE WHEN a.cents IS NOT NULL THEN g.hour_idx END
                             IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour_idx
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
          FROM grid g LEFT JOIN actual a USING (event_type, hour_idx)
        )
        SELECT event_type, hour_idx,
               CASE
                 WHEN cents IS NOT NULL THEN cents
                 WHEN prev_c IS NULL OR next_c IS NULL THEN -1
                 ELSE prev_c + (
                   ((next_c - prev_c) * (hour_idx - prev_h))
                   - ((((next_c - prev_c) * (hour_idx - prev_h)) % (next_h - prev_h)
                       + (next_h - prev_h)) % (next_h - prev_h))
                 ) // (next_h - prev_h)
               END            AS interp_cents,
               cents IS NULL  AS was_gap
        FROM j
        """,
    tags=("temporal", "resample", "gapfill", "interpolate"),
)
def q_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill with LINEAR interpolation (the other gapfill mode).

    The ``interpolate()`` companion to q_gap_fill's LOCF: empty buckets
    take the straight line between the surrounding observed hourly totals,
    evaluated in exact integer arithmetic — floor((next-prev)*(t-prev_t)
    / span) — so the series hashes bit-exact cross-engine. Integer
    division truncates toward zero on BOTH engines (Spark ``div``, DuckDB
    ``//`` on BIGINTs — measured, not the floor the docs suggest), and the
    numerator goes negative on downslopes, so BOTH sides subtract the
    positive modulus first, making the division exact and the semantics
    true floor. Buckets outside the observed range of a type (no neighbor
    on one side) report -1.

    Scale: identical plan shape to q_gap_fill — one map-side-combined
    aggregation over the raw events, then all windows run over the
    |types| x |hours| METADATA-scale dense grid; the prev/next scans are
    two passes over that small grid per type, never over raw events.
    """
    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    hour = F.lit(HOUR_US)
    base = e.select(
        "event_type",
        _epoch_bucket("ts", HOUR_US).alias("hour_idx"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    actual = base.groupBy("event_type", "hour_idx").agg(F.sum("cents").alias("cents"))
    bounds = base.agg(F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi"))
    grid = (
        base.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("hour_idx"))
    )
    j = grid.join(actual, ["event_type", "hour_idx"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("cents").isNotNull(), F.col("hour_idx"))
    sided = j.select(
        "event_type",
        "hour_idx",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("prev_h"),
        F.first("cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("next_h"),
    )
    # true floor in pure BIGINT: pmod makes the remainder non-negative, so
    # num - pmod(num, den) is exactly divisible and `div` (integral) equals
    # floor. A double `/` here is only exact up to 2^53 — past that the
    # bit-exact cross-engine guarantee silently breaks (r06 advice).
    num = "((next_c - prev_c) * (hour_idx - prev_h))"
    floor_div = F.expr(
        f"({num} - pmod({num}, next_h - prev_h)) div (next_h - prev_h)"
    )
    return sided.select(
        "event_type",
        "hour_idx",
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .when(F.col("prev_c").isNull() | F.col("next_c").isNull(), F.lit(-1))
        .otherwise(F.col("prev_c") + floor_div)
        .cast("bigint")
        .alias("interp_cents"),
        F.col("cents").isNull().alias("was_gap"),
    )


#: autocorrelation lags (days) profiled by q_autocorr — 1 day for
#: persistence, 7 days for weekly seasonality
AUTOCORR_LAGS = (1, 7)

DAY_US = 24 * HOUR_US


@register(
    "q_autocorr",
    oracle=f"""
        WITH daily AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000) // 86400000000 AS day_idx,
                 CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ),
        lagged AS (
          SELECT d.event_type, l.lag_d, d.y AS y0, p.y AS y1
          FROM daily d
          JOIN (SELECT unnest([{", ".join(str(x) for x in AUTOCORR_LAGS)}]) AS lag_d) l ON true
          JOIN daily p ON p.event_type = d.event_type
                      AND p.day_idx = d.day_idx - l.lag_d
        ),
        s AS (
          SELECT event_type, lag_d, count(*) AS n,
                 sum(y0) AS s0, sum(y1) AS s1,
                 sum(y0 * y1) AS s01, sum(y0 * y0) AS s00, sum(y1 * y1) AS s11
          FROM lagged GROUP BY 1, 2
        )
        SELECT event_type, CAST(lag_d AS BIGINT) AS lag_days,
               CAST(n AS BIGINT)                    AS n_pairs,
               CAST(n * s01 - s0 * s1 AS BIGINT)    AS corr_num,
               CAST(n * s00 - s0 * s0 AS BIGINT)    AS var0_x_n,
               CAST(n * s11 - s1 * s1 AS BIGINT)    AS var1_x_n
        FROM s
        """,
    tags=("temporal", "autocorrelation", "timeseries"),
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 / lag-7 autocorrelation of daily revenue per type, exact.

    The persistence-and-weekly-seasonality diagnostic a forecaster runs
    before model choice. Pearson autocorrelation at lag k decomposes into
    the three integer folds (n*S01 - S0*S1, n*S00 - S0^2, n*S11 - S1^2);
    r^2 = num^2/(v0*v1) is reconstructible exactly, and the SIGN — the
    decision bit — is the numerator's sign, never a float artifact (the
    q_trend_ols / q_corr_stats convention).

    Scale: events collapse to the |types| x |days| daily table in one
    map-side-combined pass; the lag self-join and moment folds run over
    that metadata-scale table only. The tiny lag list is broadcast.
    """
    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    day = F.lit(DAY_US)
    daily = (
        e.select(
            "event_type",
            _epoch_bucket("ts", DAY_US).alias("day_idx"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.sum("cents").alias("y"))
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in AUTOCORR_LAGS])).alias("lag_d")
    )
    d = daily.alias("d")
    p = daily.select(
        F.col("event_type").alias("p_type"),
        F.col("day_idx").alias("p_day"),
        F.col("y").alias("y1"),
    )
    lagged = (
        d.crossJoin(F.broadcast(lags))
        .join(
            p,
            (F.col("p_type") == F.col("d.event_type"))
            & (F.col("p_day") == F.col("d.day_idx") - F.col("lag_d")),
        )
        .select("d.event_type", "lag_d", F.col("d.y").alias("y0"), "y1")
    )
    s = lagged.groupBy("event_type", "lag_d").agg(
        F.count("*").alias("n"),
        F.sum("y0").alias("s0"),
        F.sum("y1").alias("s1"),
        F.sum(F.col("y0") * F.col("y1")).alias("s01"),
        F.sum(F.col("y0") * F.col("y0")).alias("s00"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11"),
    )
    return s.select(
        "event_type",
        F.col("lag_d").cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_pairs"),
        (F.col("n") * F.col("s01") - F.col("s0") * F.col("s1")).cast("bigint").alias("corr_num"),
        (F.col("n") * F.col("s00") - F.col("s0") * F.col("s0")).cast("bigint").alias("var0_x_n"),
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")).cast("bigint").alias("var1_x_n"),
    )


@register(
    "q_hist2d",
    oracle="""
        SELECT CAST((date_part('year', o_orderdate) - 1995) * 12
                    + date_part('month', o_orderdate) - 1 AS BIGINT) AS month_idx,
               CAST(floor(o_totalprice * 100) AS BIGINT) // 5000000  AS price_band,
               count(*)                                              AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                                                                     AS band_cents
        FROM orders
        GROUP BY 1, 2
        """,
    tags=("temporal", "histogram", "heatmap"),
)
def q_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram: order volume heat map over (month, $50K price band).

    The month-by-value-band density grid behind every revenue heat map
    and drift monitor (compare this quarter's surface against last
    year's). Pure integer bucketing on both axes; counts and cent totals
    per cell.

    Scale: one map-side-combined aggregation; output is
    |months| x |occupied bands| cells — metadata-scale. The same plan
    shape extends to any pair of bucketed axes.
    """
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
            .cast("bigint")
            .alias("month_idx"),
            cents.alias("cents"),
        )
        .groupBy("month_idx", F.expr("cents div 5000000").alias("price_band"))
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("band_cents"))
    )


@register(
    "q_burstiness",
    oracle=f"""
        WITH hourly AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000) // {HOUR_US} AS hour_idx,
                 CAST(count(*) AS HUGEINT) AS c
          FROM events GROUP BY 1, 2
        ),
        s AS (
          SELECT event_type,
                 count(*)   AS n,
                 sum(c)     AS sc,
                 sum(c * c) AS sc2
          FROM hourly GROUP BY 1
        )
        SELECT event_type,
               CAST(n AS BIGINT)  AS n_hours,
               CAST(sc AS BIGINT) AS n_events,
               CAST((1000 * (n * sc2 - sc * sc)) // (n * sc) AS BIGINT)
                 AS fano_milli
        FROM s
        """,
    tags=("temporal", "dispersion", "analytic"),
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) of hourly event arrivals, per event type.

    The index of dispersion var/mean over the hourly count series — the
    traffic-shape diagnostic separating Poisson-like arrivals (~1) from
    bursty ones (>1). Published in exact integer milli-units via the
    moment identity var/mean = (n*sum(c^2) - sum(c)^2) / (n*sum(c)):
    population variance over observed hours, no float anywhere, HUGEINT/
    DECIMAL(38,0) folds on both engines (the q_trend_ols convention).

    Scale: one map-side-combined aggregation collapses raw events to the
    |types| x |hours| grid; the moment fold runs over that metadata-scale
    table. Hour bucketing is exact integer arithmetic on epoch-micros.
    """
    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events")
    em = epoch_micros("ts")
    hour = F.lit(HOUR_US)
    hourly = (
        e.select("event_type", _epoch_bucket("ts", HOUR_US).alias("hour_idx"))
        .groupBy("event_type", "hour_idx")
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
    )
    s = hourly.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.col("sc").cast("bigint").alias("n_events"),
        F.expr(
            "CAST((CAST(1000 AS DECIMAL(38,0)) * (n * sc2 - sc * sc))"
            " div (n * sc) AS BIGINT)"
        ).alias("fano_milli"),
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grouping_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,0))) AS BIGINT) AS sum_qty
FROM {lineitem}
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


@register(
    "q_grouping_sets",
    oracle=_GROUPING_SETS_SQL.format(lineitem="lineitem"),
    tags=("sql", "aggregate", "grouping-sets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with a mixed, non-hierarchical set list.

    q_rollup and q_cube cover the two canned expansions; this covers the
    general form — ((flag, status), (status), ()) is neither a rollup of
    the column list (the middle set drops the LEADING column) nor a cube
    (no (flag) marginal) — submitted through the SQL front door (the
    q_late_orders pattern) because GROUPING SETS has no DataFrame-API
    equivalent. grouping_id disambiguates the NULL-as-ALL rows from real
    NULLs, identical on both engines; quantities fold at DECIMAL(38,0).

    Scale: Catalyst expands the sets into ONE Expand + single hash
    aggregate (3 output streams from one scan — not three scans, the
    whole point of the operator); the shuffle carries the expanded
    grouping keys, all map-side combined.
    """
    lv = "q_grouping_sets_lineitem"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(lv)
    return spark.sql(_GROUPING_SETS_SQL.format(lineitem=lv))
