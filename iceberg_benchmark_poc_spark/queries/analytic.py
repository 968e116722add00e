"""Remaining analytic surface: pivot, lead/lag deltas, exact percentiles.

Not in the reference (it has no analytics engine at all) — included so a
user of a full engine finds the standard analytic toolbox present and
oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import commit_log, read_log, with_fixtures
from ..core.io import cut, epoch_micros, load_table, table_bounds
from ..core.registry import register
from ..operators.graph import bfs_distances, symmetrize
from ..operators.prefix import ranked_histogram
from ..operators.quantiles import quantile_bucket

FLAGS = ("A", "N", "R")


@register(
    "q_pivot",
    oracle="""
        SELECT CAST(l_linenumber AS INTEGER) AS l_linenumber,
               count(*) FILTER (WHERE l_returnflag = 'A') AS n_A,
               count(*) FILTER (WHERE l_returnflag = 'N') AS n_N,
               count(*) FILTER (WHERE l_returnflag = 'R') AS n_R
        FROM lineitem
        GROUP BY l_linenumber
        """,
    tags=("agg", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: return-flag counts spread into columns per line number.

    With a known value list the pivot is conditional aggregation — one
    count per value in a single groupBy pass (one shuffle, map-side
    combined). Spark's built-in ``.pivot(col, values)`` plans TWO
    aggregations ((key, value) pre-agg + pivotfirst) and shuffles twice —
    reserve it for when the value list must be discovered; at scale,
    enumerate the columns (plan-asserted single-Exchange in tests).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linenumber").agg(
        *[
            F.count(F.when(F.col("l_returnflag") == f, F.lit(1))).alias(f"n_{f}")
            for f in FLAGS
        ]
    )


@register(
    "q_lead_lag",
    oracle=with_fixtures(
        """
        SELECT commit_id,
               commit_time_ms,
               commit_time_ms - lag(commit_time_ms) OVER w  AS delta_vs_prev,
               lead(commit_time_ms) OVER w - commit_time_ms AS delta_vs_next
        FROM commit_log
        WHERE commit_id < 100
        WINDOW w AS (ORDER BY commit_id)
        """,
        "commit_log",
    ),
    tags=("window", "lead-lag"),
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-latency deltas between consecutive commits (lag/lead).

    The drift-detection shape for the commit-latency stream; restricted to
    the first 100 commits so the global-order window stays a bounded
    metadata scan (at scale: partition the window by day/table first).
    """
    cl = commit_log(spark, sf_dir).filter(F.col("commit_id") < 100)
    w = Window.orderBy("commit_id")
    return cl.select(
        "commit_id",
        "commit_time_ms",
        (F.col("commit_time_ms") - F.lag("commit_time_ms").over(w)).alias("delta_vs_prev"),
        (F.lead("commit_time_ms").over(w) - F.col("commit_time_ms")).alias("delta_vs_next"),
    )


@register(
    "q_percentiles",
    oracle=with_fixtures(
        """
        WITH base AS (SELECT ttfb_ms AS v FROM read_log),
        nn AS (SELECT count(*) AS cnt, CAST(max(v) AS BIGINT) AS mx FROM base),
        ord AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rk FROM base),
        tgt AS (
          SELECT d, d * (cnt - 1) AS pos,
                 CAST(floor(d * (cnt - 1)) AS BIGINT) AS lo_k,
                 CAST(ceil(d * (cnt - 1))  AS BIGINT) AS hi_k
          FROM (SELECT unnest([0.5, 0.95, 0.99]) AS d) dl, nn
        ),
        bv AS (
          SELECT t.d, t.pos, t.lo_k, t.hi_k,
                 max(CASE WHEN o.rk = t.lo_k THEN o.v END) AS vlo,
                 max(CASE WHEN o.rk = t.hi_k THEN o.v END) AS vhi
          FROM tgt t JOIN ord o ON o.rk = t.lo_k OR o.rk = t.hi_k
          GROUP BY 1, 2, 3, 4
        ),
        q AS (
          SELECT d, CASE WHEN lo_k = hi_k OR vlo = vhi THEN CAST(vlo AS DOUBLE)
                         ELSE (hi_k - pos) * vlo + (pos - lo_k) * vhi END AS qv
          FROM bv
        )
        SELECT max(CASE WHEN d = 0.5  THEN qv END) AS p50_ttfb,
               max(CASE WHEN d = 0.95 THEN qv END) AS p95_ttfb,
               max(CASE WHEN d = 0.99 THEN qv END) AS p99_ttfb,
               (SELECT mx FROM nn)                  AS max_ttfb
        FROM q
        """,
        "read_log",
    ),
    tags=("agg", "percentile"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated latency percentiles over the read log.

    percentile() is the exact (sort-based) path — fine on metadata-scale
    logs; for data-scale columns use q_approx_stats' sketch percentiles.
    The oracle interpolates explicit order statistics with builtin
    percentile's exact IEEE chain including its equal-keys short-circuit —
    quantile_cont lacks the short-circuit and can land 1 ulp off the key
    when frac(pos) mantissa bits + value bits exceed 52 (see
    operators/quantiles.py).
    """
    rl = read_log(spark, sf_dir)
    return rl.agg(
        F.expr("percentile(ttfb_ms, 0.5)").alias("p50_ttfb"),
        F.expr("percentile(ttfb_ms, 0.95)").alias("p95_ttfb"),
        F.expr("percentile(ttfb_ms, 0.99)").alias("p99_ttfb"),
        F.max("ttfb_ms").cast("bigint").alias("max_ttfb"),
    )


MOV_AVG_WINDOW_S = 1800  # 30-minute trailing window


@register(
    "q_moving_avg",
    oracle=f"""
        WITH e AS (
          SELECT event_id, event_type,
                 CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
                 CAST(value AS DECIMAL(38,6)) AS v
          FROM events
          WHERE user_id % 10 = 0
        )
        SELECT event_id, event_type,
               CAST(n AS BIGINT) AS n_window,
               CAST(sv AS DOUBLE) / n AS mov_avg
        FROM (
          SELECT event_id, event_type,
                 count(*) OVER w AS n,
                 sum(v)   OVER w AS sv
          FROM e
          WINDOW w AS (
            PARTITION BY event_type ORDER BY sec
            RANGE BETWEEN {MOV_AVG_WINDOW_S} PRECEDING AND CURRENT ROW
          )
        )
        """,
    tags=("window", "range-frame", "moving-avg"),
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-minute moving average per event type — a RANGE frame.

    The one window-frame family the rest of the registry doesn't exercise:
    a value-range (time) frame rather than a row frame, i.e. the frame size
    varies per row. Partitioned by event_type so it scales horizontally —
    each partition sorts locally and slides one frame over it; no global
    order anywhere. The windowed sum folds through DECIMAL because sliding
    aggregation accumulates in engine-specific order (Spark re-scans the
    frame; DuckDB uses segment trees) — decimal makes the result
    order-independent and therefore bit-identical.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    # floor, not cast-truncate: both engines floor the fractional seconds the
    # same way (DuckDB's double->bigint CAST rounds, so its side floors too)
    sec = F.floor(epoch_micros("ts") / F.lit(1_000_000))
    base = e.select(
        "event_id",
        "event_type",
        sec.cast("bigint").alias("sec"),
        F.col("value").cast("decimal(38,6)").alias("v"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("sec")
        .rangeBetween(-MOV_AVG_WINDOW_S, Window.currentRow)
    )
    return base.select(
        "event_id",
        "event_type",
        F.count("*").over(w).alias("n_window"),
        (F.sum("v").over(w).cast("double") / F.count("*").over(w)).alias("mov_avg"),
    )


N_HIST_BUCKETS = 10  # equi-depth histogram: decile buckets
_DECILES = [round(i / N_HIST_BUCKETS, 1) for i in range(1, N_HIST_BUCKETS)]


@register(
    "q_equidepth_hist",
    oracle=f"""
        WITH cents AS (
          SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        ),
        -- builtin percentile ignores NULL values: they neither count in n
        -- nor take a rank
        nn AS (SELECT count(c) AS cnt FROM cents),
        ord AS (
          SELECT c, row_number() OVER (ORDER BY c) - 1 AS rk
          FROM cents WHERE c IS NOT NULL
        ),
        tgt AS (
          SELECT d, d * (cnt - 1) AS pos,
                 CAST(floor(d * (cnt - 1)) AS BIGINT) AS lo_k,
                 CAST(ceil(d * (cnt - 1))  AS BIGINT) AS hi_k
          FROM (SELECT unnest({_DECILES}) AS d) dl, nn
        ),
        bv AS (
          SELECT t.d, t.pos, t.lo_k, t.hi_k,
                 max(CASE WHEN o.rk = t.lo_k THEN o.c END) AS vlo,
                 max(CASE WHEN o.rk = t.hi_k THEN o.c END) AS vhi
          FROM tgt t JOIN ord o ON o.rk = t.lo_k OR o.rk = t.hi_k
          GROUP BY 1, 2, 3, 4
        ),
        -- explicit interpolation INCLUDING builtin percentile's equal-keys
        -- short-circuit (quantile_cont lacks it and can land 1 ulp off the
        -- key when frac(pos) mantissa bits + value bits > 52 — see
        -- operators/quantiles.py); same IEEE chain as exact_quantiles
        b AS (
          SELECT list(CASE WHEN lo_k = hi_k OR vlo = vhi THEN CAST(vlo AS DOUBLE)
                           ELSE (hi_k - pos) * vlo + (pos - lo_k) * vhi END
                      ORDER BY d) AS bs
          FROM bv
        )
        SELECT bucket,
               count(*)               AS n_rows,
               CAST(min(c) AS BIGINT) AS lo_cents,
               CAST(max(c) AS BIGINT) AS hi_cents
        FROM (
          SELECT c,
                 CAST(len(list_filter((SELECT bs FROM b), x -> c >= x)) AS INTEGER) AS bucket
          FROM cents
        )
        GROUP BY bucket
        """,
    tags=("agg", "histogram"),
)
def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of price without a global sort.

    The scale-correct bucketize shape: ntile() would sort every row through
    one task; instead each distinct price is bucketed where its ranks are
    and the rows roll up into 10 groups. Prices quantize to integer cents
    first so the percentile interpolation is engine-exact at half-steps
    (same rule as q_percentiles' integral ttfb).

    Boundaries are EXACT order statistics (builtin ``percentile``
    semantics: NULL prices take no rank) so the DuckDB oracle (explicit
    order-statistic interpolation — quantile_cont lacks builtin
    percentile's equal-keys short-circuit, so the oracle spells out the
    same CASE) hash-matches, but nothing funnels through one thread:
    builtin percentile() merges every (value, count) pair in ONE boxed
    hashmap (3.5 s of this query's wall at sf0.1). Instead one ranked
    histogram (operators/prefix.py ``ranked_histogram``: one range exchange
    of the cents, counted per distinct cent value in its stage, then the
    two-phase prefix sum) gives every distinct value its ranks, its
    successor and the row count, and ``operators.quantiles.quantile_bucket``
    assigns its bucket from them: no boundary fold, no row-count collect,
    no boundary array crossed with the values. The range ids come from the
    price's parquet-footer min/max (``core.io.table_bounds``, no job), which
    steer balance only.

    A NULL price lands in bucket 0, as ``c >= b`` is never true for it: it
    counts in that bucket's ``n_rows`` and in no min/max. With no non-NULL
    price the quantiles are NULL and so is that bucket.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    cents = F.floor(price * 100).cast("bigint").alias("c")
    _, ((lo, hi),) = table_bounds(spark, sf_dir, "lineitem", ["l_extendedprice"])
    ranked = ranked_histogram(
        li.filter(price.isNotNull()).select(cents), "c", (F.col("c") / 100, lo, hi, 1024)
    ).select("c", "count", quantile_bucket(F.col("c"), _DECILES).alias("bucket"))
    # a NULL price is a NULL cent value, and the IS NULL filter pushes down to
    # the row groups' null counts. With no non-NULL price (None bounds:
    # table_bounds equals the fold) the quantiles are NULL, and so is the
    # NULL rows' bucket
    nulls = li.filter(price.isNull()).select(
        cents,
        F.lit(1).cast("bigint").alias("count"),
        F.lit(None if lo is None else 0).cast("int").alias("bucket"),
    )
    return ranked.unionByName(nulls).groupBy("bucket").agg(
        F.sum("count").cast("bigint").alias("n_rows"),
        F.min("c").cast("bigint").alias("lo_cents"),
        F.max("c").cast("bigint").alias("hi_cents"),
    )


@register(
    "q_corr_stats",
    oracle="""
        WITH g AS (
          SELECT l_returnflag,
                 CAST(l_quantity AS BIGINT) AS x,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        s AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 CAST(sum(x) AS DOUBLE)  AS sx,
                 CAST(sum(y) AS DOUBLE)  AS sy,
                 CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sx2,
                 CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS sy2
          FROM g
          GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * (n - 1)) / 100.0           AS covar,
               (n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS corr
        FROM s
        """,
    tags=("agg", "statistics"),
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-price covariance and correlation per return flag.

    Built-in corr()/covar_samp() accumulate in floats whose summation order
    differs run to run and engine to engine, and double->DECIMAL casts of
    fractional products tie-break differently (HALF_UP vs round-half-even).
    Instead both inputs quantize to an integer grid (quantity is integral;
    price floors to cents — corr is scale-invariant, so the grid is
    semantics-free), the five moment sums are exact integer folds, and the
    closed-form covariance/correlation are computed from them with the
    IDENTICAL double expression on both engines — deterministic to the
    last bit, the parity rule applied to second-moment statistics.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = g.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(xd * F.col("y")).cast("double").alias("sxy"),
        F.sum(xd * F.col("x")).cast("double").alias("sx2"),
        F.sum(yd * F.col("y")).cast("double").alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sx2, sy2 = F.col("sxy"), F.col("sx2"), F.col("sy2")
    return s.select(
        "l_returnflag",
        "n",
        # denominator in double: n*(n-1) in BIGINT overflows past ~3e9-row
        # groups (the 100 TB design point) — ANSI mode would error, non-ANSI
        # would silently wrap negative
        ((n * sxy - sx * sy) / (n.cast("double") * (n - 1)) / F.lit(100.0)).alias("covar"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy))
        ).alias("corr"),
    )


@register(
    "q_group_percentiles",
    oracle="""
        WITH base AS (SELECT l_returnflag AS g, l_quantity AS v FROM lineitem),
        nn AS (SELECT g, count(*) AS cnt FROM base GROUP BY g),
        ord AS (
          SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS rk
          FROM base
        ),
        tgt AS (
          SELECT nn.g, d, d * (cnt - 1) AS pos,
                 CAST(floor(d * (cnt - 1)) AS BIGINT) AS lo_k,
                 CAST(ceil(d * (cnt - 1))  AS BIGINT) AS hi_k
          FROM nn, (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS d) dl
        ),
        bv AS (
          SELECT t.g, t.d, t.pos, t.lo_k, t.hi_k,
                 max(CASE WHEN o.rk = t.lo_k THEN o.v END) AS vlo,
                 max(CASE WHEN o.rk = t.hi_k THEN o.v END) AS vhi
          FROM tgt t JOIN ord o ON o.g = t.g AND (o.rk = t.lo_k OR o.rk = t.hi_k)
          GROUP BY 1, 2, 3, 4, 5
        ),
        -- builtin percentile's IEEE chain incl. the equal-keys short-circuit
        -- (quantile_cont lacks it — see operators/quantiles.py)
        q AS (
          SELECT g, d, CASE WHEN lo_k = hi_k OR vlo = vhi THEN CAST(vlo AS DOUBLE)
                            ELSE (hi_k - pos) * vlo + (pos - lo_k) * vhi END AS qv
          FROM bv
        )
        SELECT q.g AS l_returnflag,
               max(CASE WHEN d = 0.25 THEN qv END) AS q25,
               max(CASE WHEN d = 0.5  THEN qv END) AS q50,
               max(CASE WHEN d = 0.75 THEN qv END) AS q75,
               max(CASE WHEN d = 0.9  THEN qv END) AS q90,
               max(nn.cnt)                         AS n_items
        FROM q JOIN nn ON nn.g = q.g
        GROUP BY 1
        """,
    tags=("agg", "percentile", "group"),
)
def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantity percentiles per return flag.

    The grouped form of q_percentiles: order statistics as a GROUPED
    aggregate — each group sorts independently inside the percentile
    aggregator, so the shuffle carries (group, value) pairs and no global
    sort exists. Quantities are integral, and the oracle reproduces builtin
    percentile's per-group IEEE chain over explicit order statistics —
    including the equal-keys short-circuit quantile_cont lacks (see
    operators/quantiles.py) — so the interpolated values match bit-for-bit
    (q_percentiles established the formula parity; this adds the
    per-group path). For data-scale high-cardinality
    groups the sketch variant (q_approx_stats) is the scale path; exact
    grouped percentiles are for bounded per-group volumes like these 3
    flags.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.5)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.expr("percentile(l_quantity, 0.9)").alias("q90"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# PageRank over the supplier->customer fulfillment graph (iterative #2)
# ---------------------------------------------------------------------------

PR_SCALE = 1_000_000  # rank fixed point (ppm of initial mass)
PR_ITERS = 3  # unrolled power-iteration rounds
#: damping as an integer rational: contribution = (85 * r) div (100 * outdeg),
#: base = (15 * PR_SCALE) div 100 — truncating integer ops match cross-engine


def _pr_iter_sql(i: int) -> str:
    """One PageRank round of the oracle: ranks r{i-1} -> r{i}."""
    return f"""
        contrib{i} AS (
          SELECT e.dst AS node,
                 CAST(SUM((85 * r.r) // (100 * o.outdeg)) AS BIGINT) AS c
          FROM edges e
          JOIN r{i - 1} r ON r.node = e.src
          JOIN outdeg o ON o.node = e.src
          GROUP BY e.dst
        ),
        r{i} AS (
          SELECT n.node, {(15 * PR_SCALE) // 100} + COALESCE(c.c, 0) AS r
          FROM nodes n LEFT JOIN contrib{i} c ON c.node = n.node
        )"""


_PAGERANK_SQL = (
    f"""
        WITH edges AS (
          SELECT DISTINCT (2 * l.l_suppkey + 1) AS src, 2 * o.o_custkey AS dst
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        nodes AS (
          SELECT DISTINCT src AS node FROM edges
          UNION
          SELECT DISTINCT dst AS node FROM edges
        ),
        outdeg AS (
          SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
        ),
        r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes),"""
    + ",".join(_pr_iter_sql(i) for i in range(1, PR_ITERS + 1))
    + f"""
        SELECT node, CAST(r AS BIGINT) AS rank_ppm FROM r{PR_ITERS}
        """
)


@register("q_pagerank", oracle=_PAGERANK_SQL, tags=("graph", "iterative", "analytic"))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled power iterations) over supplier->customer edges.

    The second hash-gated iterative algorithm next to q_kmeans: the edge
    set is the distinct supplier->customer fulfillment graph (lineitem
    joined to orders — the fact-scale shuffle join, built once), and each
    round is contributions-by-outdegree summed per destination. Ranks stay
    exact bigints (ppm fixed point): base (15*1e6) div 100 plus
    floor-divided contributions — both engines truncate integer division
    identically, so the whole trajectory hashes bit-exact. Dangling nodes
    (customers, which have no out-edges) simply leak their mass, the
    standard simplified-PR formulation, encoded identically on both sides.

    Scale: per round one shuffle join of edges against the rank table on
    src (outdeg is a second small join — or a precomputed edge attribute
    at production scale) and one map-side-combined sum per dst. No
    collect, no driver loop — 3 rounds compose into one lazy plan; a
    convergence-checked variant adds one scalar fold per round. Node and
    rank tables scale with |nodes|, never |edges|.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # cut: the plan references the edge set in every round (plus
    # nodes/outdeg), and without truncation Catalyst re-executes the
    # fact-scale build join ~2x per iteration
    edges = cut(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (2 * F.col("l_suppkey") + 1).alias("src"),
            (2 * F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    # node table consumed 1 + PR_ITERS times (rank init + each round's left
    # join): cut it, and unpivot endpoints via explode (one edge pass)
    nodes = cut(edges.select(F.explode(F.array("src", "dst")).alias("node")).distinct())
    # out-degree is an edge ATTRIBUTE: attach it to the edge set ONCE and
    # cut, so each round pays one join (edges_deg x ranks) instead of two
    # (the per-round outdeg join re-aggregated and re-shuffled the same
    # src-keyed table every iteration)
    edges_deg = cut(edges.join(edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src"))
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("bigint").alias("r"))
    base = (15 * PR_SCALE) // 100
    for _ in range(PR_ITERS):
        contrib = (
            edges_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(85 * r) div (100 * outdeg)")).cast("bigint").alias("c"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node", (F.lit(base) + F.coalesce(F.col("c"), F.lit(0))).cast("bigint").alias("r")
        )
    return ranks.select("node", F.col("r").alias("rank_ppm"))


# ---------------------------------------------------------------------------
# trend estimation: exact-rational OLS slope per segment
# ---------------------------------------------------------------------------


@register(
    "q_trend_ols",
    oracle="""
        WITH monthly AS (
          SELECT c.c_mktsegment AS mktsegment,
                 CAST((date_part('year', o.o_orderdate) - 1995) * 12
                      + date_part('month', o.o_orderdate) - 1 AS BIGINT) AS x,
                 CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        s AS (
          SELECT mktsegment,
                 count(*)        AS n,
                 sum(x)          AS sx,
                 sum(y)          AS sy,
                 sum(x * y)      AS sxy,
                 sum(x * x)      AS sxx
          FROM monthly GROUP BY 1
        )
        SELECT mktsegment,
               CAST(n AS BIGINT)                 AS n_months,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST(sy AS BIGINT)                AS total_cents
        FROM s
        """,
    tags=("analytic", "regression", "trend"),
)
def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-trend OLS slope per market segment, as an exact rational.

    Closed-form simple linear regression of monthly revenue against month
    index, per customer segment — the trend-detection query behind every
    "is this segment growing?" dashboard. The slope is returned as the
    exact integer rational (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) in cents per
    month — the q_bm25 convention: no float division anywhere, so the
    result hashes bit-exact cross-engine and the slope's SIGN (the
    decision output) is never at the mercy of summation order.

    Scale: the fact table collapses to |segments| x |months| partials via
    one map-side-combined aggregation after the orders-customer key join
    (the one real shuffle); the regression folds run over that metadata-
    scale table. Month indices are zero-based at the fixture epoch so the
    moment sums stay far inside BIGINT even at 100 TB of orders; at
    extreme revenue scale the same fold runs in DECIMAL(38,0) unchanged.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        ((F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"), "x")
        .agg(F.sum("cents").alias("y"))
    )
    s = monthly.groupBy("mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "mktsegment",
        F.col("n").cast("bigint").alias("n_months"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
        F.col("sy").cast("bigint").alias("total_cents"),
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (p < q) distinct edge set of the gated part co-purchase
    graph — the shared input of q_triangles / q_clustering_coeff /
    q_jaccard_neighbors (the 1-in-4 order gate bounds density; see
    q_triangles)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    # cut: the edge set feeds the degree build, the orientation join and
    # the wedge-closing join in one plan — without the cut the lineitem
    # self-join + distinct re-executes per consumer
    return cut(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p"), F.col("b.l_partkey").alias("q"))
        .distinct()
    )


def _degrees(pairs: DataFrame) -> DataFrame:
    """Node degrees, cut: every consumer joins it twice (dp/dq legs), and
    the unpivot is an explode of the endpoint array — ONE pass over the
    edge set instead of the unionAll form's two."""
    return cut(
        pairs.select(F.explode(F.array("p", "q")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _oriented_triangles(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """Triangle set (u, x, y) with x < y via degree-ordered orientation
    [Suri & Vassilvitskii, WWW'11] — see q_triangles for the algorithm
    narrative; factored out so the clustering-coefficient and
    neighbor-Jaccard queries reuse the identical wedge-closing plan."""
    dp = deg.select(F.col("node").alias("p"), F.col("d").alias("dp"))
    dq = deg.select(F.col("node").alias("q"), F.col("d").alias("dq"))
    low_first = (F.col("dp") < F.col("dq")) | (
        (F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q"))
    )
    oriented = (
        pairs.join(dp, "p")
        .join(dq, "q")
        .select(
            F.when(low_first, F.col("p")).otherwise(F.col("q")).alias("u"),
            F.when(low_first, F.col("q")).otherwise(F.col("p")).alias("v"),
        )
    )
    o1 = oriented.select("u", F.col("v").alias("x"))
    o2 = oriented.select("u", F.col("v").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    return wedges.join(
        pairs, (F.col("x") == F.col("p")) & (F.col("y") == F.col("q"))
    ).select("u", "x", "y")


@register(
    "q_triangles",
    oracle="""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_orderkey % 4 = 0
        ),
        deg AS (
          SELECT node, count(*) AS d FROM (
            SELECT p AS node FROM pairs UNION ALL SELECT q AS node FROM pairs
          ) GROUP BY 1
        ),
        oriented AS (
          SELECT CASE WHEN dp.d < dq.d OR (dp.d = dq.d AND e.p < e.q)
                      THEN e.p ELSE e.q END AS u,
                 CASE WHEN dp.d < dq.d OR (dp.d = dq.d AND e.p < e.q)
                      THEN e.q ELSE e.p END AS v
          FROM pairs e
          JOIN deg dp ON e.p = dp.node
          JOIN deg dq ON e.q = dq.node
        ),
        wedges AS (
          SELECT o1.u AS u, o1.v AS x, o2.v AS y
          FROM oriented o1 JOIN oriented o2
            ON o1.u = o2.u AND o1.v < o2.v
        ),
        tri AS (
          SELECT w.u, w.x, w.y
          FROM wedges w JOIN pairs e ON w.x = e.p AND w.y = e.q
        )
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT u AS node FROM tri
              UNION ALL SELECT x AS node FROM tri
              UNION ALL SELECT y AS node FROM tri)
        GROUP BY node
        """,
    tags=("graph", "triangles"),
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-purchase graph,
    degree-ordered.

    Graph: parts are nodes; an undirected edge joins two parts that ever
    appear in the same order (the co-purchase projection of the
    order-part bipartite graph). Triangle participation per node is the
    local clustering signal behind recommendation and community features.

    Algorithm is the MapReduce-classic degree-ordered orientation
    [Suri & Vassilvitskii, WWW'11]: orient every edge from its lower-
    degree endpoint (ties by id) — a total order, so the digraph is
    acyclic and every triangle has EXACTLY one node with out-edges to
    both others; enumerate wedges as out-neighbor pairs and close them
    against the canonical edge set with a plain equi-join. Orientation
    caps any node's out-degree at O(sqrt(|E|)), so the wedge count —
    the only superlinear term — is bounded even on power-law graphs
    where naive a<b-by-id orientation explodes at the hubs.

    Scale: three shuffles (edge distinct, wedge self-join on u, closing
    equi-join on (x,y)) — all equi-joins, no BNLJ anywhere; per-node
    counts are one map-side-combined aggregation over triangle corners.
    The orientation degrees are a node-scale table joined twice. The
    1-in-4 deterministic order gate (l_orderkey % 4, the capped-input
    convention of q_embed_topk) bounds graph density so the wedge set
    stays ~2.4M rows at sf0.1; the ungated graph is 17x denser and the
    algorithm handles it — drop the gate at cluster scale and the
    orientation bound is what keeps the wedge join feasible.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    tri = _oriented_triangles(pairs, deg)
    # unpivot by exploding the corner array: ONE execution of the wedge-
    # closing join chain (the unionAll form re-ran the whole triangle
    # subplan once per corner — 3x the joins for the same rows)
    corners = tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


#: association-rule support floor: a part pair must co-occur in at least
#: this many distinct orders to be reported (prunes the 1-off noise tail
#: that would otherwise dominate the rule set)
ASSOC_MIN_SUPPORT = 2


@register(
    "q_assoc_rules",
    oracle=f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        item AS (SELECT l_partkey AS p, count(*) AS n_p FROM li GROUP BY 1),
        pair AS (
          SELECT a.l_partkey AS p, b.l_partkey AS q, count(*) AS n_pq
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
          HAVING count(*) >= {ASSOC_MIN_SUPPORT}
        )
        SELECT pair.p, pair.q,
               CAST(pair.n_pq AS BIGINT)            AS n_pq,
               CAST(ip.n_p AS BIGINT)               AS n_p,
               CAST(iq.n_p AS BIGINT)               AS n_q,
               CAST(pair.n_pq * n.n_orders AS BIGINT) AS lift_num,
               CAST(ip.n_p * iq.n_p AS BIGINT)      AS lift_den
        FROM pair
        JOIN item ip ON pair.p = ip.p
        JOIN item iq ON pair.q = iq.p
        CROSS JOIN n
        """,
    tags=("analytic", "basket", "association"),
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over part pairs, exact-rational lift.

    The Apriori-at-depth-2 shape: distinct (order, part) pairs self-join
    into co-occurrence counts, a support floor prunes the noise tail, and
    each surviving pair carries its two item supports plus lift as the
    exact integer rational n_pq*N / (n_p*n_q) — confidence in either
    direction is n_pq/n_p or n_pq/n_q from the same row. No float
    division, so ranking rules by lift is a bigint comparison cross-
    multiplied, never a summation-order artifact.

    Scale: the distinct() collapse bounds the self-join input at one row
    per (order, item); the pair join shuffles on orderkey (basket-local,
    so skew equals basket size, bounded in practice); supports are
    map-side-combined counts; the support floor applies BEFORE the two
    item-support joins so only surviving pairs shuffle again. The 1-row
    order-count fold broadcasts.
    """
    # cut: the distinct (order, part) set feeds FOUR consumers (the
    # order-count fold, the item supports, and both sides of the pair
    # self-join) — without the cut the lineitem scan + distinct exchange
    # re-executes per consumer
    li = cut(load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct())
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = li.groupBy(F.col("l_partkey").alias("p")).agg(F.count("*").alias("n_p"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p"), F.col("b.l_partkey").alias("q"))
        .agg(F.count("*").alias("n_pq"))
        .filter(F.col("n_pq") >= ASSOC_MIN_SUPPORT)
    )
    ip = item.select(F.col("p"), F.col("n_p"))
    iq = item.select(F.col("p").alias("q"), F.col("n_p").alias("n_q"))
    return (
        pair.join(ip, "p")
        .join(iq, "q")
        .crossJoin(F.broadcast(n))
        .select(
            "p",
            "q",
            F.col("n_pq").cast("bigint").alias("n_pq"),
            F.col("n_p").cast("bigint").alias("n_p"),
            F.col("n_q").cast("bigint").alias("n_q"),
            (F.col("n_pq") * F.col("n_orders")).cast("bigint").alias("lift_num"),
            (F.col("n_p") * F.col("n_q")).cast("bigint").alias("lift_den"),
        )
    )


@register(
    "q_degree_dist",
    oracle="""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_orderkey % 4 = 0
        ),
        deg AS (
          SELECT node, count(*) AS d FROM (
            SELECT p AS node FROM pairs UNION ALL SELECT q AS node FROM pairs
          ) GROUP BY 1
        )
        SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY 1
        """,
    tags=("graph", "degree"),
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph.

    The first profiling query run on any production graph — its shape
    (power-law vs flat) decides whether degree-ordered algorithms
    (q_triangles) and skew mitigations are needed at all. Two map-side-
    combined aggregations over the canonical edge set (same 1-in-4 order
    gate as q_triangles, so both profile the SAME graph); the histogram
    is |distinct degrees| rows, metadata-scale at any graph size.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p"), F.col("b.l_partkey").alias("q"))
        .distinct()
    )
    # endpoint unpivot via explode: one execution of the fact self-join
    # (the unionAll form ran the pair build once per endpoint leg)
    deg = (
        pairs.select(F.explode(F.array("p", "q")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    return deg.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count("*").alias("n_nodes")
    )


@register(
    "q_mad",
    oracle="""
        WITH base AS (
          SELECT l_suppkey,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        ),
        ranked AS (
          SELECT l_suppkey, cents,
                 row_number() OVER (PARTITION BY l_suppkey ORDER BY cents) AS rn,
                 count(*)    OVER (PARTITION BY l_suppkey)                 AS n
          FROM base
        ),
        med AS (
          SELECT l_suppkey, max(n) AS n,
                 max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS median_cents
          FROM ranked GROUP BY 1
        ),
        dev AS (
          SELECT b.l_suppkey, abs(b.cents - m.median_cents) AS d, m.n, m.median_cents
          FROM base b JOIN med m USING (l_suppkey)
        ),
        dranked AS (
          SELECT l_suppkey, n, median_cents, d,
                 row_number() OVER (PARTITION BY l_suppkey ORDER BY d) AS rn
          FROM dev
        )
        SELECT l_suppkey,
               CAST(max(n) AS BIGINT)       AS n_items,
               max(median_cents)            AS median_cents,
               max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS mad_cents
        FROM dranked GROUP BY 1
        """,
    tags=("analytic", "robust-stats", "median"),
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust price dispersion per supplier: exact median + MAD.

    Mean/stddev profiles (q_agg_stats, q_anomaly) are outlier-dominated;
    the median absolute deviation is the robust pair every data-quality
    monitor wants next to them. Both medians use the lower-median
    convention — the element at row_number (n+1) div 2 under a plain
    value sort — so the result is a VALUE FROM THE DATA, deterministic
    under duplicate values (equal values are interchangeable at any rank)
    and identical cross-engine with no float averaging of middle pairs.

    Scale: two window passes partitioned on the HIGH-cardinality supplier
    key (bounded, roughly constant group size — never a low-cardinality
    funnel), one hash join of the per-supplier median back to the rows.
    All arithmetic in integer cents.
    """
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("l_suppkey").orderBy("cents")
    ranked = base.select(
        "l_suppkey",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_suppkey")).alias("n"),
    )
    med = ranked.groupBy("l_suppkey").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("median_cents"),
    )
    dev = base.join(med, "l_suppkey").select(
        "l_suppkey",
        "n",
        "median_cents",
        F.abs(F.col("cents") - F.col("median_cents")).alias("d"),
    )
    wd = Window.partitionBy("l_suppkey").orderBy("d")
    dranked = dev.select("l_suppkey", "n", "median_cents", "d", F.row_number().over(wd).alias("rn"))
    return dranked.groupBy("l_suppkey").agg(
        F.max("n").cast("bigint").alias("n_items"),
        F.max("median_cents").alias("median_cents"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("d"))
        ).alias("mad_cents"),
    )


#: equi-width histogram bin width: $50 in cents — round enough to read,
#: fine enough that the lineitem price range (~$900..$105K) yields a
#: dense multi-thousand-bin profile at scale
HIST_BIN_CENTS = 5000


@register(
    "q_equiwidth_hist",
    oracle=f"""
        SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) // {HIST_BIN_CENTS}
                 AS bin_idx,
               count(*) AS n_items,
               CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS min_cents,
               CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS max_cents
        FROM lineitem
        GROUP BY 1
        """,
    tags=("analytic", "histogram"),
)
def q_equiwidth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram: fixed $50 bins over extended price.

    The fixed-bin companion to q_equidepth_hist's quantile bins — the
    profile a column-stats collector or a dashboard bar chart wants. Bin
    index is pure integer division of cents (prices are positive, so
    truncation and floor agree); per-bin min/max bound each bar exactly.

    Scale: one map-side-combined aggregation, output is |occupied bins|
    rows — metadata-scale; no window, no join, no sort. The same plan at
    100 TB is the textbook single-pass profile.
    """
    cents = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(cents.alias("cents"))
        .groupBy(F.expr(f"cents div {HIST_BIN_CENTS}").alias("bin_idx"))
        .agg(
            F.count("*").alias("n_items"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


#: columns profiled by q_column_profile (value -> exact integer cents)
PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "q_column_profile",
    oracle="""
        SELECT * FROM (
        """
    + "\n        UNION ALL\n        ".join(
        f"""SELECT '{c}' AS col_name,
                   count(*)                                            AS n_rows,
                   count({c})                                          AS n_nonnull,
                   count(DISTINCT CAST(floor({c} * 100) AS BIGINT))    AS n_distinct,
                   CAST(min(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT) AS min_cents,
                   CAST(max(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT) AS max_cents
            FROM lineitem"""
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    + """
        )
        """,
    tags=("analytic", "profiling", "stats"),
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: row/non-null/distinct counts + min/max per column.

    The stats-collection pass every catalog (ANALYZE TABLE), data-quality
    monitor, and query optimizer runs first. Four numeric lineitem
    columns profiled in ONE scan, melted first: each row explodes to 4
    narrow (col_name, value) pairs, a map-side-combined (col_name, value)
    histogram collapses duplicates before the only wide shuffle, and the
    per-column rollup (row/non-null counts as histogram-count sums, exact
    distinct as a plain count over histogram rows, min/max) runs on
    |columns| x |distinct| metadata. Values fold to integer cents.

    r12: this melt + two-level exact-distinct form replaced the Expand
    multi-distinct (VERDICT r11 #7 A/B, commit 95f08b1 —
    interleaved medians 1.28 s vs 2.24 s at sf0.1, bit-equal results):
    Spark's Expand pushes a 5x row expansion through one object-heavy
    aggregate, while the melt's first level dedups map-side so the
    exchange carries only distinct pairs. Both are exact; the HLL swap
    (q_approx_stats) stays the opt-in escape hatch at 100 TB since it
    changes results.

    Scale: one full scan regardless of column count (vs the naive
    one-pass-per-column UNION the oracle runs); output is |columns| rows.
    """
    cents = {c: F.floor(F.col(c) * 100).cast("bigint") for c in PROFILE_COLS}
    li = load_table(spark, sf_dir, "lineitem").select(
        *[cents[c].alias(c) for c in PROFILE_COLS]
    )
    melted = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col_name"), F.col(c).alias("v"))
                    for c in PROFILE_COLS
                ]
            )
        ).alias("x")
    ).select("x.col_name", "x.v")
    hist = melted.groupBy("col_name", "v").agg(F.count("*").alias("c"))
    return hist.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("v").isNotNull(), F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_nonnull"),
        F.count("v").cast("bigint").alias("n_distinct"),
        F.min("v").alias("min_cents"),
        F.max("v").alias("max_cents"),
    )


@register(
    "q_iqr_outliers",
    oracle="""
        WITH base AS (
          SELECT l_suppkey,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        ),
        ranked AS (
          SELECT l_suppkey, cents,
                 row_number() OVER (PARTITION BY l_suppkey ORDER BY cents) AS rn,
                 count(*)    OVER (PARTITION BY l_suppkey)                 AS n
          FROM base
        ),
        q AS (
          SELECT l_suppkey, max(n) AS n,
                 max(CASE WHEN rn = (n + 3) // 4     THEN cents END) AS q1_cents,
                 max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3_cents
          FROM ranked GROUP BY 1
        )
        SELECT b.l_suppkey,
               CAST(max(q.n) AS BIGINT)  AS n_items,
               max(q.q1_cents)           AS q1_cents,
               max(q.q3_cents)           AS q3_cents,
               CAST(count(*) FILTER (
                 WHERE 2 * b.cents > 5 * q.q3_cents - 3 * q.q1_cents
                    OR 2 * b.cents < 5 * q.q1_cents - 3 * q.q3_cents
               ) AS BIGINT)              AS n_outliers
        FROM base b JOIN q USING (l_suppkey)
        GROUP BY 1
        """,
    tags=("analytic", "robust-stats", "outliers"),
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts per supplier (1.5 x IQR), exact integers.

    The box-plot rule next to q_anomaly's 3-sigma cut and q_mad's robust
    dispersion: quartiles are lower-order statistics at ranks ceil(n/4)
    and ceil(3n/4) (data values, deterministic under duplicates), and the
    fences x > Q3 + 1.5*IQR / x < Q1 - 1.5*IQR are cross-multiplied to
    the integer comparisons 2x > 5*Q3 - 3*Q1 and 2x < 5*Q1 - 3*Q3 — no
    halves, no floats, bit-exact cross-engine.

    Scale: one rank window partitioned on the high-cardinality supplier
    key, quartiles join back by hash, one conditional-count pass. Group
    sizes are bounded (~600 rows at any SF), so no skew funnel.
    """
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("l_suppkey").orderBy("cents")
    ranked = base.select(
        "l_suppkey",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_suppkey")).alias("n"),
    )
    q = ranked.groupBy("l_suppkey").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents"))).alias("q1_cents"),
        F.max(F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("cents"))).alias("q3_cents"),
    )
    hi = 5 * F.col("q3_cents") - 3 * F.col("q1_cents")
    lo = 5 * F.col("q1_cents") - 3 * F.col("q3_cents")
    return (
        base.join(q, "l_suppkey")
        .groupBy("l_suppkey")
        .agg(
            F.max("n").cast("bigint").alias("n_items"),
            F.max("q1_cents").alias("q1_cents"),
            F.max("q3_cents").alias("q3_cents"),
            F.count(
                F.when((2 * F.col("cents") > hi) | (2 * F.col("cents") < lo), F.lit(1))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# bounded BFS reachability over the co-purchase graph (iterative #3)
# ---------------------------------------------------------------------------

KHOP_HOPS = 3  # BFS radius
KHOP_SEED_MOD = 50  # seed set: every 50th partkey — deterministic, SF-proportional

_KHOP_SQL = f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 4 = 0
    ),
    edges AS (
      SELECT p AS src, q AS dst FROM pairs
      UNION ALL
      SELECT q AS src, p AS dst FROM pairs
    ),
    h0 AS (SELECT DISTINCT p_partkey AS node FROM part
           WHERE p_partkey % {KHOP_SEED_MOD} = 0),
    h1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN h0 ON h0.node = e.src),
    h2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 ON h1.node = e.src),
    h3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 ON h2.node = e.src),
    all_d AS (
      SELECT node, 0 AS dist FROM h0
      UNION ALL SELECT node, 1 FROM h1
      UNION ALL SELECT node, 2 FROM h2
      UNION ALL SELECT node, 3 FROM h3
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS dist
    FROM all_d GROUP BY 1
    """


@register("q_khop", oracle=_KHOP_SQL, tags=("graph", "bfs", "iterative"))
def q_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS reachability with exact min-distances from a seed set.

    Graph: the same gated part co-purchase projection as q_triangles,
    symmetrized. Seeds are every 50th partkey; output is every node within
    3 hops and its hop distance — the neighborhood-expansion primitive
    behind recall-set generation and graph feature engineering.

    The engine runs real frontier-pruned BFS: each round expands only the
    PREVIOUS frontier (not every node seen so far) and anti-joins the
    visited set, so a node is expanded exactly once no matter how many
    paths reach it — on a 100 TB graph the frontier join is |frontier|-
    proportional, never |reachable|-proportional. The oracle intentionally
    uses the unpruned form (expand full hop sets, fold min(dist)) — same
    answer by BFS optimality, different algorithm, so each certifies the
    other the way q_waiting_suppliers' two formulations do.

    Scale: the edge build is the one fact-scale shuffle (shared shape with
    q_triangles); each BFS round is an equi-join of the metadata-scale
    frontier against edges plus a distinct and an anti join, all keyed on
    node ids. Three rounds unroll into one lazy plan — no collect, no
    driver loop state beyond the loop index.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    # cut: every BFS round references the edge set, and without truncation
    # Catalyst re-executes the fact-scale pair build per round
    edges = cut(symmetrize(pairs))
    seeds = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % KHOP_SEED_MOD == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    return bfs_distances(edges, seeds, KHOP_HOPS)


#: shared oracle CTE block for the co-purchase-graph trio — identical to the
#: q_triangles oracle's construction (kept in one constant so the three
#: oracles cannot drift apart)
_GRAPH_TRI_SQL = """
        pairs AS (
          SELECT DISTINCT a.l_partkey AS p, b.l_partkey AS q
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_orderkey % 4 = 0
        ),
        deg AS (
          SELECT node, count(*) AS d FROM (
            SELECT p AS node FROM pairs UNION ALL SELECT q AS node FROM pairs
          ) GROUP BY 1
        ),
        oriented AS (
          SELECT CASE WHEN dp.d < dq.d OR (dp.d = dq.d AND e.p < e.q)
                      THEN e.p ELSE e.q END AS u,
                 CASE WHEN dp.d < dq.d OR (dp.d = dq.d AND e.p < e.q)
                      THEN e.q ELSE e.p END AS v
          FROM pairs e
          JOIN deg dp ON e.p = dp.node
          JOIN deg dq ON e.q = dq.node
        ),
        wedges AS (
          SELECT o1.u AS u, o1.v AS x, o2.v AS y
          FROM oriented o1 JOIN oriented o2
            ON o1.u = o2.u AND o1.v < o2.v
        ),
        tri AS (
          SELECT w.u, w.x, w.y
          FROM wedges w JOIN pairs e ON w.x = e.p AND w.y = e.q
        )
"""


@register(
    "q_clustering_coeff",
    oracle=f"""
        WITH {_GRAPH_TRI_SQL.strip()},
        tcount AS (
          SELECT node, count(*) AS t
          FROM (SELECT u AS node FROM tri
                UNION ALL SELECT x AS node FROM tri
                UNION ALL SELECT y AS node FROM tri)
          GROUP BY node
        )
        SELECT d.node,
               CAST(d.d AS BIGINT)                 AS degree,
               CAST(coalesce(t.t, 0) AS BIGINT)    AS n_triangles,
               CAST((2000000 * coalesce(t.t, 0)) // (d.d * (d.d - 1)) AS BIGINT)
                 AS cc_ppm
        FROM deg d LEFT JOIN tcount t ON d.node = t.node
        WHERE d.d >= 2
        """,
    tags=("graph", "clustering"),
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the co-purchase graph.

    The community-density signal on top of q_triangles: cc(v) =
    2*t(v) / (d(v)*(d(v)-1)) — what fraction of a node's neighbor pairs
    are themselves connected — published as exact integer ppm
    ((2e6*t) div (d*(d-1)), the registry's rational convention). Nodes
    of degree 1 have no neighbor pair and are excluded; triangle-free
    nodes report 0 via the left join.

    Scale: identical plan family to q_triangles (shared
    _oriented_triangles helper — degree-ordered orientation bounds the
    wedge set on power-law graphs); one extra node-scale left join of
    degrees against triangle counts. All equi-joins, no BNLJ.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    tri = _oriented_triangles(pairs, deg)
    # corner unpivot via explode: one execution of the wedge-closing plan
    # (the unionAll form re-ran it once per corner)
    tcount = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcount, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr("CAST((2000000 * coalesce(t, 0)) div (d * (d - 1)) AS BIGINT)").alias(
                "cc_ppm"
            ),
        )
    )


@register(
    "q_jaccard_neighbors",
    oracle=f"""
        WITH {_GRAPH_TRI_SQL.strip()},
        edge_tri AS (
          SELECT least(a, b) AS p, greatest(a, b) AS q, count(*) AS c
          FROM (SELECT u AS a, x AS b FROM tri
                UNION ALL SELECT u AS a, y AS b FROM tri
                UNION ALL SELECT x AS a, y AS b FROM tri)
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT coalesce(t.c, 0) AS c,
                 dp.d + dq.d - 2 - coalesce(t.c, 0) AS den
          FROM pairs e
          LEFT JOIN edge_tri t ON e.p = t.p AND e.q = t.q
          JOIN deg dp ON e.p = dp.node
          JOIN deg dq ON e.q = dq.node
        )
        SELECT CAST(CASE WHEN den = 0 THEN -1
                         ELSE ((1000000 * c) // den) // 100000 END AS BIGINT)
                 AS jaccard_decile,
               CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(c) AS BIGINT)   AS total_common
        FROM scored GROUP BY 1
        """,
    tags=("graph", "similarity", "link-prediction"),
)
def q_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity of every edge, as a decile histogram.

    The link-prediction / community-strength primitive: for an edge
    (p, q), its common-neighbor count is exactly the number of triangles
    through the edge, and |N(p) ∪ N(q)| \\ {{p, q}} = d(p) + d(q) - 2 - c,
    so Jaccard needs no neighbor-set materialization at all — just the
    triangle set unpivoted to its three edges and two degree joins.
    Exact integer ppm, bucketed to deciles (jac div 100000) so the output
    is a fixed <=12-row histogram at any scale; den = 0 edges (isolated
    pairs whose endpoints know only each other) report bucket -1.

    Scale: the q_triangles wedge-closing plan plus one edge-keyed count
    and a map-side-combined 12-bucket fold. All equi-joins; the unpivot
    is a union of projections, never a shuffle by itself.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = _degrees(pairs)
    tri = _oriented_triangles(pairs, deg)
    # unpivot the triangle's three edges by exploding an array of structs:
    # one execution of the wedge-closing plan (the unionAll form re-ran it
    # once per edge position)
    edge_tri = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("x").alias("b")),
                    F.struct(F.col("u").alias("a"), F.col("y").alias("b")),
                    F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                )
            ).alias("e")
        )
        .select(F.least("e.a", "e.b").alias("p"), F.greatest("e.a", "e.b").alias("q"))
        .groupBy("p", "q")
        .agg(F.count("*").alias("c"))
    )
    dp = deg.select(F.col("node").alias("p"), F.col("d").alias("dp"))
    dq = deg.select(F.col("node").alias("q"), F.col("d").alias("dq"))
    scored = (
        pairs.join(edge_tri, ["p", "q"], "left")
        .join(dp, "p")
        .join(dq, "q")
        .select(
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            (F.col("dp") + F.col("dq") - 2 - F.coalesce(F.col("c"), F.lit(0))).alias("den"),
        )
    )
    return (
        scored.groupBy(
            F.expr(
                "CAST(CASE WHEN den = 0 THEN -1"
                " ELSE ((1000000 * c) div den) div 100000 END AS BIGINT)"
            ).alias("jaccard_decile")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.sum("c").cast("bigint").alias("total_common"),
        )
    )
