"""Star-schema analytics exercising Catalyst end-to-end.

The reference has no SQL corpus (SURVEY.md §5.5) — these queries exist because
"same capabilities on Spark" inherits the whole relational engine, and they
are the plans whose physical shape matters most at 100 TB: pushed scans,
broadcast dimension joins, partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table, order_small, table_bounds
from ..core.registry import register
from ..operators.prefix import global_prefix_max




# ---------------------------------------------------------------------------
# exact fixed-point revenue folds
# ---------------------------------------------------------------------------

#: price carries 2 decimal digits and discount 2, so price*(1-discount) has
#: a 4-decimal-place true value; floor(product * 1e4) folds the IEEE product
#: through 128-bit integers. The fold is not mathematically exact — the
#: stored columns are DOUBLE, and the IEEE product can land one ulp below
#: the true 4-dp value, under-counting that row by 1e-4 — but it is
#: BIT-IDENTICAL CROSS-ENGINE, which is the property the oracle gate needs:
#: both engines evaluate the same IEEE op chain on the same doubles, so they
#: floor the same value every time. PARITY holds at every SF:
#: a scale-0 integer converts to double in ONE correctly-rounded step on
#: both engines (int128 hardware cast / BigDecimal.doubleValue), and the
#: final /1e4 is the same IEEE division of the same double. The previous
#: DECIMAL(38,10) fold broke at sf0.1 precisely because its conversion is
#: NOT one step — DuckDB divides int128 by 10^10 in floating point (two
#: roundings) where Spark converts correctly-rounded, so 18-significant-
#: digit sums flipped their last ulp. Exactness to the true value's last
#: ulp additionally needs the summed integer under 2^53, which the global
#: revenue sum outgrows around SF 3 (grouped outputs much later) — beyond
#: that both engines still agree bit-for-bit, they just round together.
REV_SCALE = 10_000

#: the same magnitude rule governs every other fold in this module: integral
#: quantities fold at DECIMAL(38,0) and 2-dp prices/balances at DECIMAL(38,2)
#: — the smallest scale that loses nothing — so the summed numerator stays
#: inside double's exact 2^53 range orders of magnitude longer than the old
#: blanket (38,6) (which would hit the cross-engine conversion ulp at ~SF 2).


def _rev_fp():
    """floor(l_extendedprice * (1 - l_discount) * REV_SCALE), exact integer."""
    prod = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return F.floor(prod * REV_SCALE).cast("decimal(38,0)")


def _rev_fp_sql(q: str = "") -> str:
    return f"CAST(floor({q}l_extendedprice * (1 - {q}l_discount) * {REV_SCALE}) AS HUGEINT)"


def _rev_sum():
    return F.sum(_rev_fp()).cast("double") / REV_SCALE


def _rev_sum_sql(q: str = "") -> str:
    return f"CAST(sum({_rev_fp_sql(q)}) AS DOUBLE) / {REV_SCALE}.0"


@register(
    "q_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE)       AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)  AS sum_base_price,
               {_rev_sum_sql()}                                             AS sum_disc_price,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS avg_qty,
               count(*)                                                     AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
    tags=("agg", "group", "relational"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem.

    The classic partial-aggregation showcase: billions of rows reduce to a
    handful of (returnflag, linestatus) groups map-side before the shuffle.
    Decimal folds keep the float sums order-independent (engine parity rule).
    """
    li = load_table(spark, sf_dir, "lineitem")

    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,0)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).cast("double").alias("sum_base_price"),
            _rev_sum().alias("sum_disc_price"),
            (F.sum(F.col("l_quantity").cast("decimal(38,0)")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_forecast_revenue",
    oracle=f"""
        SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * {REV_SCALE}) AS HUGEINT)) AS DOUBLE)
                 / {REV_SCALE}.0 AS revenue,
               count(*)          AS n_rows
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
    tags=("agg", "scan", "relational", "tpch-q6"),
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue-change: the pure pushed-scan aggregate.

    The one TPC-H plan shape with no join and no group: every predicate
    (ship-year, discount band, quantity cap) lands in the parquet scan as a
    min-max-prunable pushed filter, and the whole table reduces map-side to a
    single partial-agg row per partition before a 1-row exchange — the
    cheapest possible plan at 100 TB because the scan IS the query. Revenue
    folds as floor(price * discount * REV_SCALE) summed in DECIMAL(38,0),
    the module's bit-identical cross-engine fixed-point rule (see REV_SCALE).
    The discount band compares stored doubles against the same IEEE literals
    in both engines, so the row set is exact, not approximate.
    """
    li = load_table(spark, sf_dir, "lineitem")

    disc_rev = F.floor(F.col("l_extendedprice") * F.col("l_discount") * REV_SCALE).cast("decimal(38,0)")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1996-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(disc_rev).cast("double") / REV_SCALE).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "q_star_join",
    oracle=f"""
        SELECT r.r_name AS region, n.n_name AS nation,
               {_rev_sum_sql("l.")}                          AS revenue,
               count(*)                                      AS n_lineitems
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE CAST(o.o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        GROUP BY r.r_name, n.n_name
        """,
    tags=("join", "group", "relational"),
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation: 4-way star join with broadcast dimensions.

    nation/region are fixed 25/5-row catalogs, so they are explicitly
    broadcast; customer GROWS with SF, so its join is left to the planner —
    auto-broadcast picks the replicated build at bench scales and AQE falls
    back to a shuffle join once the table outgrows the threshold (a forced
    hint would freeze the broadcast into the plan a 100x scale-up cannot
    re-plan away — pinned registry-wide by tests/test_plans.py). Only the
    lineitem<->orders join necessarily moves big data, and AQE handles any
    orderkey skew. This is the join topology every reference "resolution
    strategy" approximates (small side replicated to the big side's tasks).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.to_date("o_orderdate") <= F.lit("1996-12-31").cast("date"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation")).agg(
        _rev_sum().alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


@register(
    "q_top_parts",
    oracle="""
        SELECT p_brand, p_partkey, p_name, total_qty
        FROM (
          SELECT p.p_brand, p.p_partkey, p.p_name,
                 CAST(sum(CAST(l.l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS total_qty,
                 row_number() OVER (
                   PARTITION BY p.p_brand
                   ORDER BY CAST(sum(CAST(l.l_quantity AS DECIMAL(38,0))) AS DOUBLE) DESC, p.p_partkey
                 ) AS rk
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand, p.p_partkey, p.p_name
        )
        WHERE rk <= 3
        """,
    tags=("join", "window", "topk", "relational"),
)
def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by shipped quantity within each brand (windowed top-k).

    Generalizes the reference's min-by selection (§2.6) to grouped top-k:
    aggregate first (shrinks to |part| rows), then rank within brand — the
    window runs on the aggregated table, never on raw lineitem. part grows
    with SF and carries no filter here, so its join is planner-chosen
    (broadcast at bench scale, shuffle once it outgrows the threshold)
    rather than hint-forced.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,0)")).cast("double").alias("total_qty"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("total_qty").desc(), F.col("p_partkey"))
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_name", "total_qty")
    )


@register(
    "q_ship_priority",
    oracle=f"""
        SELECT l_orderkey, revenue, order_date, o_orderpriority
        FROM (
          SELECT l.l_orderkey,
                 {_rev_sum_sql("l.")}            AS revenue,
                 CAST(o.o_orderdate AS DATE)     AS order_date,
                 o.o_orderpriority
          FROM customer c
          JOIN orders o   ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          WHERE c.c_mktsegment = 'BUILDING'
            AND CAST(o.o_orderdate AS DATE) < DATE '1996-06-01'
            AND CAST(l.l_shipdate AS DATE) > DATE '1996-06-01'
          GROUP BY 1, 3, 4
        )
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
    tags=("join", "group", "topk", "relational"),
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: top-10 unshipped orders by revenue.

    Both selective filters (market segment, date window) sit on the scan
    side of their joins, so pushdown shrinks every input before any shuffle;
    the segment-sliced customer join is planner-chosen (auto-broadcast at
    bench scale; a 1/5 slice of an SF-scaled table outgrows any broadcast
    eventually, so no hint freezes it — r10 advice). The final top-10 is a
    TakeOrderedAndProject — no full sort of the aggregate — with l_orderkey
    as the deterministic tie-break (engine parity rule for LIMIT).
    """
    cutoff = F.lit("1996-06-01").cast("date")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.to_date("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.to_date("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(_rev_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
    )


@register(
    "q_local_volume",
    oracle=f"""
        SELECT n.n_name AS nation,
               {_rev_sum_sql("l.")}            AS revenue,
               count(*)                        AS n_lineitems
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        GROUP BY 1
        """,
    tags=("join", "group", "relational"),
)
def q_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue where the customer and
    the lineitem's supplier share a nation, grouped by nation in one region.

    The interesting join is supplier: its key is composite
    (l_suppkey = s_suppkey AND s_nationkey = c_nationkey) — the second
    conjunct correlates two dimensions through the fact row. The supplier
    side joins as the pre-filtered `supplier ⋈ nation ⋈ region(ASIA)` unit,
    so the region restriction (1 of 5 regions) lands below the join — but
    a 1/5 slice of an SF-scaled dimension still grows linearly, so the
    join is PLANNER-CHOSEN (auto-broadcast at bench scale, shuffle once
    the slice outgrows the threshold; hints are reserved for the fixed
    25-row nation / 5-row region legs — r10 advice). customer carries no
    filter here, so its join is planner-chosen too; lineitem<->orders
    stays the only unavoidable big shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.to_date("o_orderdate") <= F.lit("1996-12-31").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s_local = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s_local,
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("s_nationkey") == c.c_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _rev_sum().alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# correlated EXISTS through the SQL front door
# ---------------------------------------------------------------------------

_LATE_ORDERS_SQL = """
    SELECT o_orderpriority,
           count(*) AS order_count
    FROM {orders} o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM {lineitem} l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
"""


@register(
    "q_late_orders",
    oracle=_LATE_ORDERS_SQL.format(orders="orders", lineitem="lineitem") + "ORDER BY o_orderpriority",
    tags=("sql", "subquery", "semi-join"),
)
def q_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS, submitted as SQL text.

    Every other registered query declares its plan through the DataFrame
    API; this one goes through the engine's SQL front door (spark.sql over
    temp views) to exercise the parser + analyzer path and Catalyst's
    subquery decorrelation: the correlated EXISTS — whose inner predicate
    references BOTH sides (l_shipdate > o_orderdate + 90 days), more than a
    key match — must be rewritten into a left-semi join with the correlated
    predicate pulled into the join condition. The identical SQL text is the
    DuckDB oracle, modulo view names; the oracle's ORDER BY is the engine's
    ``order_small``, which sorts the 5 priorities without a range exchange.

    Scale: after decorrelation the plan is a semi join on l_orderkey with
    the date filter pushed to the orders scan; the lineitem side prunes to
    two columns. Semi-join output is bounded by the orders side, and the
    priority rollup is a 5-row aggregate.
    """
    ov = "q_late_orders_orders"
    lv = "q_late_orders_lineitem"
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(ov)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(lv)
    return order_small(spark.sql(_LATE_ORDERS_SQL.format(orders=ov, lineitem=lv)), "o_orderpriority")


LARGE_ORDER_QTY = 180  # total-quantity threshold (TPC-H Q18 uses 300 at SF1)


@register(
    "q_large_orders",
    oracle=f"""
        WITH big AS (
          SELECT l_orderkey,
                 CAST(sum(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS total_qty
          FROM lineitem
          GROUP BY 1
          HAVING sum(CAST(l_quantity AS DECIMAL(38,0))) > {LARGE_ORDER_QTY}
        )
        SELECT c.c_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS o_orderdate,
               b.total_qty
        FROM big b
        JOIN orders o   ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        """,
    tags=("join", "having", "tpch-q18"),
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers holding large-volume orders.

    The group-HAVING-join-back pattern: aggregate the fact table to find
    qualifying orders, then join the qualifier set back to orders and
    customer. Scale story: the only full-table shuffle is the lineitem
    groupBy on l_orderkey. The fixture threshold keeps ~10% of orders, so
    the qualifier join is left to AQE — a FORCED broadcast hint here would
    bypass AQE's size demotion and try to collect billions of rows at large
    SF (at TPC-H's own threshold the set is a genuine sliver and AQE
    broadcasts it anyway). Quantity folds through DECIMAL so the HAVING cut
    is exact on both engines.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy(F.col("l_orderkey"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,0)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > LARGE_ORDER_QTY)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "total_qty",
        )
    )


@register(
    "q_promo_revenue",
    oracle=f"""
        SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN {_rev_fp_sql()}
                 ELSE CAST(0 AS HUGEINT) END) AS DOUBLE) / {REV_SCALE}.0 AS promo_revenue,
               {_rev_sum_sql()}                                  AS total_revenue,
               count(*)                                          AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1997-10-01'
        """,
    tags=("join", "agg", "relational"),
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share for one ship month.

    Conditional aggregation over a fact-dimension join: the date predicate
    pushes to the lineitem scan (one month survives), the unfiltered part
    join is planner-chosen (auto-broadcast at bench scale, shuffle once the
    SF-scaled table outgrows the threshold — never hint-frozen), and the
    conditional sums partial-aggregate map-side into a single row. The
    promo share is computed by the caller from the two exact decimal-folded
    sums — emitting both (instead of the ratio) keeps the hash comparison on
    exactly-reproducible values.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-09-01"))
        & (F.to_date("l_shipdate") < F.lit("1997-10-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", _rev_fp()).otherwise(zero))
                .cast("double")
                / REV_SCALE
            ).alias("promo_revenue"),
            _rev_sum().alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )


#: Q19-shaped OR-of-ANDs predicate: three (brand, size-range, qty-range)
#: branches — the disjunctive-pushdown stress case
_Q19_BRANCHES = (
    ("Brand#1", 1, 15, 1, 20),
    ("Brand#13", 10, 30, 10, 35),
    ("Brand#20", 20, 50, 20, 50),
)

_Q19_SQL_PRED = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {s0} AND {s1} AND l_quantity BETWEEN {q0} AND {q1})"
    for b, s0, s1, q0, q1 in _Q19_BRANCHES
)


@register(
    "q_disjunct_revenue",
    oracle=f"""
        SELECT count(*) AS n_items,
               {_rev_sum_sql()} AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE {_Q19_SQL_PRED}
        """,
    tags=("join", "filter", "relational"),
)
def q_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs cross-table predicate.

    The disjunctive-predicate stress case: three (brand, size, quantity)
    branches where each conjunct spans both tables, so no single branch can
    be pushed wholesale. Catalyst extracts the common single-side residues
    (brand IN set, size/quantity hull ranges) for scan-level pruning and
    evaluates the full disjunction after the part join — planner-chosen
    (auto-broadcast at bench scale; part is SF-scaled, so no hint freezes
    the build side — r10 advice), with the fact side scanned once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    pred = None
    for brand, s0, s1, q0, q1 in _Q19_BRANCHES:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s0, s1)
            & F.col("l_quantity").between(q0, q1)
        )
        pred = branch if pred is None else (pred | branch)
    return joined.filter(pred).agg(
        F.count("*").alias("n_items"),
        _rev_sum().alias("revenue"),
    )


@register(
    "q_returned_revenue",
    oracle=f"""
        SELECT c_custkey,
               count(*) AS n_items,
               {_rev_sum_sql()} AS lost_revenue
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        WHERE l_returnflag = 'R'
          AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
        GROUP BY c_custkey
        HAVING count(*) >= 5
        """,
    tags=("join", "agg", "relational"),
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, per customer.

    The shape q_ship_priority/q_promo_revenue do NOT cover: the group key
    (customer) is high-cardinality, so neither the qualifier set nor the
    grouped result is broadcastable — this is the genuine shuffle-join +
    shuffle-agg path. Scale: the returnflag + ship-year predicates push to
    the lineitem scan (a small slice survives), the orders join shuffles on
    orderkey with AQE sizing the partitions, the unfiltered customer join is
    planner-chosen (broadcast at bench scale, shuffle past the threshold),
    and the revenue sums partial-aggregate map-side before the custkey
    shuffle. Decimal folds keep the HAVING cut and sums engine-exact.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "R")
        & (F.to_date("l_shipdate") >= F.lit("1997-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_items"),
            _rev_sum().alias("lost_revenue"),
        )
        .filter(F.col("n_items") >= 5)
    )


# ---------------------------------------------------------------------------
# round-3 additions: the remaining TPC-H shapes expressible on this schema
# (no partsupp / commitdate / receiptdate in the fixture, so Q2/Q9/Q11/Q12/
# Q16/Q20/Q21 are out of reach; the shapes below complete the rest)
# ---------------------------------------------------------------------------

#: Q7's nation pair — revenue flows in BOTH directions between these two
_Q7_NATIONS = ("NATION_3", "NATION_7")


@register(
    "q_nation_volume",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(sum(vol) AS DOUBLE) / {REV_SCALE}.0 AS revenue,
               count(*)                 AS n_items
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
                 {_rev_fp_sql("l.")} AS vol
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
          JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
          WHERE (n1.n_name = '{_Q7_NATIONS[0]}' AND n2.n_name = '{_Q7_NATIONS[1]}')
             OR (n1.n_name = '{_Q7_NATIONS[1]}' AND n2.n_name = '{_Q7_NATIONS[0]}')
        )
        GROUP BY supp_nation, cust_nation, l_year
        """,
    tags=("join", "agg", "tpch-q7"),
)
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by year.

    Two independent dimension chains hang off the same fact row — supplier's
    nation via l_suppkey and customer's nation via l_orderkey->o_custkey —
    and the filter is a disjunction across the PAIR of chains, so neither
    chain's nation predicate can prune alone; each side DOES prune to the
    two-nation superset (2/25 of the dimension), applied below the join.
    Only the fixed 25-row nation legs are hint-broadcast; the pruned
    supplier/customer chains are PLANNER-CHOSEN (auto-broadcast at bench
    scale, shuffle once a 100x scale-up makes a 2/25 slice of an SF-scaled
    table too big to ship — a hint here would freeze a choice AQE should
    re-make; r10 advice). The only always-shuffle is lineitem<->orders on
    orderkey; the pair predicate evaluates after both chains resolve, and
    the (nation, nation, year) grouping is tiny. Revenue folds through
    DECIMAL for engine parity.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a, b = _Q7_NATIONS
    n1 = n.filter(F.col("n_name").isin(a, b)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(a, b)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    s_pair = s.join(F.broadcast(n1), s.s_nationkey == F.col("sn_key"))
    c_pair = c.join(F.broadcast(n2), c.c_nationkey == F.col("cn_key"))
    pair = ((F.col("supp_nation") == a) & (F.col("cust_nation") == b)) | (
        (F.col("supp_nation") == b) & (F.col("cust_nation") == a)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s_pair, l.l_suppkey == F.col("s_suppkey"))
        .join(c_pair, o.o_custkey == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_rev_sum().alias("revenue"), F.count("*").alias("n_items"))
    )


#: Q8's market: ECONOMY-type parts sold into EUROPE customers; the share
#: tracked is NATION_5's suppliers. Both sums are emitted instead of the
#: ratio so the hash comparison stays on exactly-reproducible decimals.
_Q8_REGION = "EUROPE"
_Q8_NATION = "NATION_5"
_Q8_PTYPE = "ECONOMY"


@register(
    "q_market_share",
    oracle=f"""
        SELECT o_year,
               CAST(sum(CASE WHEN supp_nation = '{_Q8_NATION}' THEN vol
                             ELSE CAST(0 AS HUGEINT) END) AS DOUBLE) / {REV_SCALE}.0
                 AS nation_volume,
               CAST(sum(vol) AS DOUBLE) / {REV_SCALE}.0 AS total_volume
        FROM (
          SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                 {_rev_fp_sql("l.")} AS vol,
                 ns.n_name AS supp_nation
          FROM lineitem l
          JOIN part p     ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
          JOIN region r   ON r.r_regionkey = nc.n_regionkey
          JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
          WHERE r.r_name = '{_Q8_REGION}' AND p.p_type = '{_Q8_PTYPE}'
        )
        GROUP BY o_year
        """,
    tags=("join", "agg", "tpch-q8"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market, by year.

    The deepest dimension topology in the set — seven tables, with nation
    joined TWICE under different roles (customer's nation restricts the
    market region; supplier's nation labels the volume). Scale: hints are
    reserved for the genuinely bounded sides — the fixed nation/region
    legs. Part is pre-filtered by type and the customer chain is pre-joined
    to the region-filtered nation list so the EUROPE restriction (1 of 5
    regions) lands below its join, but constant-fraction slices of
    SF-scaled tables still grow linearly, so those joins — like the
    unrestricted supplier chain — are PLANNER-CHOSEN (auto-broadcast at
    bench scale, shuffle past the threshold) rather than hint-frozen
    (r10 advice). The single unavoidable
    big-data shuffle remains lineitem<->orders, and the per-year conditional
    sums partial-aggregate map-side. Emitting nation_volume and total_volume
    (not their ratio) keeps the comparison on exact decimal folds.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == _Q8_PTYPE)
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # customer-side chain: nation -> region, pre-filtered to the market region
    nc = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == _Q8_REGION)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    ns = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    c_market = c.join(F.broadcast(nc), c.c_nationkey == F.col("cn_key"))
    s_labeled = s.join(F.broadcast(ns), s.s_nationkey == F.col("sn_key"))
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(s_labeled, l.l_suppkey == F.col("s_suppkey"))
        .join(c_market, o.o_custkey == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == _Q8_NATION, _rev_fp()).otherwise(zero))
                .cast("double")
                / REV_SCALE
            ).alias("nation_volume"),
            _rev_sum().alias("total_volume"),
        )
    )


@register(
    "q_order_count_dist",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                            AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
        """,
    tags=("join", "agg", "tpch-q13"),
)
def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts.

    The double-aggregation shape with a filtered LEFT join: customers with
    zero qualifying orders must appear in the c_count=0 bucket, so the
    filter lives in the join condition, not a WHERE (a WHERE would silently
    turn the join inner). Scale: rather than shuffling the join output
    (|orders| rows) into a custkey agg, pre-aggregate orders to per-customer
    counts FIRST — the fact table collapses before any join — then left-join
    customer to the count table and coalesce the misses to 0. The second
    aggregation (count distribution) is over at most |distinct counts|
    groups. Same result as join-then-count, one fact-table shuffle less.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy(F.col("o_custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


#: Q15's revenue quarter
_Q15_START, _Q15_END = "1997-07-01", "1997-10-01"


@register(
    "q_top_supplier",
    oracle=f"""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 sum({_rev_fp_sql()}) AS rev_fp
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q15_START}'
            AND CAST(l_shipdate AS DATE) <  DATE '{_Q15_END}'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(r.rev_fp AS DOUBLE) / {REV_SCALE}.0 AS total_revenue
        FROM supplier s
        JOIN rev r ON r.supplier_no = s.s_suppkey
        WHERE r.rev_fp = (SELECT max(rev_fp) FROM rev)
        """,
    tags=("join", "subquery", "tpch-q15"),
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue.

    The scalar-aggregate-subquery shape: the per-supplier revenue table is
    consumed twice — once for its max (a 1-row scalar) and once row-wise to
    keep the suppliers attaining it (ALL of them, on a tie). Scale: the
    quarter filter pushes to the lineitem scan, per-suppkey revenue
    partial-aggregates map-side, and the 1-row max joins back by broadcast —
    the equality is tested on the exact fixed-point fold, not the double
    projection, so a tie can't be split by float rounding. The max-attaining
    rev side is 1-row-scale after the filter, so the name join against the
    unfiltered SF-scaled supplier is planner-chosen (AQE sees the post-
    filter cardinality and broadcasts the SMALL side) rather than
    hint-freezing supplier as the build side.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit(_Q15_START))
        & (F.to_date("l_shipdate") < F.lit(_Q15_END))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_fp()).alias("rev_fp")
    )
    max_rev = rev.agg(F.max("rev_fp").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev), rev.rev_fp == max_rev.max_rev)
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_fp").cast("double") / REV_SCALE).alias("total_revenue"),
        )
    )


#: Q17's brand slice
_Q17_BRAND = "Brand#1"


@register(
    "q_small_qty_revenue",
    oracle=f"""
        WITH pa AS (
          SELECT l_partkey,
                 sum(CAST(l_quantity AS DECIMAL(38,0))) AS qty_sum,
                 count(*)                               AS qty_n
          FROM lineitem
          GROUP BY l_partkey
        )
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) / 7.0
                 AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN pa     ON pa.l_partkey = l.l_partkey
        WHERE p.p_brand = '{_Q17_BRAND}'
          AND CAST(l.l_quantity AS DECIMAL(38,0)) * 5 * pa.qty_n < pa.qty_sum
        """,
    tags=("join", "subquery", "tpch-q17"),
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand.

    The correlated-scalar-subquery shape: each lineitem compares its
    quantity against 0.2x the average quantity of ITS part, decorrelated
    into a per-part aggregate joined back to the fact rows. Two exactness
    moves: (1) `qty < 0.2 * avg` is algebraically rearranged to
    `5 * qty * n < sum` over DECIMAL folds, so the boundary cut cannot
    flip on float rounding; (2) the per-part aggregate is computed only
    for the brand's parts — the brand semi-join prunes BOTH the fact scan
    and the aggregate's input, so the big table never aggregates groups
    that are about to be discarded. The semi join is planner-chosen
    (auto-broadcast at bench scale; a 1/|brands| slice of SF-scaled part
    grows linearly, so no hint freezes it — r10 advice).
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _Q17_BRAND)
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        p, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(38,0)")).alias("qty_sum"),
        F.count("*").alias("qty_n"),
    )
    return (
        li.join(pa, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(
            F.col("l_quantity").cast("decimal(38,0)") * 5 * F.col("qty_n") < F.col("qty_sum")
        )
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_items"),
        )
    )


#: Q22's idleness horizon: no orders on/after this date. (The fixture's
#: order keys cover every customer, so Q22's literal "never ordered" set is
#: empty at all SFs; a recency cutoff keeps the identical anti-join shape
#: AND a non-trivial result.)
_Q22_CUTOFF = "2000-01-01"


@register(
    "q_idle_customers",
    oracle=f"""
        WITH pos AS (
          SELECT sum(CAST(c_acctbal AS DECIMAL(38,2))) AS bal_sum,
                 count(*)                              AS bal_n
          FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey AS cntrycode,
               count(*)    AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS totacctbal
        FROM customer c, pos
        WHERE CAST(c.c_acctbal AS DECIMAL(38,2)) * pos.bal_n > pos.bal_sum
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND CAST(o.o_orderdate AS DATE) >= DATE '{_Q22_CUTOFF}')
        GROUP BY c_nationkey
        """,
    tags=("anti-join", "subquery", "tpch-q22"),
)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone idle.

    Anti join + global-scalar threshold: keep customers whose balance
    exceeds the average positive balance (the scalar subquery) AND who have
    placed no order since the cutoff (NOT EXISTS -> left anti join),
    grouped by country (the fixture has no phone column, so nationkey
    stands in for Q22's cntrycode prefix). Exactness: `bal > avg` is
    rearranged to `bal * n > sum` over DECIMAL folds — no float-boundary
    flips. Scale: the 1-row threshold cross-joins by broadcast; the anti
    join's right side is the date-filtered orders' custkey column only,
    pre-shrunk by distinct — it shuffles at most |customers| keys, and AQE
    picks broadcast-anti when the distinct set is small.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    pos = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")).alias("bal_sum"),
            F.count("*").alias("bal_n"),
        )
    )
    o_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.lit(_Q22_CUTOFF))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.join(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast("decimal(38,2)") * F.col("bal_n") > F.col("bal_sum"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(38,2)")).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# waiting suppliers (Q21), profit attribution (Q9), first-digit audit
# ---------------------------------------------------------------------------

#: lateness grid shared with q_late_orders (Q4): a lineitem is late when it
#: ships more than 90 days after its order date (the fixture's lineitem has
#: no commit/receipt dates, so Q21's receipt>commit test maps onto the same
#: ship-lag definition Q4 established)
_Q21_LATE_DAYS = 90


@register(
    "q_waiting_suppliers",
    oracle=f"""
        WITH flagged AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 (l.l_shipdate > o.o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY) AS late
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderstatus = 'F'
        )
        SELECT s.s_name, n.n_name, count(*) AS numwait
        FROM flagged l1
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE l1.late
          AND EXISTS (SELECT 1 FROM flagged l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM flagged l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.late)
        GROUP BY 1, 2
        """,
    tags=("join", "agg", "tpch-q21"),
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone kept finished orders waiting.

    The textbook form is a self-EXISTS plus a self-NOT-EXISTS over
    lineitem — two extra shuffled self-joins of the fact table. The
    engine-side rewrite collapses both quantifiers into ONE grouped pass:
    per order, count distinct suppliers and distinct LATE suppliers; a
    late lineitem is "waiting" exactly when its order has >=2 suppliers
    (the EXISTS) and exactly 1 late supplier (the NOT EXISTS, given this
    row's own supplier is late). The oracle keeps the faithful
    EXISTS/NOT-EXISTS text so the two formulations certify each other.

    Scale: lineitem joins orders once on orderkey; the per-order quantifier
    aggregate and the flag-back join reuse that same key, so AQE reuses the
    exchange rather than re-shuffling a second and third copy of the fact
    table (the plan the naive double-self-join would produce). nation (25
    rows) broadcasts by hint; the unfiltered SF-scaled supplier join is
    planner-chosen (broadcast at bench scale, shuffle past the threshold).
    Output is one row per supplier — metadata-scale.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flagged = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        ).alias("late"),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    qualifying = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    waiting = flagged.filter(F.col("late")).join(qualifying, "l_orderkey")
    return (
        waiting.join(s, waiting.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
    )


#: modeled supply cost for the Q9 profit decomposition: 60% of the part's
#: retail price per unit, folded at REV_SCALE like every other money sum
#: (the fixture has no partsupp table, so ps_supplycost maps to this
#: deterministic retail fraction)
_Q9_COST_FP = int(0.6 * REV_SCALE)
_Q9_PART_WORD = "red"


@register(
    "q_profit_by_nation",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
               CAST(sum({_rev_fp_sql("l.")}
                        - CAST(floor(p.p_retailprice * l.l_quantity * {_Q9_COST_FP})
                               AS HUGEINT)) AS DOUBLE) / {REV_SCALE}.0 AS profit,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%{_Q9_PART_WORD}%'
        GROUP BY 1, 2
        """,
    tags=("join", "agg", "tpch-q9"),
)
def q_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit attributed to supplier nations.

    Profit per lineitem is discounted revenue minus a modeled supply cost
    (a fixed fraction of the part's retail price per unit — the fixture
    carries no partsupp table). Both terms fold at REV_SCALE through the
    module's fixed-point convention, and the cost product keeps the same
    left-associated IEEE chain on both engines
    (p_retailprice * l_quantity * cost-constant) so the floors agree
    bit-for-bit.

    Scale: the part filter prunes before its join; nation (25 rows)
    broadcasts by hint; the part and supplier joins are planner-chosen
    (auto-broadcast at bench scale, shuffle past the threshold — both are
    SF-scaled, so no hint freezes them; r10 advice). The one unavoidable
    shuffle is lineitem<->orders on orderkey. The (nation, year) grouping
    is 25 x |years| rows.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(_Q9_PART_WORD))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cost_fp = F.floor(
        F.col("p_retailprice") * F.col("l_quantity") * _Q9_COST_FP
    ).cast("decimal(38,0)")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (F.sum(_rev_fp() - cost_fp).cast("double") / REV_SCALE).alias("profit"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_benford",
    oracle="""
        WITH d AS (
          SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                 AS digit
          FROM orders WHERE o_totalprice >= 1
        ),
        c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        t AS (SELECT sum(n) AS total FROM c)
        SELECT c.digit, c.n, CAST((c.n * 1000000) // t.total AS BIGINT) AS ppm
        FROM c, t
        """,
    tags=("quality", "benford", "profile"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit profile of order totals (Benford audit).

    The fraud/data-quality screen: histogram the leading digit of every
    order total and report each digit's parts-per-million share. The digit
    is taken through floor->BIGINT->string on both engines (never through
    float formatting, which the engines disagree on), and the share uses
    truncating integer division so the ppm values are exact integers.

    Scale: one map-side-combined groupBy over a single pruned column; the
    9-row digit table folds against a 1-row total by broadcast. The final
    cross is a one-row nested-loop broadcast — allowlisted, constant-size.
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            ).alias("digit")
        )
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return c.join(F.broadcast(t)).select(
        "digit", "n", F.expr("n * 1000000 div total").alias("ppm")
    )


@register(
    "q_integrity_audit",
    oracle=f"""
        SELECT 'orders_pk_dup' AS check_name, count(*) AS violations FROM (
          SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        UNION ALL
        SELECT 'customer_pk_dup', count(*) FROM (
          SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
        UNION ALL
        SELECT 'part_pk_dup', count(*) FROM (
          SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1)
        UNION ALL
        SELECT 'supplier_pk_dup', count(*) FROM (
          SELECT s_suppkey FROM supplier GROUP BY 1 HAVING count(*) > 1)
        UNION ALL
        SELECT 'lineitem_fk_orders', count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'lineitem_fk_part', count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        UNION ALL
        SELECT 'lineitem_fk_supplier', count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        UNION ALL
        SELECT 'orders_fk_customer', count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'orders_total_mismatch', count(*) FROM orders o JOIN (
          SELECT l_orderkey, sum({_rev_fp_sql()}) AS rev
          FROM lineitem GROUP BY 1) x ON x.l_orderkey = o.o_orderkey
        WHERE CAST(floor(o.o_totalprice * {REV_SCALE}) AS HUGEINT) <> x.rev
        """,
    tags=("quality", "audit", "anti-join"),
)
def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational integrity audit: the dbt-test battery as one query.

    Nine checks, one row each: primary-key uniqueness on the four dimension
    /fact heads, referential integrity on the four foreign-key edges
    (left-anti joins), and a cross-field consistency check that each
    order's stored total reconciles against the REV_SCALE-folded sum of
    its lineitems (deliberately NON-zero on the synthetic fixture —
    o_totalprice is drawn independently — so the audit proves it can
    actually fire, not just report zeros).

    Scale: every check is an independent aggregate that reduces to one
    row before the union, so the result is always exactly 9 rows. The
    anti joins prune to the key column on both sides and leave the join
    strategy to the planner — every dimension here grows with SF, so a
    hint-frozen broadcast of its key set would stop fitting at 100x
    (auto-broadcast still replicates the small side at bench scales).
    The lineitem<->orders checks shuffle on orderkey only after pruning
    to the key (and the key+price pair for the reconciliation).
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), F.col("violations")
        )

    def pk_dup(name: str, df: DataFrame, key: str) -> DataFrame:
        dups = df.groupBy(key).agg(F.count("*").alias("n")).filter(F.col("n") > 1)
        return one(name, dups)

    def fk_orphan(name: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str) -> DataFrame:
        keys = dim.select(pk)
        return one(name, fact.select(fk).join(keys, F.col(fk) == F.col(pk), "left_anti"))

    rev = l.groupBy("l_orderkey").agg(F.sum(_rev_fp()).alias("rev"))
    mismatch = (
        o.select("o_orderkey", "o_totalprice")
        .join(rev, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.floor(F.col("o_totalprice") * REV_SCALE).cast("decimal(38,0)")
            != F.col("rev")
        )
    )
    checks = [
        pk_dup("orders_pk_dup", o, "o_orderkey"),
        pk_dup("customer_pk_dup", c, "c_custkey"),
        pk_dup("part_pk_dup", p, "p_partkey"),
        pk_dup("supplier_pk_dup", s, "s_suppkey"),
        fk_orphan("lineitem_fk_orders", l, "l_orderkey", o, "o_orderkey"),
        fk_orphan("lineitem_fk_part", l, "l_partkey", p, "p_partkey"),
        fk_orphan("lineitem_fk_supplier", l, "l_suppkey", s, "s_suppkey"),
        fk_orphan("orders_fk_customer", o, "o_custkey", c, "c_custkey"),
        one("orders_total_mismatch", mismatch),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionAll(chk)
    return out


@register(
    "q_skyline",
    oracle="""
        SELECT p.p_partkey,
               CAST(floor(p.p_retailprice * 100) AS BIGINT) AS price_cents,
               p.p_size
        FROM part p
        WHERE NOT EXISTS (
          SELECT 1 FROM part q
          WHERE floor(q.p_retailprice * 100) <= floor(p.p_retailprice * 100)
            AND q.p_size >= p.p_size
            AND (floor(q.p_retailprice * 100) < floor(p.p_retailprice * 100)
                 OR q.p_size > p.p_size)
        )
        """,
    tags=("skyline", "pareto", "prefix-max"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of the part catalog: cheapest-per-size.

    A part survives iff no other part is at-most-as-expensive AND
    at-least-as-big with one of the two strict — the classic dominance
    test behind buy-recommendation and multi-objective pruning. The naive
    form is the O(n^2) self-join the oracle deliberately keeps (NOT
    EXISTS dominance — the two formulations certify each other); the
    engine runs the sort-scan reduction: collapse to one row per price
    point (max size), take the EXCLUSIVE running max of size over
    strictly-cheaper price points via the two-phase
    operators/prefix.global_prefix_max — per-range local scans plus a
    |ranges|-row offset table, NEVER a single-task global window over the
    catalog — and keep rows that beat both the strictly-cheaper max and
    their own price group's max. Prices compare in exact cents (bigint),
    so the dominance test cannot flip on float formatting.

    Scale: one groupBy on price_cents (map-side combined), one range
    exchange for the scan, one equi-join of the catalog against the
    per-price table (AQE broadcasts it when small). O(n log n) work
    against the oracle's O(n^2).
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        "p_size",
    )
    g = p.groupBy("price_cents").agg(F.max("p_size").alias("eqmax"))
    # range buckets for the prefix max over the price domain, read from the
    # parquet footers (core.io.column_bounds, no job); price_cents / 100 is
    # monotone in price_cents and lies in that domain
    _, ((lo, hi),) = table_bounds(spark, sf_dir, "part", ["p_retailprice"])
    g2 = global_prefix_max(
        g,
        [F.col("price_cents")],
        F.col("eqmax"),
        "m1",
        bucket=(F.col("price_cents") / 100, lo, hi, 256),
    )
    return (
        p.join(g2, "price_cents")
        .filter(
            (F.col("m1").isNull() | (F.col("m1") < F.col("p_size")))
            & (F.col("eqmax") == F.col("p_size"))
        )
        .select("p_partkey", "price_cents", "p_size")
    )


@register(
    "q_hhi",
    oracle=f"""
        WITH srev AS (
          SELECT l.l_suppkey, sum({_rev_fp_sql()}) AS rev
          FROM lineitem l GROUP BY 1
        ),
        by_nation AS (
          SELECT n.n_name AS nation, r.rev
          FROM srev r
          JOIN supplier s ON r.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
        )
        SELECT nation,
               CAST(count(*) AS BIGINT)  AS n_suppliers,
               CAST(sum(rev) AS BIGINT)  AS total_rev_fp,
               CAST((1000000 * sum(rev * rev)) // (sum(rev) * sum(rev)) AS BIGINT)
                 AS hhi_ppm
        FROM by_nation GROUP BY nation
        """,
    tags=("relational", "concentration", "analytic"),
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation.

    The market-concentration diagnostic regulators run on exactly this
    fact/dim topology: per-supplier revenue shares within each nation,
    HHI = sum(share_i^2), emitted as exact integer ppm —
    (1e6 * sum(rev_i^2)) div (sum(rev_i))^2 with revenue in the module's
    REV_SCALE fixed point, so the squared folds stay in DECIMAL(38,0) and
    the published ratio is bit-identical cross-engine (the q_ab_chi2
    rational convention).

    Scale: the only fact-table shuffle is the l_suppkey aggregation
    (map-side combined to one row per supplier); nation (25 rows)
    broadcasts by hint, the unfiltered SF-scaled supplier join is
    planner-chosen, and the HHI fold runs over the supplier-scale table.
    rev_i^2 at REV_SCALE=1e4 reaches ~1e26 for a 1e9-revenue supplier —
    far inside DECIMAL(38,0); the bigint cast applies only to the final
    ppm ratio.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_suppkey", _rev_fp().alias("rev"))
    srev = l.groupBy("l_suppkey").agg(F.sum("rev").alias("rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        srev.join(s, srev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("rev").cast("bigint").alias("total_rev_fp"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum(rev * rev))"
                " div (sum(rev) * sum(rev)) AS BIGINT)"
            ).alias("hhi_ppm"),
        )
    )
