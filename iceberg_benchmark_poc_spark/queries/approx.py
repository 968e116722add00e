"""Approximate and skew-aware aggregation queries.

q_salted_agg is oracle-gated (salting is a physical rewrite — the logical
result is exactly the unsalted groupBy). q_approx_stats's raw sketch values
are engine-specific by design, so it gates itself: the query emits
within-10%-of-exact booleans computed in-engine and the oracle asserts them
as literal TRUE — a drifting sketch turns the driver row red.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.fixtures import hash60, hash60_sql
from ..core.io import load_table, table_bounds
from ..core.registry import register
from ..operators.quantiles import exact_quantiles
from ..operators.skew import salted_count, salted_join


@register(
    "q_salted_agg",
    oracle="""
        SELECT l_returnflag, count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        """,
    tags=("agg", "skew"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase count by a low-cardinality (hence hot) key.

    l_returnflag has 3 values — the worst case for a naive shuffle (3
    reducers own everything). Salting by l_orderkey spreads each flag across
    16 partial groups; the merge shuffle carries 48 rows. Result is
    bit-identical to the plain groupBy, which is exactly what the oracle
    checks.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return salted_count(li, ["l_returnflag"], F.col("l_orderkey"), n_salts=16)


@register(
    "q_salted_join",
    oracle="""
        SELECT p_brand,
               count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS brand_revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand
        """,
    tags=("join", "skew"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof replicated-salt equi-join (logical result: the plain join).

    The join half of the salting family (q_salted_agg is the aggregation
    half): lineitem joins part on (l_partkey, salt) with part replicated 8x,
    so a hot part key's rows spread across 8 reducers instead of one. The
    oracle checks the unsalted join's per-brand rollup — salting is a
    physical rewrite and must be row-invisible.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, p, "l_partkey", F.col("l_orderkey"), n_salts=8)
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).cast("double").alias("brand_revenue"),
    )


@register(
    "q_approx_stats",
    oracle="""
        SELECT count(*)  AS n_rows,
               TRUE      AS orders_within_10pct,
               TRUE      AS parts_within_10pct,
               TRUE      AS q50_within_10pct,
               TRUE      AS q95_within_10pct,
               TRUE      AS q99_within_10pct
        FROM lineitem
        """,
    tags=("agg", "approx"),
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based statistics: approx distinct + approx quantiles.

    The constant-memory path for 100 TB profiling: HyperLogLog counters and
    quantile sketches merge associatively across partitions, so these run in
    one combine-shuffle pass regardless of cardinality. Sketch VALUES are
    engine-specific (HLL register layout, KLL compaction), so the raw
    estimates can't be hash-gated against DuckDB — instead the query emits
    in-engine accuracy verdicts: |approx - exact| / exact < 0.1 booleans,
    each computed against an exact twin. The oracle asserts all five
    booleans as literal TRUE, which converts the former rows-only row into
    a hard hash gate: if a sketch ever drifts past 10%, the driver goes
    red. The exact twins (count distinct, exact percentile) exist only to
    power the gate — the production profile at 100 TB runs the sketch
    columns alone.

    The exact-quantile twin runs through :func:`exact_quantiles` (one
    ranked histogram — a range exchange, a count per distinct price and the
    two-phase prefix sum — and one aggregate picking each quantile where its
    ranks are, bit-equal to builtin ``percentile``), NOT the builtin: the
    builtin's boxed value-map merge funnels every distinct price through
    one thread and was >half of this query's wall (7.1 s at sf0.1) besides
    being a driver-memory hazard at real cardinalities. Its range ids come
    from the price's parquet-footer min/max (``core.io.table_bounds``, no
    job), so the query builds with no Spark job. The one-row bounds table
    broadcast-joins the sketch agg.

    Quantile verdicts are scalar booleans (q50/q95/q99) rather than one
    array column: the driver's canonicalization sorts cell values and list
    cells are unhashable (r02 red row).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    aq = F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99))")
    _, ((lo, hi),) = table_bounds(spark, sf_dir, "lineitem", ["l_extendedprice"])
    eq_bounds = exact_quantiles(
        li,
        F.col("l_extendedprice"),
        [0.5, 0.95, 0.99],
        out_col="ebs",
        bucket=(F.col("l_extendedprice"), lo, hi, 1024),
    )

    def within(approx, exact):
        return F.abs(approx - exact) / exact < F.lit(0.1)

    # sketches and exact distinct counts aggregate in SEPARATE one-row
    # passes: two countDistinct columns plan an Expand (3x the input), and
    # pushing 1.8M expanded rows through the object-based sketch
    # aggregates (QuantileSummaries + 2 HLL) was ~6 s of the old 7.1 s
    # wall — split, the sketch pass and the distinct pass each run <1 s
    agg = li.agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_orderkey").alias("a_orders"),
        F.approx_count_distinct("l_partkey").alias("a_parts"),
        F.element_at(aq, 1).alias("a_q50"),
        F.element_at(aq, 2).alias("a_q95"),
        F.element_at(aq, 3).alias("a_q99"),
    )
    exact_cd = li.agg(
        F.countDistinct("l_orderkey").alias("e_orders"),
        F.countDistinct("l_partkey").alias("e_parts"),
    )
    agg = agg.join(F.broadcast(exact_cd)).join(F.broadcast(eq_bounds)).select(
        "*",
        F.element_at("ebs", 1).alias("e_q50"),
        F.element_at("ebs", 2).alias("e_q95"),
        F.element_at("ebs", 3).alias("e_q99"),
    )
    return agg.select(
        "n_rows",
        within(F.col("a_orders"), F.col("e_orders")).alias("orders_within_10pct"),
        within(F.col("a_parts"), F.col("e_parts")).alias("parts_within_10pct"),
        within(F.col("a_q50"), F.col("e_q50")).alias("q50_within_10pct"),
        within(F.col("a_q95"), F.col("e_q95")).alias("q95_within_10pct"),
        within(F.col("a_q99"), F.col("e_q99")).alias("q99_within_10pct"),
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # lanes (independent hash rows)
# buckets per lane — deliberately sized BELOW the fixture vocabulary (31
# distinct tokens) so lane collisions actually happen and the one-sided
# error bound is EXERCISED by the oracle comparison, not vacuously true; a
# production sketch sizes width ~ e/epsilon (thousands+)
CMS_WIDTH = 16
CMS_TOP_K = 20

#: modulus of the affine lane-hash family (same prime as the minhash family
#: in operators/text.py — both draw pairwise-independent hashes from one
#: base md5 value instead of paying one md5 per lane)
CMS_PRIME = 1_000_000_007


def _cms_bucket(lane, h):
    """Lane bucket from the shared base hash: ((2*lane+3)*h + 5*lane+7) mod P mod W.

    One md5 per TOKEN, not per (token, lane): the per-lane hashes are an
    affine pairwise-independent family over the base value — the standard
    CMS construction, and 4x less hashing on the hot path. Coefficients are
    literals on both engines, so the sketches stay bit-identical.
    """
    return ((lane * 2 + 3) * h + (lane * 5 + 7)) % CMS_PRIME % CMS_WIDTH


@register(
    "q_countmin_topk",
    oracle=rf"""
        WITH toks AS (
          SELECT unnest(string_split_regex(trim(text, ' '), '\s+')) AS t FROM documents
        ),
        hashed AS (SELECT t, {hash60_sql("t")} % {CMS_PRIME} AS h FROM toks),
        lanes AS (SELECT h, l.range AS lane FROM hashed, range({CMS_DEPTH}) l),
        sketch AS (
          SELECT lane,
                 ((lane * 2 + 3) * h + (lane * 5 + 7)) % {CMS_PRIME} % {CMS_WIDTH} AS bucket,
                 count(*) AS cnt
          FROM lanes GROUP BY 1, 2
        ),
        top AS (
          SELECT t, count(*) AS exact_n, min({hash60_sql("t")} % {CMS_PRIME}) AS h
          FROM toks GROUP BY t
          ORDER BY exact_n DESC, t ASC LIMIT {CMS_TOP_K}
        )
        SELECT top.t                          AS token,
               top.exact_n                    AS exact_n,
               min(s.cnt)                     AS cms_estimate,
               min(s.cnt) - top.exact_n       AS overestimate
        FROM top
        CROSS JOIN range({CMS_DEPTH}) l
        JOIN sketch s
          ON s.lane = l.range
         AND s.bucket = ((l.range * 2 + 3) * top.h + (l.range * 5 + 7)) % {CMS_PRIME} % {CMS_WIDTH}
        GROUP BY top.t, top.exact_n
        """,
    tags=("approx", "sketch", "heavy-hitters"),
)
def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream, probed at the exact top-k.

    The mergeable-sketch pattern HLL/quantile sketches (q_approx_stats)
    don't show: a count-min sketch IS a DataFrame — (lane, bucket, cnt)
    with depth x width rows — built by one groupBy whose map-side partials
    are the per-partition sketches and whose shuffle merges them (sketch
    merge = cell-wise add = the partial aggregation Spark already does).
    The shuffle carries at most depth*width rows per partition regardless
    of corpus size, the sketch broadcasts anywhere, and point queries are
    min-over-lanes lookups. Unlike approx_percentile's engine-internal
    sketch, every cell is a deterministic md5-lane count, so DuckDB builds
    the bit-identical sketch and the driver hash-gates ALL of it — the
    overestimate column (always >= 0, the CMS one-sided error bound) is
    checked exactly, not just bounded.

    The exact top-k probe set doubles as the accuracy baseline: estimates
    for heavy tokens must equal-or-exceed their true counts, with the
    overage showing real collision noise (width is sized below the fixture
    vocabulary on purpose — see CMS_WIDTH). Hashing cost is one md5 per
    token; the per-lane buckets derive from that base value through an
    affine pairwise-independent family (_cms_bucket).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"))
    hashed = toks.select((hash60(F.col("t")) % CMS_PRIME).alias("h"))
    lanes = hashed.select(
        "h", F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("lane")
    )
    lane_bucket = _cms_bucket(F.col("lane"), F.col("h"))
    sketch = (
        lanes.select("lane", lane_bucket.alias("bucket"))
        .groupBy("lane", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        toks.groupBy("t")
        .agg(
            F.count("*").alias("exact_n"),
            F.min(hash60(F.col("t")) % CMS_PRIME).alias("h"),
        )
        .orderBy(F.col("exact_n").desc(), F.col("t").asc())
        .limit(CMS_TOP_K)
    )
    probe = top.crossJoin(
        F.broadcast(
            spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("lane"))
        )
    ).select(
        "t",
        "exact_n",
        "lane",
        _cms_bucket(F.col("lane"), F.col("h")).alias("bucket"),
    )
    return (
        probe.join(F.broadcast(sketch), ["lane", "bucket"])
        .groupBy(F.col("t").alias("token"), "exact_n")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "token",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).alias("overestimate"),
        )
    )
