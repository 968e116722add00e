"""Z-order (multi-dimensional) writer layout vs linear sort (SURVEY.md §2.6).

The reference's writer-organization experiment (tab0_content.txt:120-224)
proves a 1-D lesson: sort by (partition_date, partition_hour) before write
and date-predicate row-group skipping goes from ~0% to ~99%. Its own data
exposes the limitation the reference never tests: a linear sort makes the
*secondary* key useless — every row group still spans nearly all 24 hours,
so an hour-selective query scans everything.

The scale answer (Iceberg `rewrite_data_files(strategy=>'sort',
sort_order=>'zorder(date,hour)')`) is bit-interleaved ordering: left-align
both dimensions to the same bit width, interleave most-significant bits
first, and sort by the resulting key. Row groups then cover compact 2-D
rectangles, so min/max stats prune on EITHER dimension.

q_zorder runs the experiment: assign 100-entry row groups under both
layouts, keep per-group min/max of both dimensions, probe with three
predicate families (date-window, hour-window, combined), and report the
skip rate per (layout, family). Everything is integer arithmetic — exact
DuckDB parity — and the whole query is one scan of a *metadata* table
ranked under both layouts plus one aggregation: at 100 TB (< 1M manifest
rows) the global ordering windows model the single writer laying out row
groups, same as q_skip_rate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import DATE_DOMAIN_DAYS, EPOCH_DATE, ROW_GROUP_ENTRIES, file_meta, with_fixtures
from ..core.registry import register

D_BITS = 11  # day index 0..1825
H_BITS = 5  # hour 0..23
H_ALIGN = D_BITS - H_BITS  # left-align hour to the day width

N_PROBES_PER_FAMILY = 50
DATE_WINDOW = 32
HOUR_WINDOW = 4
COMBO_DATE_WINDOW = 180


def _zkey_col(d: Column, h: Column) -> Column:
    """Bit-interleaved z-key of (day_index, hour), MSB-first, hour left-aligned.

    day bit i lands at position 2i; hour bit b (worth 2^b) is first aligned to
    day scale (position b + H_ALIGN) and lands one above its day twin. All
    shifts are literal, so the whole key stays inside whole-stage codegen.
    """
    key = F.lit(0).cast("bigint")
    for i in range(D_BITS):
        key = key + F.shiftright(d, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
    for b in range(H_BITS):
        key = key + F.shiftright(h, b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * (b + H_ALIGN) + 1))
    return key


def _zkey_sql(d: str, h: str) -> str:
    terms = [f"(({d} >> {i}) & 1) * {1 << (2 * i)}" for i in range(D_BITS)]
    terms += [f"(({h} >> {b}) & 1) * {1 << (2 * (b + H_ALIGN) + 1)}" for b in range(H_BITS)]
    return " + ".join(terms)


# probe families: (family, date window days or full domain, hour window or full day)
_PROBES_SQL = f"""
  SELECT 'date{DATE_WINDOW}' AS family,
         CAST((p.range * 53) % {DATE_DOMAIN_DAYS - DATE_WINDOW} AS BIGINT) AS lo_d,
         CAST((p.range * 53) % {DATE_DOMAIN_DAYS - DATE_WINDOW} + {DATE_WINDOW - 1} AS BIGINT) AS hi_d,
         CAST(0 AS BIGINT) AS lo_h, CAST(23 AS BIGINT) AS hi_h
  FROM range({N_PROBES_PER_FAMILY}) p
  UNION ALL
  SELECT 'hour{HOUR_WINDOW}' AS family,
         CAST(0 AS BIGINT), CAST({DATE_DOMAIN_DAYS - 1} AS BIGINT),
         CAST((p.range * 5) % {24 - HOUR_WINDOW} AS BIGINT),
         CAST((p.range * 5) % {24 - HOUR_WINDOW} + {HOUR_WINDOW - 1} AS BIGINT)
  FROM range({N_PROBES_PER_FAMILY}) p
  UNION ALL
  SELECT 'date{COMBO_DATE_WINDOW}_hour{HOUR_WINDOW}' AS family,
         CAST((p.range * 97) % {DATE_DOMAIN_DAYS - COMBO_DATE_WINDOW} AS BIGINT),
         CAST((p.range * 97) % {DATE_DOMAIN_DAYS - COMBO_DATE_WINDOW} + {COMBO_DATE_WINDOW - 1} AS BIGINT),
         CAST((p.range * 5) % {24 - HOUR_WINDOW} AS BIGINT),
         CAST((p.range * 5) % {24 - HOUR_WINDOW} + {HOUR_WINDOW - 1} AS BIGINT)
  FROM range({N_PROBES_PER_FAMILY}) p
"""


def _probes() -> Column:
    """The 150 probes, ``N_PROBES_PER_FAMILY`` per family, as one array of
    (family, lo_d, hi_d, lo_h, hi_h) structs generated inline on the
    row-group side instead of a broadcast relation crossed in by a
    nested-loop join. Probe ``i`` of each family uses ``_PROBES_SQL``'s
    formulas on ``p.range``."""
    big = lambda v: F.lit(v).cast("bigint")  # noqa: E731

    def probe(family, lo_d, hi_d, lo_h, hi_h):
        return F.struct(
            F.lit(family).alias("family"),
            lo_d.alias("lo_d"),
            hi_d.alias("hi_d"),
            lo_h.alias("lo_h"),
            hi_h.alias("hi_h"),
        )

    def families(i):
        d = (i * 53) % (DATE_DOMAIN_DAYS - DATE_WINDOW)
        c = (i * 97) % (DATE_DOMAIN_DAYS - COMBO_DATE_WINDOW)
        h = (i * 5) % (24 - HOUR_WINDOW)
        return F.array(
            probe(f"date{DATE_WINDOW}", d, d + (DATE_WINDOW - 1), big(0), big(23)),
            probe(f"hour{HOUR_WINDOW}", big(0), big(DATE_DOMAIN_DAYS - 1), h, h + (HOUR_WINDOW - 1)),
            probe(
                f"date{COMBO_DATE_WINDOW}_hour{HOUR_WINDOW}",
                c,
                c + (COMBO_DATE_WINDOW - 1),
                h,
                h + (HOUR_WINDOW - 1),
            ),
        )

    return F.flatten(F.transform(F.sequence(big(0), big(N_PROBES_PER_FAMILY - 1)), families))


_DIMS_SQL = f"""
    SELECT file_id, partition_hour AS h,
           (partition_date - DATE '{EPOCH_DATE}') AS d
    FROM file_meta
"""

_ZORDER_RG_SQL = f"""
  SELECT layout, rg_id,
         min(d) AS min_d, max(d) AS max_d,
         min(h) AS min_h, max(h) AS max_h
  FROM (
    SELECT 'linear' AS layout, d, h,
           CAST(floor((row_number() OVER (ORDER BY d, h, file_id) - 1) / {ROW_GROUP_ENTRIES}) AS BIGINT) AS rg_id
    FROM ({_DIMS_SQL})
    UNION ALL
    SELECT 'zorder' AS layout, d, h,
           CAST(floor((row_number() OVER (ORDER BY {_zkey_sql("d", "h")}, file_id) - 1) / {ROW_GROUP_ENTRIES}) AS BIGINT) AS rg_id
    FROM ({_DIMS_SQL})
  )
  GROUP BY layout, rg_id
"""


def _layout_row_groups_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row groups of both layouts with per-group (d, h) bounds; like
    manifests._layout_row_groups, both global row numbers come from one
    select over one SinglePartition exchange."""
    fm = file_meta(spark, sf_dir)
    dims = fm.select(
        "file_id",
        F.col("partition_hour").cast("bigint").alias("h"),
        F.datediff("partition_date", F.to_date(F.lit(EPOCH_DATE))).cast("bigint").alias("d"),
    )
    rg_id = lambda w: F.floor((F.row_number().over(w) - 1) / ROW_GROUP_ENTRIES)  # noqa: E731
    ranked = dims.select(
        "d",
        "h",
        rg_id(Window.orderBy("d", "h", "file_id")).alias("rg_linear"),
        rg_id(Window.orderBy(_zkey_col(F.col("d"), F.col("h")), F.col("file_id"))).alias("rg_zorder"),
    )
    layouts = F.array(
        F.struct(F.lit("linear").alias("layout"), F.col("rg_linear").alias("rg_id")),
        F.struct(F.lit("zorder").alias("layout"), F.col("rg_zorder").alias("rg_id")),
    )
    return (
        ranked.select("d", "h", F.explode(layouts).alias("g"))
        .groupBy("g.layout", "g.rg_id")
        .agg(
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.min("h").alias("min_h"),
            F.max("h").alias("max_h"),
        )
    )


@register(
    "q_zorder",
    oracle=with_fixtures(
        f"""
        SELECT layout, family,
               count(DISTINCT rg_id)        AS n_row_groups,
               count(*)                     AS checks,
               CAST(sum(skipped) AS BIGINT) AS skipped,
               sum(skipped) / count(*)      AS skip_rate
        FROM (
          SELECT rg.layout, pr.family, rg.rg_id,
                 CASE WHEN pr.hi_d < rg.min_d OR pr.lo_d > rg.max_d
                        OR pr.hi_h < rg.min_h OR pr.lo_h > rg.max_h
                      THEN 1 ELSE 0 END AS skipped
          FROM ({_ZORDER_RG_SQL}) rg
          CROSS JOIN ({_PROBES_SQL}) pr
        )
        GROUP BY layout, family
        """,
        "file_meta",
    ),
    tags=("pruning", "sort", "zorder"),
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear-sort layout: 2-D row-group skip rates by predicate family.

    Extends the reference's 1-D writer-organization finding
    (tab0_content.txt:120-224) to multi-dimensional clustering: linear sort
    wins narrow date-only probes, is useless for hour probes (~0% skip);
    z-order prunes on both dimensions. The 150 probes are generated inline
    on the row-group side, and the whole query stays in the one partition of
    the layout windows' exchange.
    """
    rg = _layout_row_groups_2d(spark, sf_dir)
    checks = rg.select("*", F.inline(_probes())).withColumn(
        "skipped",
        F.when(
            (F.col("hi_d") < F.col("min_d"))
            | (F.col("lo_d") > F.col("max_d"))
            | (F.col("hi_h") < F.col("min_h"))
            | (F.col("lo_h") > F.col("max_h")),
            1,
        ).otherwise(0),
    )
    return checks.groupBy("layout", "family").agg(
        F.countDistinct("rg_id").alias("n_row_groups"),
        F.count("*").alias("checks"),
        F.sum("skipped").cast("bigint").alias("skipped"),
        (F.sum("skipped") / F.count("*")).alias("skip_rate"),
    )


# ---------------------------------------------------------------------------
# partition-spec evolution planning
# ---------------------------------------------------------------------------

BUCKETS = 16
TRUNC_WIDTH = 1000


@register(
    "q_partition_evolution",
    oracle=f"""
        WITH pairs AS (
          SELECT 'day(l_shipdate)' AS spec, CAST(l_shipdate AS VARCHAR) AS pkey
          FROM lineitem
          UNION ALL
          SELECT 'month(l_shipdate)', substr(CAST(l_shipdate AS VARCHAR), 1, 7)
          FROM lineitem
          UNION ALL
          SELECT 'bucket({BUCKETS}, l_partkey)',
                 CAST((('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % {BUCKETS}) AS VARCHAR)
          FROM lineitem
          UNION ALL
          SELECT 'truncate({TRUNC_WIDTH}, l_partkey)',
                 CAST(l_partkey - (l_partkey % {TRUNC_WIDTH}) AS VARCHAR)
          FROM lineitem
        ),
        hist AS (
          SELECT spec, pkey, count(*) AS n_rows FROM pairs GROUP BY spec, pkey
        )
        SELECT spec,
               count(*) AS n_partitions,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               MIN(n_rows) AS min_rows,
               MAX(n_rows) AS max_rows,
               CAST(MAX(n_rows) * count(*) AS DOUBLE) / CAST(SUM(n_rows) AS DOUBLE) AS skew
        FROM hist GROUP BY spec ORDER BY spec
        """,
    tags=("layout", "partitioning", "planning"),
)
def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution planning: score candidate Iceberg transforms.

    The reference hard-codes one partition spec — (partition_date,
    partition_hour), poc/utils/manifest_generator.py:107-110 — and its writer
    experiment (tab0_content.txt:120-224) shows how much layout choice
    matters. Iceberg v2 makes the spec *evolvable* (`ALTER TABLE ... SET
    PARTITION SPEC`), and this query is the analysis that decision runs on:
    for each candidate transform — identity day, month rollup,
    bucket(16) hash, truncate(1000) range — compute the partition histogram
    a writer would produce (partition count, rows per partition, skew =
    max/avg). Too many partitions ⇒ small-file storm; high skew ⇒ one hot
    writer/reader; the spec you pick is the one with bounded partitions AND
    skew ≈ 1.

    Scale: ONE scan of the two needed columns (pruned projection), exploded
    into (spec, pkey) pairs — 4 narrow rows per input row — then a two-stage
    aggregation: the (spec, pkey) histogram partial-aggregates map-side
    before its single shuffle, and the per-spec rollup moves only
    |partitions| rows. No joins, no window over the fact table; at 100 TB
    the wide shuffle carries ~4 string-pairs per lineitem row, and AQE
    coalesces the tiny final stage. bucket() uses the portable 60-bit md5
    hash (core/fixtures.py:hash60) rather than Iceberg's murmur3 — the
    histogram *shape*, not the hash identity, is what the decision needs.

    (Measured alternative: a union of 4 independent scan+agg branches runs
    ~30% faster at sf0.1 because local page-cached scans are free — but it
    reads the fact table four times, which loses by construction the moment
    the scan costs anything. One scan + explode is the 100 TB shape.)
    """
    from ..core.fixtures import hash60
    from ..core.io import load_table, order_small, spread_narrow

    date_s = F.col("l_shipdate").cast("string")
    specs = F.array(
        F.struct(F.lit("day(l_shipdate)").alias("spec"), date_s.alias("pkey")),
        F.struct(F.lit("month(l_shipdate)").alias("spec"), F.substring(date_s, 1, 7).alias("pkey")),
        F.struct(
            F.lit(f"bucket({BUCKETS}, l_partkey)").alias("spec"),
            (hash60(F.col("l_partkey").cast("string")) % BUCKETS).cast("string").alias("pkey"),
        ),
        F.struct(
            F.lit(f"truncate({TRUNC_WIDTH}, l_partkey)").alias("spec"),
            (F.col("l_partkey") - F.col("l_partkey") % TRUNC_WIDTH).cast("string").alias("pkey"),
        ),
    )
    # spread a narrow scan of the two projected columns before the md5-heavy
    # explode: the bucket() transform hashes EVERY row, which a single-row-
    # group local scan runs in one task (r12 interleaved A/B: 1.54x; no-op
    # at production split counts, and the exchange carries only the two
    # columns the specs need)
    li = spread_narrow(
        load_table(spark, sf_dir, "lineitem").select("l_shipdate", "l_partkey"),
        "l_shipdate",
        "l_partkey",
    )
    hist = (
        li.select(F.explode(specs).alias("p"))
        .select("p.spec", "p.pkey")
        .groupBy("spec", "pkey")
        .agg(F.count("*").alias("n_rows"))
    )
    return order_small(
        hist.groupBy("spec").agg(
            F.count("*").alias("n_partitions"),
            F.sum("n_rows").alias("total_rows"),
            F.min("n_rows").alias("min_rows"),
            F.max("n_rows").alias("max_rows"),
            (
                (F.max("n_rows") * F.count("*")).cast("double")
                / F.sum("n_rows").cast("double")
            ).alias("skew"),
        ),
        "spec",
    )
