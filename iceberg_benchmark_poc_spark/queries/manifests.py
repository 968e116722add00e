"""Scan-planning and pruning queries (SURVEY.md §2.1, §2.2, §2.6, §2.7).

These re-express the reference's metadata benchmarks as declarative plans:

- q_scan_flat / q_partition_filter — manifest scan + partition pruning
  (reference poc/test_adaptive_metadata_tree.py:203-211).
- q_minmax_prune — file qualification by column min/max stats
  (reference poc/test_wide_table_pruning.py:272-277).
- q_skip_rate / q_range_span / q_sorted_write — the writer-organization
  experiment: sorted vs unsorted layout -> row-group skipping
  (reference tab0_content.txt:120-224; headline 99.2x I/O reduction).
- q_scan_tree — 3-level manifest-tree planning with partition-summary pruning
  (reference poc/test_adaptive_metadata_tree.py:58-317).
- q_compaction — 100-small-manifests -> 1 rewrite accounting
  (reference poc/test_single_file_commits.py:153-194).
- q_file_stats — per-file footer statistics collection
  (reference poc/test_wide_table_pruning.py:142-180).
- q_wide_projection — narrow projection out of a wide scan; Catalyst prunes
  columns so the Parquet reader materializes only what is selected
  (reference poc/test_wide_table_pruning.py:153-191).

Scale notes: file_meta is *metadata* (one row per data file). Even a 100 TB /
128 MB-file table is < 1M manifest rows, so the global-ordering windows used
for row-group assignment are safe; they model the single writer that lays out
row groups. Data-table queries (q_file_stats, q_wide_projection) avoid
driver-side iteration entirely and keep filters/projections at the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..core.fixtures import (
    DATE_DOMAIN_DAYS,
    ENTRY_BYTES,
    EPOCH_DATE,
    FILE_ID_PAD,
    FILE_PATH_SQL,
    ROW_GROUP_ENTRIES,
    SIZE_BASE,
    SIZE_MOD,
    file_meta,
    file_path_col,
    with_fixtures,
)
from ..core.io import join_small, load_small, load_table, order_small
from ..core.registry import register
from ..operators.lifecycle import change_events, expiry_cut, visible_at

N_PROBES = 100
PROBE_STRIDE_DAYS = 18
TREE_PROBE_DATE = "2022-03-01"
MANIFEST_HEADER_BYTES = 1024

# ---------------------------------------------------------------------------
# flat scans + partition filter
# ---------------------------------------------------------------------------


@register(
    "q_scan_flat",
    oracle=with_fixtures(
        """
        SELECT file_id, file_path, partition_date, partition_hour,
               record_count, file_size_bytes
        FROM file_meta
        """,
        "file_meta",
    ),
    tags=("scan",),
)
def q_scan_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat manifest scan: project the planning-relevant entry columns."""
    return file_meta(spark, sf_dir).select(
        "file_id", "file_path", "partition_date", "partition_hour", "record_count", "file_size_bytes"
    )


@register(
    "q_partition_filter",
    oracle=with_fixtures(
        """
        SELECT file_id, file_path, partition_date, partition_hour, record_count
        FROM file_meta
        WHERE partition_date BETWEEN DATE '2022-01-01' AND DATE '2022-01-31'
        """,
        "file_meta",
    ),
    tags=("filter", "pruning"),
)
def q_partition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-equality planning: entries matching a date-range predicate.

    On a real Iceberg/parquet table this predicate never touches data files —
    Catalyst turns it into PartitionFilters. Here it is the manifest-side
    filter the reference runs per query (poc/test_adaptive_metadata_tree.py:207).
    """
    fm = file_meta(spark, sf_dir)
    return fm.filter(
        (F.col("partition_date") >= F.lit("2022-01-01").cast("date"))
        & (F.col("partition_date") <= F.lit("2022-01-31").cast("date"))
    ).select("file_id", "file_path", "partition_date", "partition_hour", "record_count")


@register(
    "q_minmax_prune",
    oracle=with_fixtures(
        """
        SELECT file_id, metric_min, metric_max
        FROM (
          SELECT file_id,
                 (file_id * 37) % 200 - 100 - 50 AS metric_min,
                 (file_id * 37) % 200 - 100      AS metric_max
          FROM file_meta
        )
        WHERE metric_max > 0
        """,
        "file_meta",
    ),
    tags=("filter", "pruning"),
)
def q_minmax_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based file qualification: keep files whose max(metric) > 0.

    This is V4 aggregated-stats pruning (reference
    poc/test_wide_table_pruning.py:272-277): the predicate is answered from
    file-level min/max without opening any footer.
    """
    fm = file_meta(spark, sf_dir)
    metric_max = (F.col("file_id") * 37) % 200 - 100
    stats = fm.select(
        "file_id",
        (metric_max - 50).alias("metric_min"),
        metric_max.alias("metric_max"),
    )
    return stats.filter(F.col("metric_max") > 0)


# ---------------------------------------------------------------------------
# writer organization: sorted vs unsorted layout -> row-group skipping
# ---------------------------------------------------------------------------


#: the row order of each writer layout: 'unsorted' = arrival (file_id)
#: order; 'sorted' = the writer sort policy the reference's Experiment A
#: measures (tab0_content.txt:120-140)
_LAYOUT_ORDER = {
    "unsorted": ("file_id",),
    "sorted": ("partition_date", "partition_hour", "file_id"),
}


def _layout_row_groups(
    fm: DataFrame, rows_per_group: int, layouts: tuple[str, ...] = tuple(_LAYOUT_ORDER)
) -> DataFrame:
    """Assign file-meta entries to ``rows_per_group``-entry row groups under
    each of ``layouts`` and aggregate stats.

    All layouts share one exchange: their global row numbers come from one
    select, so the windows sit over one SinglePartition exchange, and each
    entry then explodes into its (layout, rg_id) rows. The group-by and
    everything a caller stacks on it stay in that one partition. Ranking
    each layout in its own select costs an exchange per layout: column
    pruning gives the exchanges different children, so AQE reuses none. A
    filter on ``layout`` cannot reach below the explode, so a caller that
    needs one layout asks for that one only.
    """
    ranked = fm.select(
        "partition_date",
        *(
            F.floor((F.row_number().over(Window.orderBy(*_LAYOUT_ORDER[name])) - 1) / rows_per_group).alias(name)
            for name in layouts
        ),
    )
    rows = F.array(*(F.struct(F.lit(name).alias("layout"), F.col(name).alias("rg_id")) for name in layouts))
    return (
        ranked.select("partition_date", F.explode(rows).alias("g"))
        .groupBy("g.layout", "g.rg_id")
        .agg(
            F.min("partition_date").alias("min_date"),
            F.max("partition_date").alias("max_date"),
            F.count("*").alias("n_entries"),
        )
    )


_LAYOUT_RG_SQL = f"""
  SELECT layout, rg_id,
         min(partition_date) AS min_date,
         max(partition_date) AS max_date,
         count(*) AS n_entries
  FROM (
    SELECT 'unsorted' AS layout,
           CAST(floor((row_number() OVER (ORDER BY file_id) - 1) / {ROW_GROUP_ENTRIES}) AS BIGINT) AS rg_id,
           partition_date
    FROM file_meta
    UNION ALL
    SELECT 'sorted' AS layout,
           CAST(floor((row_number() OVER (ORDER BY partition_date, partition_hour, file_id) - 1) / {ROW_GROUP_ENTRIES}) AS BIGINT) AS rg_id,
           partition_date
    FROM file_meta
  )
  GROUP BY layout, rg_id
"""

_PROBES_SQL = f"""
  SELECT DATE '{EPOCH_DATE}' + CAST(p.range * {PROBE_STRIDE_DAYS} AS INTEGER) AS probe_date
  FROM range({N_PROBES}) p
"""


def _probe_dates() -> Column:
    """The ``N_PROBES`` probe dates as one array column, generated inline on
    the row-group side instead of a broadcast relation crossed in by a
    nested-loop join."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_PROBES - 1)),
        lambda i: F.date_add(F.to_date(F.lit(EPOCH_DATE)), i * PROBE_STRIDE_DAYS),
    )


@register(
    "q_skip_rate",
    oracle=with_fixtures(
        f"""
        SELECT layout,
               count(DISTINCT rg_id)                       AS n_row_groups,
               count(*)                                    AS checks,
               CAST(sum(skipped) AS BIGINT)                AS skipped,
               sum(skipped) / count(*)                     AS skip_rate,
               CAST(sum(CASE WHEN skipped = 0 THEN n_entries * {ENTRY_BYTES} ELSE 0 END) AS BIGINT)
                                                           AS bytes_read_total
        FROM (
          SELECT rg.layout, rg.rg_id, rg.n_entries, pr.probe_date,
                 CASE WHEN pr.probe_date < rg.min_date OR pr.probe_date > rg.max_date
                      THEN 1 ELSE 0 END AS skipped
          FROM ({_LAYOUT_RG_SQL}) rg
          CROSS JOIN ({_PROBES_SQL}) pr
        )
        GROUP BY layout
        """,
        "file_meta",
    ),
    tags=("pruning", "flagship"),
)
def q_skip_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: writer-organization row-group skip rate, sorted vs unsorted.

    For each of 100 probe dates, a row group can be skipped iff the probe
    falls outside its [min_date, max_date] (reference tab0_content.txt:200-207).
    Sorted layout packs each row group into a ~1%-of-domain date range ->
    ~99% skip rate; unsorted row groups span the whole domain -> ~0%.
    Reproduces the reference's 99.2x bytes-read reduction as a query.
    """
    return skip_rate(file_meta(spark, sf_dir), ROW_GROUP_ENTRIES)


def skip_rate(fm: DataFrame, rows_per_group: int) -> DataFrame:
    """q_skip_rate over any file-meta frame and row-group size."""
    rg = _layout_row_groups(fm, rows_per_group)
    checks = rg.select("*", F.explode(_probe_dates()).alias("probe_date")).withColumn(
        "skipped",
        F.when((F.col("probe_date") < F.col("min_date")) | (F.col("probe_date") > F.col("max_date")), 1).otherwise(0),
    )
    return checks.groupBy("layout").agg(
        F.countDistinct("rg_id").alias("n_row_groups"),
        F.count("*").alias("checks"),
        F.sum("skipped").cast("bigint").alias("skipped"),
        (F.sum("skipped") / F.count("*")).alias("skip_rate"),
        F.sum(F.when(F.col("skipped") == 0, F.col("n_entries") * ENTRY_BYTES).otherwise(0))
        .cast("bigint")
        .alias("bytes_read_total"),
    )


@register(
    "q_range_span",
    oracle=with_fixtures(
        f"""
        SELECT layout,
               count(*)                                   AS n_row_groups,
               CAST(sum(max_date - min_date) AS BIGINT)   AS total_span_days,
               sum(max_date - min_date) / count(*)        AS avg_span_days
        FROM ({_LAYOUT_RG_SQL})
        GROUP BY layout
        """,
        "file_meta",
    ),
    tags=("pruning",),
)
def q_range_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average per-row-group date-range span under each layout.

    The reference reports 99.8% of domain unsorted vs 1.0% sorted
    (tab0_content.txt:30-42); span in days is the scale-free equivalent.
    """
    rg = _layout_row_groups(file_meta(spark, sf_dir), ROW_GROUP_ENTRIES)
    span = F.datediff(F.col("max_date"), F.col("min_date"))
    return rg.groupBy("layout").agg(
        F.count("*").alias("n_row_groups"),
        F.sum(span).cast("bigint").alias("total_span_days"),
        (F.sum(span) / F.count("*")).alias("avg_span_days"),
    )


@register(
    "q_sorted_write",
    oracle=with_fixtures(
        f"""
        SELECT rg_id, min_date, max_date,
               CAST(max_date - min_date AS BIGINT) AS span_days,
               n_entries
        FROM ({_LAYOUT_RG_SQL})
        WHERE layout = 'sorted'
        """,
        "file_meta",
    ),
    tags=("sort", "write"),
)
def q_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group manifest of the sorted write layout.

    This is the physical outcome of ``df.sortWithinPartitions(partition_date,
    partition_hour)`` before write (Iceberg: WRITE ORDERED BY): contiguous,
    narrow min/max ranges per row group (reference tab0_content.txt:134).
    """
    rg = _layout_row_groups(file_meta(spark, sf_dir), ROW_GROUP_ENTRIES, ("sorted",))
    return rg.select(
        "rg_id",
        "min_date",
        "max_date",
        F.datediff(F.col("max_date"), F.col("min_date")).cast("bigint").alias("span_days"),
        "n_entries",
    )


# ---------------------------------------------------------------------------
# manifest tree planning
# ---------------------------------------------------------------------------


@register(
    "q_scan_tree",
    oracle=with_fixtures(
        f"""
        WITH sorted_entries AS (
          SELECT partition_date,
                 CAST(floor((row_number() OVER (ORDER BY partition_date, partition_hour, file_id) - 1)
                      / {ROW_GROUP_ENTRIES}) AS BIGINT) AS leaf_id
          FROM file_meta
        ),
        leaves AS (
          SELECT leaf_id, CAST(floor(leaf_id / 10) AS BIGINT) AS branch_id,
                 min(partition_date) AS min_date, max(partition_date) AS max_date,
                 count(*) AS n_entries
          FROM sorted_entries GROUP BY leaf_id
        ),
        branches AS (
          SELECT branch_id, min(min_date) AS min_date, max(max_date) AS max_date
          FROM leaves GROUP BY branch_id
        ),
        vb AS (SELECT branch_id FROM branches
               WHERE DATE '{TREE_PROBE_DATE}' BETWEEN min_date AND max_date),
        vl AS (SELECT l.leaf_id FROM leaves l JOIN vb ON l.branch_id = vb.branch_id
               WHERE DATE '{TREE_PROBE_DATE}' BETWEEN l.min_date AND l.max_date)
        SELECT
          (SELECT count(*) FROM branches)                 AS n_branches,
          (SELECT count(*) FROM leaves)                   AS n_leaves,
          (SELECT count(*) FROM vb)                       AS branches_visited,
          (SELECT count(*) FROM vl)                       AS leaves_visited,
          1 + (SELECT count(*) FROM vb) + (SELECT count(*) FROM vl)
                                                          AS manifests_read,
          (SELECT count(*) FROM sorted_entries se JOIN vl ON se.leaf_id = vl.leaf_id
           WHERE se.partition_date = DATE '{TREE_PROBE_DATE}')
                                                          AS files_matched
        """,
        "file_meta",
    ),
    tags=("scan", "tree", "pruning"),
)
def q_scan_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level manifest-tree scan planning with partition-summary pruning.

    Root -> 10-leaf branches -> 100-entry leaves over the *sorted* layout;
    each level keeps partition_date min/max summaries, so planning a
    single-date query visits root + qualifying branches + qualifying leaves
    only (reference poc/test_adaptive_metadata_tree.py:279-317 walks all of
    them linearly; Iceberg's manifest-list pruning is the native analog).
    Returns one row of planning metrics.
    """
    return scan_tree(file_meta(spark, sf_dir))


def scan_tree(fm: DataFrame) -> DataFrame:
    """q_scan_tree over any file-meta frame."""
    probe = F.to_date(F.lit(TREE_PROBE_DATE))
    w_srt = Window.orderBy("partition_date", "partition_hour", "file_id")
    entries = fm.select(
        "partition_date",
        F.floor((F.row_number().over(w_srt) - 1) / ROW_GROUP_ENTRIES).alias("leaf_id"),
    )
    # branch summaries come from a window over the leaf table (tiny), so every
    # tree-level count falls out of ONE aggregation over per-leaf flags
    # instead of five cross-joined aggregates
    w_branch = Window.partitionBy("branch_id")
    leaves = (
        entries.groupBy("leaf_id")
        .agg(
            F.min("partition_date").alias("min_date"),
            F.max("partition_date").alias("max_date"),
        )
        .withColumn("branch_id", F.floor(F.col("leaf_id") / 10))
        .withColumn("b_min", F.min("min_date").over(w_branch))
        .withColumn("b_max", F.max("max_date").over(w_branch))
        .withColumn("branch_hit", (probe >= F.col("b_min")) & (probe <= F.col("b_max")))
        .withColumn(
            "leaf_hit",
            F.col("branch_hit") & (probe >= F.col("min_date")) & (probe <= F.col("max_date")),
        )
    )
    tree_counts = leaves.agg(
        F.countDistinct("branch_id").alias("n_branches"),
        F.count("*").alias("n_leaves"),
        F.countDistinct(F.when(F.col("branch_hit"), F.col("branch_id"))).alias("branches_visited"),
        # a count, not a sum: over no leaves it is 0, as the oracle's count(*) is
        F.count(F.when(F.col("leaf_hit"), 1)).alias("leaves_visited"),
    )
    matched = (
        join_small(entries, leaves.filter("leaf_hit").select("leaf_id"), "leaf_id")
        .filter(F.col("partition_date") == probe)
        .agg(F.count("*").alias("files_matched"))
    )
    return tree_counts.crossJoin(matched).select(
        "n_branches",
        "n_leaves",
        "branches_visited",
        "leaves_visited",
        (F.lit(1) + F.col("branches_visited") + F.col("leaves_visited")).alias("manifests_read"),
        "files_matched",
    )


# ---------------------------------------------------------------------------
# compaction accounting
# ---------------------------------------------------------------------------


@register(
    "q_compaction",
    oracle=with_fixtures(
        f"""
        SELECT 'before' AS stage,
               count(DISTINCT file_id % 100)                    AS n_manifests,
               count(*)                                         AS n_entries,
               CAST(count(*) * {ENTRY_BYTES}
                    + count(DISTINCT file_id % 100) * {MANIFEST_HEADER_BYTES} AS BIGINT)
                                                                AS total_bytes
        FROM file_meta
        UNION ALL
        SELECT 'after' AS stage,
               1                                                AS n_manifests,
               count(*)                                         AS n_entries,
               CAST(count(*) * {ENTRY_BYTES} + {MANIFEST_HEADER_BYTES} AS BIGINT)
                                                                AS total_bytes
        FROM file_meta
        """,
        "file_meta",
    ),
    tags=("compaction", "set-ops"),
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest compaction accounting: 100 small manifests -> 1.

    The union-all of per-manifest entries into a single compacted manifest is
    the relational core of Iceberg's rewrite_manifests (reference
    poc/test_single_file_commits.py:153-194). Output: before/after manifest
    count, entry count, and bytes (entries x 200B + 1KB header each).
    """
    fm = file_meta(spark, sf_dir).withColumn("manifest_id", F.col("file_id") % 100)
    before = fm.agg(
        F.countDistinct("manifest_id").alias("n_manifests"),
        F.count("*").alias("n_entries"),
    ).select(
        F.lit("before").alias("stage"),
        "n_manifests",
        "n_entries",
        (F.col("n_entries") * ENTRY_BYTES + F.col("n_manifests") * MANIFEST_HEADER_BYTES)
        .cast("bigint")
        .alias("total_bytes"),
    )
    after = fm.agg(F.count("*").alias("n_entries")).select(
        F.lit("after").alias("stage"),
        F.lit(1).cast("bigint").alias("n_manifests"),
        "n_entries",
        (F.col("n_entries") * ENTRY_BYTES + MANIFEST_HEADER_BYTES).cast("bigint").alias("total_bytes"),
    )
    return before.unionByName(after)


# ---------------------------------------------------------------------------
# per-file footer stats + wide projection (real data table)
# ---------------------------------------------------------------------------


@register(
    "q_file_stats",
    oracle="""
        SELECT
          CAST(l_orderkey % 50 AS INTEGER)                AS file_id,
          count(*)                                        AS record_count,
          min(CAST(l_shipdate AS DATE))                   AS min_shipdate,
          max(CAST(l_shipdate AS DATE))                   AS max_shipdate,
          CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
          count(DISTINCT l_returnflag)                    AS n_flags
        FROM lineitem
        GROUP BY 1
        """,
    tags=("agg", "stats"),
)
def q_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file column statistics (footer stats collection as a query).

    Files are synthesized as l_orderkey % 50 buckets; the aggregate mirrors
    what a Parquet writer records per file: row count, min/max, sums
    (reference poc/test_wide_table_pruning.py:142-180 reads these back from
    footers; Iceberg surfaces them as tbl.files readable_metrics).
    Map-side partial aggregation makes this one shuffle of 50 rows at any SF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy((F.col("l_orderkey") % 50).cast("int").alias("file_id"))
        .agg(
            F.count("*").alias("record_count"),
            F.min(F.to_date("l_shipdate")).alias("min_shipdate"),
            F.max(F.to_date("l_shipdate")).alias("max_shipdate"),
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double").alias("sum_qty"),
            F.countDistinct("l_returnflag").alias("n_flags"),
        )
    )


@register(
    "q_wide_projection",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
        """,
    tags=("scan", "projection"),
)
def q_wide_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow projection + pushed filter out of a wider table.

    Catalyst column pruning means the Parquet scan materializes 3 of 11
    columns (check ReadSchema in explain()); the date predicate is pushed to
    row-group stats. This is the V4 wide-table lesson (reference
    poc/test_wide_table_pruning.py:153-191) expressed natively.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") <= F.lit("1996-03-31").cast("date"))
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@register(
    "q_manifest_json",
    oracle="""
        SELECT substr(json_extract_string(doc, '$.committed'), 1, 7) AS month,
               count(*)                                              AS n_files,
               CAST(sum(CAST(json_extract(doc, '$.records') AS BIGINT)) AS BIGINT)
                                                                     AS total_records,
               max(length(json_extract_string(doc, '$.path')))       AS max_path_len
        FROM (
          SELECT printf(
                   '{"path":"s3://tbl/data/f%08d.parquet","records":%d,"committed":"%s"}',
                   o_orderkey,
                   1000 + o_orderkey % 5000,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
                 ) AS doc
          FROM orders
        )
        GROUP BY 1
        """,
    tags=("scan", "json", "manifests"),
)
def q_manifest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON manifest-entry parse: serialize, re-parse, aggregate (§2.8 JSON).

    The reference round-trips manifest entries through json.dumps/json.load
    (poc/test_single_file_commits.py:84-95, poc/test_adaptive_metadata_tree.py
    :203-211); here the same round-trip stays inside the engine: entries are
    rendered to JSON text with format_string, re-parsed with from_json
    against an explicit schema (never schema inference on a big table), and
    the *parsed* fields drive a monthly rollup. Parse and aggregate are both
    JVM-side inside whole-stage codegen — at 100 TB the parse cost is the
    scan cost, with no Python in the loop.
    """
    o = load_table(spark, sf_dir, "orders")
    docs = o.select(
        F.format_string(
            '{"path":"s3://tbl/data/f%08d.parquet","records":%d,"committed":"%s"}',
            F.col("o_orderkey"),
            F.lit(1000) + F.col("o_orderkey") % 5000,
            F.to_date("o_orderdate").cast("string"),
        ).alias("doc")
    )
    parsed = docs.select(
        F.from_json("doc", "path STRING, records BIGINT, committed STRING").alias("m")
    )
    return parsed.groupBy(F.substring("m.committed", 1, 7).alias("month")).agg(
        F.count("*").alias("n_files"),
        F.sum("m.records").alias("total_records"),
        # bigint to match DuckDB's max(length(...)) — the driver hashes
        # TYPED values, and the local gate collapses int widths, so an
        # int32-vs-int64 mismatch is only visible driver-side (r01 red row)
        F.max(F.length("m.path")).cast("bigint").alias("max_path_len"),
    )


# ---------------------------------------------------------------------------
# snapshot lineage: time travel + incremental (CDC-shaped) reads
# ---------------------------------------------------------------------------

#: snapshot-lineage geometry: each file is added at one of N_SNAPSHOTS
#: commits and (possibly) removed at a later one; a removed_snap beyond the
#: log means the file is still live. Modular multipliers follow the fixture
#: determinism rules (FIXTURES.md).
N_SNAPSHOTS = 20
TRAVEL_SNAP = 12  # q_time_travel reconstructs table state as of this commit
DIFF_LO, DIFF_HI = 8, 15  # q_snapshot_diff reads the (LO, HI] commit window

_LINEAGE_SQL = f"""
          SELECT file_id, partition_date, record_count, file_size_bytes,
                 (file_id * 31) % {N_SNAPSHOTS}                            AS added_snap,
                 (file_id * 31) % {N_SNAPSHOTS} + 1 + (file_id * 17) % 25  AS removed_snap
          FROM file_meta
"""


def _lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    fm = file_meta(spark, sf_dir)
    fid = F.col("file_id")
    return fm.select(
        "file_id",
        "partition_date",
        "record_count",
        "file_size_bytes",
        ((fid * 31) % N_SNAPSHOTS).alias("added_snap"),
        ((fid * 31) % N_SNAPSHOTS + 1 + (fid * 17) % 25).alias("removed_snap"),
    )


@register(
    "q_time_travel",
    oracle=with_fixtures(
        f"""
        WITH lineage AS ({_LINEAGE_SQL}
        )
        SELECT CAST(EXTRACT(year FROM partition_date) AS INTEGER) AS part_year,
               count(*)                                AS n_files,
               CAST(sum(record_count) AS BIGINT)       AS total_records,
               CAST(sum(file_size_bytes) AS BIGINT)    AS total_bytes
        FROM lineage
        WHERE added_snap <= {TRAVEL_SNAP} AND removed_snap > {TRAVEL_SNAP}
        GROUP BY 1
        """,
        "file_meta",
    ),
    tags=("scan", "snapshot", "timetravel"),
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reconstruct table state AS OF a past snapshot.

    Iceberg answers ``VERSION AS OF`` by reading the manifest list of one
    snapshot; with lineage modeled as (added_snap, removed_snap) intervals
    per file, the same answer is a pure metadata filter — a file is visible
    iff added <= s < removed — then a rollup of the visible files. No data
    file is touched: like the reference's stats-based planning
    (poc/test_wide_table_pruning.py:193-277), the query runs entirely
    against manifest rows, O(|files|) with one small aggregate shuffle.
    """
    lin = _lineage(spark, sf_dir)
    return (
        visible_at(lin, TRAVEL_SNAP)
        .groupBy(F.year("partition_date").alias("part_year"))
        .agg(
            F.count("*").alias("n_files"),
            F.sum("record_count").alias("total_records"),
            F.sum("file_size_bytes").alias("total_bytes"),
        )
    )


@register(
    "q_snapshot_diff",
    oracle=with_fixtures(
        f"""
        WITH lineage_all AS ({_LINEAGE_SQL}
        ),
        -- empty visibility intervals (added and removed in the same commit)
        -- change no snapshot's state, so they emit no event — mirrors the
        -- engine-side filter in operators/lifecycle.py:change_events rather
        -- than relying on the fixture never producing such rows (r05 advice)
        lineage AS (
          SELECT * FROM lineage_all WHERE added_snap < removed_snap
        ),
        events AS (
          SELECT added_snap AS snap, 1 AS is_add, record_count, file_size_bytes
          FROM lineage
          WHERE added_snap > {DIFF_LO} AND added_snap <= {DIFF_HI}
          UNION ALL
          SELECT removed_snap AS snap, 0 AS is_add, record_count, file_size_bytes
          FROM lineage
          WHERE removed_snap > {DIFF_LO} AND removed_snap <= {DIFF_HI}
        )
        SELECT snap,
               CAST(sum(is_add) AS BIGINT)     AS n_added,
               CAST(sum(1 - is_add) AS BIGINT) AS n_removed,
               CAST(sum(CASE WHEN is_add = 1 THEN record_count ELSE -record_count END)
                    AS BIGINT)                 AS net_records,
               CAST(sum(CASE WHEN is_add = 1 THEN file_size_bytes ELSE -file_size_bytes END)
                    AS BIGINT)                 AS net_bytes
        FROM events
        GROUP BY 1
        """,
        "file_meta",
    ),
    tags=("scan", "snapshot", "cdc"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read: per-commit change feed over a snapshot window.

    The CDC shape of Iceberg's incremental scan (changes between snapshots
    LO and HI): every file contributes an add event at its commit and a
    remove event if it was dropped inside the window; the per-snapshot
    rollup gives the net growth stream a downstream consumer would ingest.
    The event stream is a union of two filtered projections of the same
    manifest scan — Spark evaluates both branches from one shuffle-free
    pass each, and the aggregate is the only exchange.
    """
    lin = _lineage(spark, sf_dir)
    events = change_events(lin, DIFF_LO, DIFF_HI)
    sign = F.when(F.col("is_add") == 1, F.lit(1)).otherwise(F.lit(-1))
    return events.groupBy("snap").agg(
        F.sum("is_add").alias("n_added"),
        F.sum(1 - F.col("is_add")).alias("n_removed"),
        F.sum(sign * F.col("record_count")).alias("net_records"),
        F.sum(sign * F.col("file_size_bytes")).alias("net_bytes"),
    )


# ---------------------------------------------------------------------------
# binpack compaction planning
# ---------------------------------------------------------------------------

#: rewrite-group target, Iceberg's write.target-file-size-bytes default
BINPACK_TARGET_BYTES = 512 * 1024 * 1024


@register(
    "q_binpack_plan",
    oracle=with_fixtures(
        f"""
        WITH cand AS (
          SELECT partition_date, file_id, file_size_bytes,
                 SUM(file_size_bytes) OVER (
                   PARTITION BY partition_date ORDER BY file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - file_size_bytes AS start_off
          FROM file_meta
        )
        SELECT partition_date,
               CAST(start_off // {BINPACK_TARGET_BYTES} AS INTEGER) AS group_id,
               count(*) AS n_files,
               CAST(SUM(file_size_bytes) AS BIGINT) AS group_bytes,
               MIN(file_id) AS first_file_id,
               MAX(file_id) AS last_file_id
        FROM cand
        GROUP BY partition_date, group_id
        ORDER BY partition_date, group_id
        """,
        "file_meta",
    ),
    tags=("compaction", "planning", "window"),
)
def q_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binpack compaction plan: group small files into target-size rewrites.

    The reference measures compaction only as manifest-entry union
    (poc/test_single_file_commits.py:153-194 — q_compaction's accounting);
    the *data-file* half of the story is Iceberg's
    `rewrite_data_files(strategy => 'binpack')`, which first plans: within
    each partition, pack undersized files (every 64-192 MiB fixture file
    sits under the default 384 MiB candidate threshold) into groups of
    ~512 MiB — one rewrite task per group. This query emits that plan:
    next-fit by commit order, a file joins group k when its starting byte
    offset in the partition's running total falls in [k*target, (k+1)*target).

    Scale: one scan of three metadata columns, one shuffle to co-locate each
    partition's files (the window partitions by partition_date), then the
    group-id assignment and the per-group rollup in place. The final ORDER
    BY (``order_small``) runs that stage in one task over the one-row-per-
    file window input: 2 jobs instead of 4, and faster at sf0.1 in an
    interleaved A/B than the range-partitioned sort. Planning cost is
    O(|files|) rows of metadata regardless of table bytes — the same reason
    Iceberg plans 100 TB rewrites on the driver in seconds.
    """
    start_off = F.sum("file_size_bytes").over(
        Window.partitionBy("partition_date").orderBy("file_id").rowsBetween(Window.unboundedPreceding, 0)
    ) - F.col("file_size_bytes")
    groups = (
        file_meta(spark, sf_dir)
        .select("partition_date", "file_id", "file_size_bytes")
        .withColumn("start_off", start_off)
        .withColumn("group_id", F.expr(f"int(start_off div {BINPACK_TARGET_BYTES})"))
        .groupBy("partition_date", "group_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("file_size_bytes").alias("group_bytes"),
            F.min("file_id").alias("first_file_id"),
            F.max("file_id").alias("last_file_id"),
        )
    )
    return order_small(groups, "partition_date", "group_id")


# ---------------------------------------------------------------------------
# snapshot expiry planning
# ---------------------------------------------------------------------------

#: expire the oldest 30% of the snapshot-id range (integer arithmetic so the
#: cutoff is identical in both engines at every scale factor)
EXPIRE_PCT = 30


@register(
    "q_expire_snapshots",
    oracle=with_fixtures(
        f"""
        WITH scoped AS (
          SELECT partition_date, file_size_bytes, snapshot_id,
                 MIN(snapshot_id) OVER () AS min_snap,
                 MAX(snapshot_id) OVER () AS max_snap
          FROM file_meta
        )
        SELECT substr(CAST(partition_date AS VARCHAR), 1, 7) AS month,
               count(*) FILTER (WHERE snapshot_id <= min_snap + ((max_snap - min_snap) * {EXPIRE_PCT}) // 100)
                 AS n_expired_files,
               CAST(COALESCE(SUM(file_size_bytes) FILTER (
                 WHERE snapshot_id <= min_snap + ((max_snap - min_snap) * {EXPIRE_PCT}) // 100), 0) AS BIGINT)
                 AS bytes_reclaimed,
               count(*) FILTER (WHERE snapshot_id > min_snap + ((max_snap - min_snap) * {EXPIRE_PCT}) // 100)
                 AS n_live_files
        FROM scoped
        GROUP BY month
        ORDER BY month
        """,
        "file_meta",
    ),
    tags=("maintenance", "snapshots", "planning"),
)
def q_expire_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry planning: files and bytes reclaimed per month.

    Completes the table-maintenance trio next to q_compaction (manifest
    rewrite accounting) and q_binpack_plan (data-file rewrite grouping):
    Iceberg's `expire_snapshots` drops snapshots beyond the retention
    horizon and deletes files no longer reachable. With the fixture's
    one-snapshot-per-file lineage (poc/utils/manifest_generator.py:111 —
    snapshot_id tracks file_id), expiring the oldest {EXPIRE_PCT}% of the
    snapshot-id range marks exactly those files; the query reports, per
    partition month, how many files and bytes a GC pass would reclaim and
    how many stay live.

    Scale: the retention cutoff comes from an empty-frame min/max window —
    on metadata-scale input (one row per file) the single-partition window
    is the documented exception to the no-global-window rule, and the rest
    is one map-side-combined aggregation. No joins, so no broadcast of a
    scalar subquery (keeps the plan nested-loop free).
    """
    # integer-exact cutoff, matching the oracle's `// 100` by construction:
    # float `/ 100` + floor was only accidentally equal while magnitudes
    # kept the representation error below 0.01 (the module invariant is
    # integer arithmetic). See operators/lifecycle.py expiry_cut.
    expired = F.col("snapshot_id") <= expiry_cut(EXPIRE_PCT)
    return order_small(
        file_meta(spark, sf_dir)
        .select("partition_date", "file_size_bytes", "snapshot_id")
        .withColumn("expired", expired)
        .groupBy(F.substring(F.col("partition_date").cast("string"), 1, 7).alias("month"))
        .agg(
            F.count(F.when(F.col("expired"), 1)).alias("n_expired_files"),
            F.coalesce(F.sum(F.when(F.col("expired"), F.col("file_size_bytes"))), F.lit(0)).alias(
                "bytes_reclaimed"
            ),
            F.count(F.when(~F.col("expired"), 1)).alias("n_live_files"),
        ),
        "month",
    )


# ---------------------------------------------------------------------------
# orphan-file cleanup planning (remove_orphan_files)
# ---------------------------------------------------------------------------

#: fraction of commits that left behind an uncommitted write attempt
#: (integer gate: (file_id * 13) % 10 < 2 -> 20% of files)
ORPHAN_ATTEMPT_MOD, ORPHAN_ATTEMPT_LT = 10, 2
#: staging blobs abandoned by failed commit coordination (4% of commits)
STAGING_MOD = 25
#: only orphans older than this share of the mtime domain are deletable —
#: Iceberg's `older_than` guard against deleting in-flight writes
ORPHAN_AGE_PCT = 70
_ORPHAN_CUT_DAYS = (DATE_DOMAIN_DAYS * ORPHAN_AGE_PCT) // 100
#: ~0.1% of committed objects vanished from storage (corruption / fat-finger
#: deletes) — the sliver q_table_fsck exists to find. Excluding them from
#: the listing leaves q_orphan_files unchanged: a committed path never
#: survives its anti-join whether or not the object is present.
LOST_MOD = 997

_ATTEMPT_PATH_SQL = (
    "'s3://bucket/table/data/file_' || "
    f"lpad(CAST(o_orderkey AS VARCHAR), {FILE_ID_PAD}, '0') || '-attempt-0.parquet'"
)
_STAGING_PATH_SQL = "'s3://bucket/table/_staging/commit_' || CAST(o_orderkey AS VARCHAR) || '.avro'"
_MTIME_SQL = f"DATE '{EPOCH_DATE}' + CAST((o_orderkey * 7919) % {DATE_DOMAIN_DAYS} AS INTEGER)"


def _storage_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store listing of the table location: every committed data file
    still present (a {1/LOST_MOD} sliver has vanished — q_table_fsck's
    quarry) plus the deterministic debris a real table accumulates —
    orphaned write attempts (task retries whose commit lost) and abandoned
    staging blobs. Sizes/mtimes use the same integer generators as
    ``file_meta`` so the committed rows describe the same physical files.
    A listing is file-inventory metadata, so it loads through ``load_small``
    as the fixture relations do: over one row group the union of its three
    parts is one partition too, and its joins and group-bys plan no
    exchange."""
    o = load_small(spark, sf_dir, "orders").select("o_orderkey")
    fid = F.col("o_orderkey")
    mtime = F.date_add(
        F.to_date(F.lit(EPOCH_DATE)), ((fid * 7919) % DATE_DOMAIN_DAYS).cast("int")
    ).alias("mtime")
    committed = o.where((fid * 19) % LOST_MOD != 0).select(
        file_path_col(fid).alias("path"),
        (F.lit(SIZE_BASE) + (fid * 104729) % SIZE_MOD).alias("size_bytes"),
        mtime,
    )
    attempts = o.where((fid * 13) % ORPHAN_ATTEMPT_MOD < ORPHAN_ATTEMPT_LT).select(
        F.concat(
            F.lit("s3://bucket/table/data/file_"),
            F.lpad(fid.cast("string"), FILE_ID_PAD, "0"),
            F.lit("-attempt-0.parquet"),
        ).alias("path"),
        (F.lit(1000) + (fid * 37) % 500_000).alias("size_bytes"),
        mtime,
    )
    staging = o.where((fid * 7) % STAGING_MOD == 0).select(
        F.concat(
            F.lit("s3://bucket/table/_staging/commit_"), fid.cast("string"), F.lit(".avro")
        ).alias("path"),
        (F.lit(200) + (fid * 11) % 4000).alias("size_bytes"),
        mtime,
    )
    return committed.unionByName(attempts).unionByName(staging)


@register(
    "q_orphan_files",
    oracle=with_fixtures(
        f"""
        WITH listing AS (
          SELECT {FILE_PATH_SQL} AS path,
                 {SIZE_BASE} + (o_orderkey * 104729) % {SIZE_MOD} AS size_bytes,
                 {_MTIME_SQL} AS mtime
          FROM orders WHERE (o_orderkey * 19) % {LOST_MOD} != 0
          UNION ALL
          SELECT {_ATTEMPT_PATH_SQL},
                 1000 + (o_orderkey * 37) % 500000,
                 {_MTIME_SQL}
          FROM orders WHERE (o_orderkey * 13) % {ORPHAN_ATTEMPT_MOD} < {ORPHAN_ATTEMPT_LT}
          UNION ALL
          SELECT {_STAGING_PATH_SQL},
                 200 + (o_orderkey * 11) % 4000,
                 {_MTIME_SQL}
          FROM orders WHERE (o_orderkey * 7) % {STAGING_MOD} = 0
        ),
        orphans AS (
          SELECT l.* FROM listing l
          WHERE NOT EXISTS (SELECT 1 FROM file_meta m WHERE m.file_path = l.path)
        )
        SELECT substr(CAST(mtime AS VARCHAR), 1, 7) AS month,
               count(*) AS n_orphans,
               CAST(SUM(size_bytes) AS BIGINT) AS orphan_bytes,
               count(*) FILTER (WHERE mtime < DATE '{EPOCH_DATE}' + {_ORPHAN_CUT_DAYS})
                 AS n_deletable,
               CAST(COALESCE(SUM(size_bytes) FILTER (
                 WHERE mtime < DATE '{EPOCH_DATE}' + {_ORPHAN_CUT_DAYS}), 0) AS BIGINT)
                 AS bytes_deletable
        FROM orphans
        GROUP BY month
        ORDER BY month
        """,
        "file_meta",
    ),
    tags=("maintenance", "gc", "anti-join"),
)
def q_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file cleanup planning: Iceberg's ``remove_orphan_files``.

    Completes the maintenance quartet next to q_compaction (manifest
    rewrite), q_binpack_plan (data-file rewrite) and q_expire_snapshots
    (snapshot GC): list the table's storage location, anti-join the paths
    every live snapshot references, and report — per mtime month — how
    much unreferenced debris exists and how much is old enough to delete
    under the ``older_than`` safety horizon (in-flight writes younger than
    the horizon are listed but not deletable, exactly Iceberg's guard).

    Scale: both sides of the anti-join are file-inventory-scale (one row
    per object, not per record) and it is a pure path-equality join, so it
    shuffles on `path` and never broadcasts an assumption about which side
    is small — a 100 TB table's listing and manifest set are both in the
    millions of rows and AQE picks the strategy. One map-side-combined
    aggregation after the join; no windows, no driver-side listing loop.
    """
    listing = _storage_listing(spark, sf_dir)
    refs = file_meta(spark, sf_dir).select(F.col("file_path").alias("path"))
    # not join_small: the optimizer pushes the anti join below the listing's
    # union, so no side of it is one partition
    orphans = listing.join(refs, "path", "left_anti")
    cutoff = F.date_add(F.to_date(F.lit(EPOCH_DATE)), _ORPHAN_CUT_DAYS)
    return order_small(
        orphans.groupBy(F.substring(F.col("mtime").cast("string"), 1, 7).alias("month"))
        .agg(
            F.count("*").alias("n_orphans"),
            F.sum("size_bytes").cast("bigint").alias("orphan_bytes"),
            F.count(F.when(F.col("mtime") < cutoff, 1)).alias("n_deletable"),
            F.coalesce(F.sum(F.when(F.col("mtime") < cutoff, F.col("size_bytes"))), F.lit(0))
            .cast("bigint")
            .alias("bytes_deletable"),
        ),
        "month",
    )


@register(
    "q_table_fsck",
    oracle=with_fixtures(
        f"""
        WITH listing AS (
          SELECT {FILE_PATH_SQL} AS path
          FROM orders WHERE (o_orderkey * 19) % {LOST_MOD} != 0
          UNION ALL
          SELECT {_ATTEMPT_PATH_SQL}
          FROM orders WHERE (o_orderkey * 13) % {ORPHAN_ATTEMPT_MOD} < {ORPHAN_ATTEMPT_LT}
          UNION ALL
          SELECT {_STAGING_PATH_SQL}
          FROM orders WHERE (o_orderkey * 7) % {STAGING_MOD} = 0
        )
        SELECT substr(CAST(m.partition_date AS VARCHAR), 1, 7) AS month,
               count(*) AS n_referenced,
               count(*) FILTER (WHERE l.path IS NULL) AS n_missing,
               CAST(COALESCE(SUM(m.file_size_bytes) FILTER (WHERE l.path IS NULL), 0)
                 AS BIGINT) AS missing_bytes
        FROM file_meta m
        LEFT JOIN listing l ON m.file_path = l.path
        GROUP BY month
        ORDER BY month
        """,
        "file_meta",
    ),
    tags=("maintenance", "integrity", "join"),
)
def q_table_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table integrity audit: referenced files missing from storage.

    The mirror image of q_orphan_files and the check every migration or
    disaster-recovery runbook starts with: LEFT JOIN the manifest-referenced
    paths against the storage listing and report, per partition month, how
    many referenced objects no longer exist (and how many bytes of data
    they carried). A read would fail on each — surfacing them from metadata
    is how the table is declared healthy before a cutover.

    Scale: same file-inventory-scale path-equality join as q_orphan_files
    (shuffle on `path`, no small-side assumption) into one map-side-combined
    aggregation keyed by month. Healthy months still report (n_missing = 0)
    because the aggregation runs over the referenced side, not the missing
    sliver.
    """
    refs = file_meta(spark, sf_dir).select(
        F.col("file_path").alias("path"), "file_size_bytes", "partition_date"
    )
    present = _storage_listing(spark, sf_dir).select("path", F.lit(1).alias("present"))
    joined = join_small(refs, present, "path", "left")
    missing = F.col("present").isNull()
    return order_small(
        joined.groupBy(
            F.substring(F.col("partition_date").cast("string"), 1, 7).alias("month")
        )
        .agg(
            F.count("*").alias("n_referenced"),
            F.count(F.when(missing, 1)).alias("n_missing"),
            F.coalesce(F.sum(F.when(missing, F.col("file_size_bytes"))), F.lit(0))
            .cast("bigint")
            .alias("missing_bytes"),
        ),
        "month",
    )


@register(
    "q_partition_summary",
    oracle=with_fixtures(
        """
        SELECT partition_date,
               count(*)                                  AS n_files,
               CAST(sum(record_count) AS BIGINT)         AS total_records,
               CAST(sum(file_size_bytes) AS BIGINT)      AS total_bytes,
               CAST(min(sequence_number) AS BIGINT)      AS min_seq,
               CAST(max(sequence_number) AS BIGINT)      AS max_seq,
               CAST(max(snapshot_id) AS BIGINT)          AS last_snapshot_id
        FROM file_meta
        GROUP BY 1
        """,
        "file_meta",
    ),
    tags=("manifest", "metadata-table", "partitions"),
)
def q_partition_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `partitions` metadata table: per-partition file/row/byte rollup.

    Iceberg exposes SELECT * FROM tbl.partitions — file count, record
    count, byte total, sequence-number span, and last-writing snapshot
    per partition. That summary is what drives compaction targeting
    (q_compaction), small-file alerts, and partition-pruning estimates;
    the reference materializes the same rollup imperatively in its
    manifest scans (poc/utils/manifest_generator.py:79-126 entries).

    Scale: one map-side-combined aggregation over manifest entries —
    metadata scale (|files|, not data), output |partitions| rows.
    """
    fm = file_meta(spark, sf_dir)
    return fm.groupBy("partition_date").agg(
        F.count("*").alias("n_files"),
        F.sum("record_count").cast("bigint").alias("total_records"),
        F.sum("file_size_bytes").cast("bigint").alias("total_bytes"),
        F.min("sequence_number").cast("bigint").alias("min_seq"),
        F.max("sequence_number").cast("bigint").alias("max_seq"),
        F.max("snapshot_id").cast("bigint").alias("last_snapshot_id"),
    )
